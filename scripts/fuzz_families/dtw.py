"""Differential fuzz for the banded-DTW dataflow across its knob space
(profile length n, band half-width w) — THREE independent
implementations per seed (the ttl family's pattern):

1. the REAL Spark pipeline (`plans.timeseries_queries._dtw_replay`),
2. the parameterized anti-diagonal DuckDB oracle (`_dtw_oracle(n, w)`),
3. a pure-Python referee: pandas profile build + textbook banded DP
   (shares no engine code).

The registered q_dtw_band pins ONE (n=24, w=3) point; the sweep
exercises tight bands (w=1, near-diagonal alignment), wide bands
(w >= n, effectively unbanded), and short/long profiles — the regimes
where a band-boundary off-by-one or a wrong INF sentinel at the DP
edges changes costs.

Run: python scripts/fuzz.py dtw [n_seeds] [out.json]
"""

from __future__ import annotations

import pandas as pd

SF = "/root/testdata/sf0.001"
SEQUENTIAL_SEED = 0xD7B


def py_referee(n: int, w: int) -> dict[int, int]:
    ev = pd.read_parquet(f"{SF}/events.parquet")
    dt = str(ev["ts"].dtype)
    if dt == "datetime64[us]":
        ev["ts_us"] = ev["ts"].astype("int64")
    else:
        ev["ts_us"] = (
            ev["ts"].astype("datetime64[ns]").astype("int64") // 1000
        )
    ev["i"] = (ev["ts_us"] // 3_600_000_000) % n + 1
    prof = {
        int(uid): g.groupby("i").size().to_dict()
        for uid, g in ev.groupby("user_id")
    }
    nu = len(prof)
    tot = ev.groupby("i").size().to_dict()
    b = [0] * (n + 1)
    for j in range(1, n + 1):
        b[j] = int(tot.get(j, 0)) // nu
    inf = 1 << 40
    out = {}
    for uid, hist in prof.items():
        a = [0] * (n + 1)
        for i, c in hist.items():
            a[int(i)] = int(c)
        d = [[inf] * (n + 1) for _ in range(n + 1)]
        for i in range(1, n + 1):
            for j in range(max(1, i - w), min(n, i + w) + 1):
                c = abs(a[i] - b[j])
                if i == 1 and j == 1:
                    d[i][j] = c
                else:
                    d[i][j] = c + min(
                        d[i - 1][j],
                        d[i][j - 1],
                        d[i - 1][j - 1] if i > 1 and j > 1 else inf,
                    )
        out[uid] = d[n][n]
    return out


def case(rng, seed):
    # widened knob space (VERDICT r09 item #7): longer profiles and
    # a uniform band arm so every (boundary, interior) band regime
    # appears, not just the curated set
    n = rng.choice([4, 6, 8, 12, 16, 20, 24, 24, 32, 40])
    w = rng.choice([1, 2, 3, 3, 5, 8, n, rng.randint(1, n + 4)])
    return {"n": n, "w": w}


def check(run, c):
    from nomad_event_streamer_spark.plans.timeseries_queries import (
        _dtw_oracle,
        _dtw_replay,
    )

    n, w = c["n"], c["w"]
    spark_rows = {
        r["user_id"]: r["dtw_cost"] for r in _dtw_replay(run.spark, SF, n=n, w=w).collect()
    }
    duck_rows = {r[0]: r[1] for r in run.duck(_dtw_oracle(n=n, w=w))}
    run.agree(referee=py_referee(n, w), spark=spark_rows, duckdb=duck_rows)
