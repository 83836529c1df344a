"""Differential fuzz for the round-11 trend/sequence battery:
q_runs_test + q_mk_trend + q_cochran_armitage over synthesized event
streams — THREE independent implementations per seed (the rankcdf family's
pattern):

1. the REAL registered queries against a synthesized events table,
2. the registered DuckDB oracles over the SAME parquet,
3. a pure-Python referee (collections.Counter + textbook runs/S/CA
   sufficient statistics — shares no engine code).

Input families, cycled per seed:
- clumped: events piled into bursts of consecutive hours (long runs,
  heavy count ties — the regime the runs test and MK tie-correction
  exist for);
- uniform: spread timestamps (many distinct hourly counts);
- constant: every hour the same count (all-tie: the runs test must
  emit the 0-observation row in BOTH engines, MK var18 hits the tie
  ceiling);
- tiny: 0-2 events total (empty series / single-hour edges);
- skewed_conv: purchase fraction trending across day-of-week (the CA
  alternative hypothesis) or all/none converted (the z² NULL guards).

A seed passes iff, for every query, Spark == DuckDB (driver
normalization) and Spark matches the referee on the integer statistics.

Run: python scripts/fuzz.py trend [n_seeds] [out.json]
"""

from __future__ import annotations

import random
from collections import Counter

SF = "/root/testdata/sf0.001"
SEED_BASE = 9900
SLUGS = ("q_runs_test", "q_mk_trend", "q_cochran_armitage")
KINDS = ["clumped", "uniform", "constant", "tiny", "skewed_conv"]
HOUR_US = 3_600_000_000
DAY_US = 86_400_000_000


# ---------------------------------------------------------------------------
# referee
# ---------------------------------------------------------------------------


def ref_runs(ts_us: list[int]) -> dict:
    h = Counter(t // HOUR_US for t in ts_us)
    xs = sorted(h.values())
    n_h = len(xs)
    if n_h == 0:
        return {"n_obs": 0, "n_above": 0, "n_below": 0, "n_runs": 0,
                "expected_runs_milli": None}
    med = xs[max((n_h + 1) // 2, 1) - 1]
    series = [h[hr] for hr in sorted(h)]
    sgn = [1 if x > med else 0 for x in series if x != med]
    n = len(sgn)
    if n == 0:
        return {"n_obs": 0, "n_above": 0, "n_below": 0, "n_runs": 0,
                "expected_runs_milli": None}
    runs = 1 + sum(1 for a, b in zip(sgn, sgn[1:]) if a != b)
    n1 = sum(sgn)
    n2 = n - n1
    return {
        "n_obs": n, "n_above": n1, "n_below": n2, "n_runs": runs,
        "expected_runs_milli": (n + 2 * n1 * n2) * 1000 // n,
    }


def ref_mk(ts_us: list[int]) -> dict:
    h = Counter(t // HOUR_US for t in ts_us)
    series = [h[hr] for hr in sorted(h)]
    n = len(series)
    s = 0
    for i in range(n):
        for j in range(i + 1, n):
            s += (series[j] > series[i]) - (series[j] < series[i])
    ties = Counter(series)
    tie_term = sum(
        t * (t - 1) * (2 * t + 5) for t in ties.values() if t > 1
    )
    var18 = n * (n - 1) * (2 * n + 5) - tie_term
    # SQL semantics: with no (i < j) pair the engines' join yields zero
    # rows and sum() is NULL — model that, not the vacuous-sum 0
    return {"n": n, "s": s if n >= 2 else None, "var18": var18}


def ref_ca(ts_us: list[int], types: list[str]) -> dict:
    g: dict[int, list[int]] = {}
    for t, ty in zip(ts_us, types):
        dow = (t // DAY_US) % 7
        ni, ri = g.get(dow, [0, 0])
        g[dow] = [ni + 1, ri + (1 if ty == "purchase" else 0)]
    if not g:
        return {"n": None, "r": None, "stn": None, "strr": None,
                "st2n": None}
    n = sum(v[0] for v in g.values())
    r = sum(v[1] for v in g.values())
    stn = sum(t * v[0] for t, v in g.items())
    strr = sum(t * v[1] for t, v in g.items())
    st2n = sum(t * t * v[0] for t, v in g.items())
    return {"n": n, "r": r, "stn": stn, "strr": strr, "st2n": st2n}


# ---------------------------------------------------------------------------
# input synthesis
# ---------------------------------------------------------------------------

TYPES = ["purchase", "signup", "click", "view", "error"]
BASE_US = 1_700_000_000_000_000  # a fixed epoch anchor


def synth(rng: random.Random, family: str) -> tuple[list[int], list[str]]:
    if family == "tiny":
        n = rng.choice([0, 1, 2])
    else:
        n = rng.randint(50, 600)
    ts: list[int] = []
    if family == "clumped":
        hr = 0
        while len(ts) < n:
            burst = rng.randint(1, 30)
            for _ in range(min(burst, n - len(ts))):
                ts.append(BASE_US + hr * HOUR_US + rng.randint(0, HOUR_US - 1))
            hr += rng.randint(1, 5)
    elif family == "constant":
        per = rng.randint(1, 5)
        hrs = max(1, n // per)
        for h in range(hrs):
            for _ in range(per):
                ts.append(BASE_US + h * HOUR_US + rng.randint(0, HOUR_US - 1))
        n = len(ts)
    else:
        span = rng.randint(1, 40) * HOUR_US
        ts = [BASE_US + rng.randint(0, span) for _ in range(n)]
    if family == "skewed_conv":
        mode = rng.choice(["trend", "all", "none"])
        types = []
        for t in ts:
            dow = (t // DAY_US) % 7
            if mode == "all":
                types.append("purchase")
            elif mode == "none":
                types.append("click")
            else:
                types.append(
                    "purchase" if rng.random() < 0.1 + 0.1 * dow else
                    rng.choice(TYPES[1:])
                )
    else:
        types = [rng.choice(TYPES) for _ in ts]
    return ts, types


REF = {"q_runs_test": ref_runs, "q_mk_trend": ref_mk}


def case(rng, seed):
    kind = KINDS[seed % len(KINDS)]
    ts_us, types = synth(rng, kind)
    return {"kind": kind, "n": len(ts_us), "_ts_us": ts_us, "_types": types}


def events_table(run, ts_us: list[int], types: list[str]):
    import pandas as pd

    n = len(ts_us)
    ev = run.template("events", n)
    if n:
        ts_dtype = ev["ts"].dtype
        ev["ts"] = pd.to_datetime(pd.array(ts_us, dtype="int64"), unit="us")
        ev["ts"] = ev["ts"].astype(ts_dtype)
        ev["event_type"] = types
        ev["event_id"] = range(1, n + 1)
    return ev


def check(run, c):
    from nomad_event_streamer_spark.plans import ORACLES, QUERIES

    ts_us, types = c["_ts_us"], c["_types"]
    sf_dir, con = run.synth(events=events_table(run, ts_us, types))
    for slug in SLUGS:
        c["slug"] = slug
        cols, rows = run.compare(QUERIES[slug](run.spark, sf_dir), ORACLES[slug], con)
        if rows:
            row = dict(zip(cols, rows[0]))
            ref = REF[slug](ts_us) if slug in REF else ref_ca(ts_us, types)
            run.agree(referee=ref, spark={k: row.get(k) for k in ref})
    del c["slug"]
    return {"kind": c["kind"]}
