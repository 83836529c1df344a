"""Differential fuzz for the rank/CDF battery (VERDICT r10 item #9):
q_mann_whitney_ks + q_wasserstein1 across random TIE STRUCTURES and the
degenerate inputs the fixed sf fixtures never produce — THREE
independent implementations per seed (the curation family's pattern):

1. the REAL registered queries, run against a synthesized events table
   (the bucketed-prefix-sum device, DECIMAL(38,0) accumulators),
2. the registered DuckDB oracles over the SAME parquet,
3. a pure-Python referee (collections.Counter + explicit midrank /
   CDF arithmetic — shares no engine code and no SQL text).

Input families, cycled per seed:
- heavy ties: values drawn from a domain of 1..50 distinct cents, so
  midrank tie groups and the Σ(t³−t) correction dominate;
- spread: wide domains with gaps (exercises the W1 inter-value GAP
  weight and the bucket-seam next-value join at negative/positive
  bucket boundaries — values may be negative);
- one-variant: every user_id even (n1 = 0 — division corner: both
  engines must agree on the 0/0.0 → NaN and x/0.0 → Inf emissions);
- tiny: 0, 1, or 2 rows (empty-domain edge: exactly ONE output row
  with NULL aggregates in BOTH engines — the oracle's aggregate-CTE
  shape, not a GROUP BY that would emit zero rows);
- nulls: a NULL-value fraction (NULL cents group like SQL in both).

A seed passes iff, for both queries, Spark == DuckDB (driver
normalization) and Spark matches the referee on its integer statistics.

Run: python scripts/fuzz.py rankcdf [n_seeds] [out.json]
"""

from __future__ import annotations

import math
import random
from collections import Counter

SF = "/root/testdata/sf0.001"
SEED_BASE = 8800
SLUGS = ("q_mann_whitney_ks", "q_wasserstein1")
KINDS = ["ties", "spread", "one_variant", "tiny", "nulls"]
REFEREE_KEYS = {
    "q_mann_whitney_ks": ("n0", "n1", "u2_0", "u2_1", "tie_sum", "d_num"),
    "q_wasserstein1": ("n0", "n1", "w1_num"),
}


# ---------------------------------------------------------------------------
# referee: textbook midrank U / KS D / W1 over exact integers
# ---------------------------------------------------------------------------


def _cents(v: float) -> int:
    return math.floor(v * 100.0 + 0.5)


def referee(users: list[int], values: list[float | None]) -> dict:
    pairs = [
        (u % 2, _cents(v)) for u, v in zip(users, values) if v is not None
    ]
    c0 = Counter(c for v, c in pairs if v == 0)
    c1 = Counter(c for v, c in pairs if v == 1)
    n0, n1 = sum(c0.values()), sum(c1.values())
    dom = sorted(set(c0) | set(c1))
    if not dom:
        return {
            "n0": None, "n1": None, "u2_0": None, "u2_1": None,
            "tie_sum": None, "d_num": None, "w1_num": None,
        }
    r2_0 = tie_sum = 0
    cum = cum0 = cum1 = 0
    d_num = 0
    w1_num = 0
    prev_c = None
    prev_cum0 = prev_cum1 = 0
    for c in dom:
        a, b = c0.get(c, 0), c1.get(c, 0)
        cnt = a + b
        # doubled midrank of the tie group = 2*(cum+1) + cnt - 1
        r2_0 += a * (2 * (cum + 1) + cnt - 1)
        tie_sum += cnt**3 - cnt
        if prev_c is not None:
            w1_num += abs(prev_cum0 * n1 - prev_cum1 * n0) * (c - prev_c)
        cum += cnt
        cum0 += a
        cum1 += b
        d_num = max(d_num, abs(cum0 * n1 - cum1 * n0))
        prev_c, prev_cum0, prev_cum1 = c, cum0, cum1
    u2_0 = r2_0 - n0 * (n0 + 1)
    return {
        "n0": n0, "n1": n1, "u2_0": u2_0, "u2_1": 2 * n0 * n1 - u2_0,
        "tie_sum": tie_sum, "d_num": d_num,
        "w1_num": w1_num if len(dom) > 1 else None,
    }


# ---------------------------------------------------------------------------
# input synthesis
# ---------------------------------------------------------------------------


def synth(rng: random.Random, family: str) -> tuple[list[int], list]:
    if family == "tiny":
        n = rng.choice([0, 1, 2])
    else:
        n = rng.randint(20, 400)
    users = [rng.randint(0, 40) for _ in range(n)]
    if family == "one_variant":
        users = [u * 2 for u in users]
    if family == "ties":
        domain = [
            round(rng.uniform(-20.0, 20.0), 2)
            for _ in range(rng.randint(1, 50))
        ]
        values = [rng.choice(domain) for _ in range(n)]
    elif family == "spread":
        values = [round(rng.uniform(-5e4, 5e4), 2) for _ in range(n)]
    else:  # tiny / one_variant / nulls share a modest domain
        values = [round(rng.uniform(-100.0, 100.0), 2) for _ in range(n)]
    if family == "nulls":
        values = [None if rng.random() < 0.3 else v for v in values]
    return users, values


def case(rng, seed):
    kind = KINDS[seed % len(KINDS)]
    users, values = synth(rng, kind)
    return {"kind": kind, "n": len(users), "_users": users, "_values": values}


def events_table(run, users: list[int], values: list):
    import pandas as pd

    n = len(users)
    ev = run.template("events", n)
    ev["user_id"] = pd.array(users, dtype=ev["user_id"].dtype if n else "int64")
    ev["value"] = pd.array(values, dtype="float64")
    return ev


def check(run, c):
    from nomad_event_streamer_spark.plans import ORACLES, QUERIES

    users, values = c["_users"], c["_values"]
    sf_dir, con = run.synth(events=events_table(run, users, values))
    ref = referee(users, values)
    for slug in SLUGS:
        c["slug"] = slug
        cols, rows = run.compare(QUERIES[slug](run.spark, sf_dir), ORACLES[slug], con)
        if rows:
            row = dict(zip(cols, rows[0]))
            keys = REFEREE_KEYS[slug]
            run.agree(
                referee={k: ref[k] for k in keys}, spark={k: row.get(k) for k in keys}
            )
    del c["slug"]
    return {"kind": c["kind"]}
