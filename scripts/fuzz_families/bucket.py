"""Differential fuzz for the token-bucket rate-limiter recurrence
(`plans/analytics_queries.q_token_bucket`) across its knob space —
THREE independent implementations per seed:

1. the REAL Spark pipeline (`_tb_replay`: window rank + JVM
   higher-order aggregate recurrence) at randomized (capacity, refill
   divisor, rank cap),
2. the parameterized DuckDB bounded-rank unrolled oracle
   (`_token_bucket_oracle(cap, cost, div, maxk)`),
3. a pure-python referee (no engine code: sort, scan, min/compare).

The registered query pins ONE (3 tokens, 1/day, k<=100) point; this
sweep exercises leases from never-denying (huge capacity / fast refill)
through mixed verdicts to starvation (tiny capacity, slow refill) — the
regimes where an off-by-one in the refill truncation, the capacity
clamp, or the rank cap changes verdicts.

Run: python scripts/fuzz.py bucket [n_seeds] [out.json]
"""

from __future__ import annotations

from collections import defaultdict

SF = "/root/testdata/sf0.001"
SEQUENTIAL_SEED = 0xB0C1

CAPS = [1, 2, 3, 5, 8]  # tokens
DIVS = [900, 3600, 21_600, 86_400, 259_200, 1_000_000_000]
MAXKS = [3, 7, 20, 50, 100]
COST = 1_000_000


def py_referee(events, cap, cost, div, maxk):
    per_user = defaultdict(list)
    for uid, ts, eid in sorted(events, key=lambda t: (t[0], t[1], t[2])):
        per_user[uid].append(ts)
    out = {}
    for uid, tss in per_user.items():
        tok, na, nd, prev = cap, 0, 0, None
        for ts in tss[:maxk]:
            if prev is not None:
                tok = min(cap, tok + (ts - prev) // div)
            if tok >= cost:
                tok -= cost
                na += 1
            else:
                nd += 1
            prev = ts
        out[uid] = (na, nd, tok)
    return out


def setup(run):
    from nomad_event_streamer_spark.tables import events

    return [
        (r["user_id"], r["ts_us"], r["event_id"])
        for r in events(run.spark, SF).select("user_id", "ts_us", "event_id").collect()
    ]


def case(rng, seed):
    return {
        "cap_tokens": rng.choice(CAPS),
        "div": rng.choice(DIVS),
        "maxk": rng.choice(MAXKS),
    }


def check(run, c):
    from nomad_event_streamer_spark.plans.analytics_queries import (
        _tb_replay,
        _token_bucket_oracle,
    )

    knobs = dict(cap=c["cap_tokens"] * 1_000_000, cost=COST, div=c["div"], maxk=c["maxk"])
    ref = py_referee(run.state, **knobs)
    spark_rows = {
        r["user_id"]: (r["n_allowed"], r["n_denied"], r["tokens_final"])
        for r in _tb_replay(run.spark, SF, **knobs).collect()
    }
    duck_rows = {
        int(u): (int(a), int(d), int(t))
        for u, a, d, t in run.duck(_token_bucket_oracle(**knobs))
    }
    run.agree(referee=ref, spark=spark_rows, duckdb=duck_rows)
    allowed = sum(v[0] for v in ref.values())
    denied = sum(v[1] for v in ref.values())
    if denied == 0:
        return {"regime": "all_allowed"}
    return {"regime": "starved" if allowed <= len(ref) * 2 else "mixed"}
