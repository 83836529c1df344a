"""Differential fuzz for the sliding-TTL streaming dedup state machine
(`streaming/ttl_dedup.py`) across its knob space — THREE independent
implementations per seed:

1. the REAL Structured Streaming pipeline (applyInPandasWithState over
   the 3-file micro-batch replay, `plans.streaming_queries._ttl_pipeline`)
   at a randomized (ttl, arrival spacing),
2. the parameterized DuckDB gaps-and-islands oracle
   (`_ttl_dedup_oracle(ttl, spacing)`),
3. a pure-Python referee: md5-minhash band-0 buckets + a per-bucket
   sliding-lease scan (shares no engine code and uses plain integer
   comparison — no division at all).

The registered q_stream_dedup_ttl pins ONE (ttl=100 min, spacing=60 s)
point; this sweep exercises leases from shorter-than-every-gap (all
keepers) through mid-range (mixed verdicts, bursts straddling batch
cuts) to longer-than-every-gap (one burst per bucket) — the regimes
where an off-by-one in the lease comparison or a state-carry bug at a
batch boundary changes verdicts.

Each seed costs one bounded streaming run (~3-6 s).

Run: python scripts/fuzz.py ttl [n_seeds] [out.json]
"""

from __future__ import annotations

import hashlib

SF = "/root/testdata/sf0.001"
SEED_BASE = 0


def py_referee(texts: dict, ttl_us: int, spacing_us: int) -> dict:
    from nomad_event_streamer_spark.operators.dedup import (
        MINHASH_P,
        minhash_params,
    )

    params = minhash_params(16)[:2]
    buckets: dict[int, str] = {}
    for doc_id, t in texts.items():
        toks = t.split(" ")
        sh = {" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))}
        hbs = [
            int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % MINHASH_P
            for s in sh
        ]
        mins = [min((a * h + b) % MINHASH_P for h in hbs) for a, b in params]
        buckets[doc_id] = hashlib.md5(
            "|".join(str(m) for m in mins).encode()
        ).hexdigest()
    by_bucket: dict[str, list[int]] = {}
    for doc_id in sorted(texts):
        by_bucket.setdefault(buckets[doc_id], []).append(doc_id)
    out = {}
    for bucket, ids in by_bucket.items():
        last_ts, keeper = None, None
        for doc_id in ids:
            ts = doc_id * spacing_us
            if keeper is not None and ts - last_ts <= ttl_us:
                is_dup = 1
            else:
                is_dup = 0
                keeper = doc_id
            last_ts = ts
            out[doc_id] = (bucket, is_dup, keeper)
    return out


def setup(run):
    from nomad_event_streamer_spark.tables import load

    return {
        r["doc_id"]: r["text"]
        for r in load(run.spark, SF, "documents").select("doc_id", "text").collect()
    }


def case(rng, seed):
    spacing_us = rng.choice([1_000_000, 30_000_000, 60_000_000, 300_000_000])
    # lease from 2 spacings (shorter than the min same-bucket gap,
    # all keepers) up to the full stream span (one burst per bucket)
    ttl_us = spacing_us * rng.choice([2, 10, 30, 80, 200, 600, 2000])
    return {"ttl_us": ttl_us, "spacing_us": spacing_us}


def check(run, c):
    from nomad_event_streamer_spark.plans.streaming_queries import (
        _ttl_dedup_oracle,
        _ttl_pipeline,
    )

    ttl_us, spacing_us = c["ttl_us"], c["spacing_us"]
    sdf = _ttl_pipeline(run.spark, SF, ttl_us, spacing_us)
    cols, rows = run.compare(sdf, _ttl_dedup_oracle(ttl_us, spacing_us))
    got = {
        r["doc_id"]: (r["bucket"], r["is_dup"], r["keeper_doc"])
        for r in (dict(zip(cols, row)) for row in rows)
    }
    expect = py_referee(run.state, ttl_us, spacing_us)
    run.agree(referee=expect, spark={d: got.get(d) for d in expect})
    n_dups = sum(v[1] for v in expect.values())
    if n_dups == 0:
        return {"regime": "all_keepers"}
    if n_dups >= len(expect) - len({v[0] for v in expect.values()}):
        return {"regime": "one_burst"}
    return {"regime": "mixed"}
