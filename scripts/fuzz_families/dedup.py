"""Parametric differential fuzz of the minhash-LSH dedup pipeline.

The registered dedup queries pin one configuration (3-token shingles,
K=16 hashes, 2 rows/band); their oracles inline those literals.  This
fuzzer sweeps the CONFIGURATION SPACE — shingle size n in 2..4, K in
{8, 12, 16, 24}, rows_per_band in the divisors of K (1, 2, 3, 4), and
the max_bucket skew cap on/off — rendering the full pipeline
(shingles → signatures → bands → candidate pairs) BOTH through the
engine's operators and through a parameterized DuckDB twin, and
hash-comparing the candidate pair sets.

What this catches that the fixed oracles cannot: off-by-ones in the
shingle window arithmetic at different n (the slice/zip bounds), band
grouping when rows_per_band does not divide evenly into seed ordering,
the universal-hash family at different K (parameter generation is a
shared LCG — a drift there shifts every signature), and the skew-cap
filter's bucket-size boundary.

Run: python scripts/fuzz.py dedup [n_seeds] [out.json]
"""

from __future__ import annotations

SF = "/root/testdata/sf0.01"
SEED_BASE = 0


def shingle_cte(n: int) -> str:
    """Distinct n-token shingles per doc — the parametric form of the
    fixed n=3 _SHINGLE_CTE (DuckDB list slicing is 1-based inclusive:
    toks[i:i+n-1] is n tokens starting at i; starts run 1..len-n+1)."""
    return f"""
    WITH sh AS (
        SELECT doc_id, unnest(list_distinct(
            [array_to_string(toks[i:i+{n - 1}], ' ')
             FOR i IN range(1, greatest(len(toks) - {n - 2}, 1))]
        )) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    )
    """


def oracle_sql(n: int, num_hashes: int, rows_per_band: int,
               max_bucket: int | None) -> str:
    from nomad_event_streamer_spark.operators import dedup

    seeds_values = ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(dedup.minhash_params(num_hashes))
    )
    cap = (
        f"HAVING count(*) BETWEEN 2 AND {max_bucket}"
        if max_bucket is not None
        else "HAVING count(*) >= 2"
    )
    return (
        shingle_cte(n)
        + f"""
    , based AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT)
                   % {dedup.MINHASH_P} AS hb
        FROM sh
    ),
    sig AS (
        SELECT doc_id, seed, min((a * hb + b) % {dedup.MINHASH_P}) AS mh
        FROM based CROSS JOIN (VALUES {seeds_values}) AS seeds(seed, a, b)
        GROUP BY doc_id, seed
    ),
    bands AS (
        SELECT doc_id, seed // {rows_per_band} AS band,
               md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed))
                   AS bucket
        FROM sig GROUP BY doc_id, seed // {rows_per_band}
    ),
    ok AS (
        SELECT band, bucket FROM bands GROUP BY band, bucket {cap}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN ok USING (band, bucket)
    JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                 AND a.doc_id < b.doc_id
    """
    )


def spark_pairs(spark, n, num_hashes, rows_per_band, max_bucket) -> set:
    from nomad_event_streamer_spark.operators import dedup
    from nomad_event_streamer_spark.tables import load

    sh = dedup.shingles(load(spark, SF, "documents"), n=n)
    sig = dedup.minhash_signatures(sh, num_hashes=num_hashes)
    bands = dedup.lsh_bands(sig, num_hashes=num_hashes, rows_per_band=rows_per_band)
    pairs = dedup.lsh_candidate_pairs(bands, max_bucket=max_bucket)
    return {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}


def case(rng, seed):
    n = rng.choice([2, 3, 3, 4])
    num_hashes = rng.choice([8, 12, 16, 24])
    rpb = rng.choice([r for r in (1, 2, 3, 4) if num_hashes % r == 0])
    max_bucket = rng.choice([None, None, 8, 32])
    return {"n": n, "num_hashes": num_hashes, "rows_per_band": rpb, "max_bucket": max_bucket}


def check(run, c):
    knobs = (c["n"], c["num_hashes"], c["rows_per_band"], c["max_bucket"])
    run.agree(
        spark=spark_pairs(run.spark, *knobs),
        duckdb={tuple(r) for r in run.duck(oracle_sql(*knobs))},
    )
