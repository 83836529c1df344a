"""Frequency sketches: distributed Misra-Gries heavy hitters.

The scale problem: "which items occur in more than phi of a 100 TB
stream?" A plain ``GROUP BY item HAVING count > phi*N`` shuffles EVERY
distinct item — at 1e9+ distinct keys that is the dominant shuffle and
the hash-aggregate spills.  The sketch route is the classic two-phase
exact algorithm:

1. **Candidate generation** — each partition maintains a Misra-Gries
   summary of at most ``k`` counters (bounded memory regardless of key
   cardinality).  Per-partition summaries merge by counter addition
   followed by subtracting the (k+1)-th largest count and dropping
   non-positive counters (the mergeable-summaries construction of
   Agarwal, Cormode, Huang, Phillips, Wei, Yi, PODS'12) — so the union
   of all partitions is itself an MG summary with total undercount
   ≤ N/(k+1).  Any item with true frequency > N/(k+1) therefore
   survives: **no false negatives** whenever ``phi >= 1/(k+1)``.
2. **Exact verification** — the ≤ k-per-partition candidate set is tiny,
   so it broadcasts; a broadcast LEFT SEMI join filters the stream to
   candidate rows only (non-candidates never shuffle), and an exact
   count + HAVING produces the exact heavy-hitter set with exact counts.

Two passes over the data, O(k) memory per task, one shuffle carrying
only candidate-key rows — against one full-cardinality shuffle for the
naive plan.  Output is exact, so the DuckDB oracle is the plain
GROUP BY/HAVING.

No reference analog (the reference streams events, it never aggregates
frequencies); EXT coverage for the training-data-pipeline mandate
(heavy hitters = stopword/boilerplate discovery over token streams).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def misra_gries_summaries(df: DataFrame, col: str, k: int) -> DataFrame:
    """Per-partition Misra-Gries summaries: ≤ ``k`` rows ``(item, est)``
    per input partition, where ``est`` undercounts the partition-local
    frequency by at most (partition rows)/(k+1).

    Arrow-batched: each batch folds in via ``value_counts`` (vectorized)
    followed by one sorted-subtract compaction — O(batch + k log k), not
    O(rows) dict churn per element.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for pdf in batches:
            for item, c in pdf[col].value_counts().items():
                counters[item] = counters.get(item, 0) + int(c)
            if len(counters) > k:
                # Mergeable-summaries compaction: subtract the (k+1)-th
                # largest count from every counter, keep strictly
                # positive — the result is an MG summary of everything
                # folded so far, with ≤ k counters.
                sub = sorted(counters.values(), reverse=True)[k]
                counters = {
                    i: c - sub for i, c in counters.items() if c > sub
                }
        yield pd.DataFrame(
            {"item": list(counters), "est": list(counters.values())},
            columns=["item", "est"],
        )

    return df.select(F.col(col).cast("string").alias(col)).mapInPandas(
        summarize, "item string, est long"
    )


def heavy_hitters(
    df: DataFrame, col: str, phi: float, k: int
) -> DataFrame:
    """Exact items with frequency > ``phi`` of all rows, found via the
    sketch-then-verify plan above.  Requires ``phi >= 1/(k+1)`` so the
    candidate set provably contains every true heavy hitter.

    Returns ``(item, cnt, frac)`` with exact counts; ``frac`` is the
    single-division double cnt/N (cross-engine deterministic).
    """
    if phi * (k + 1) < 1.0:
        raise ValueError(
            f"phi={phi} needs k >= {1.0 / phi - 1:.0f} counters for the "
            "no-false-negative guarantee"
        )
    candidates = (
        misra_gries_summaries(df, col, k)
        .groupBy("item")
        .agg(F.sum("est").alias("est"))
        .select(F.col("item").alias("_hh_cand"))
    )
    total = df.agg(F.count(F.lit(1)).alias("_total"))
    return (
        df.select(F.col(col).cast("string").alias("_hh_item"))
        .join(
            F.broadcast(candidates),
            F.col("_hh_item") == F.col("_hh_cand"),
            "left_semi",
        )
        .groupBy("_hh_item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .where(F.col("cnt") > F.lit(phi) * F.col("_total"))
        .select(
            F.col("_hh_item").alias("item"),
            F.col("cnt"),
            (
                F.col("cnt").cast("double") / F.col("_total").cast("double")
            ).alias("frac"),
        )
    )


def int_bit_length(col):
    """Bit length of a NON-NEGATIVE integer column (0 → 0), via the
    engine's minimal binary string rendering — ``length(conv(x,10,2))``
    in Spark, ``length(bin(x))`` in DuckDB, both unpadded, so the two
    engines agree bit-for-bit.  ~10× faster than a powers-of-two array
    filter (measured on hll_registers: 60 s → 3.3 s at the ×10 probe)
    and exact where float log2 is not.  The zero case is explicit
    because both engines render 0 as '0' (length 1, not 0)."""
    return F.when(col == 0, F.lit(0)).otherwise(
        F.length(F.conv(col, 10, 2))
    )


def hll_registers(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    p: int = 8,
) -> DataFrame:
    """HyperLogLog register table from relational primitives — the
    integer-exact, cross-engine-verifiable sketch core.

    Per (key, bucket): ``max_rho`` = max over values of the 1-based
    position of the leftmost set bit in the hash remainder.  The hash is
    the md5-prefix 60-bit integer (the repo's standard replayable hash),
    ``bucket`` its low ``p`` bits, and rho is computed with pure integer
    comparisons (count of powers of two ≤ w) — no float log2, so every
    engine produces bit-identical registers.  The float HLL estimate is
    a deterministic function of this table (alpha·m²/Σ2^-rho); keeping
    the sketch in register form is also what makes it MERGEABLE: union
    = element-wise max, so rollups over any key subset never re-touch
    the fact table (same property Spark's native hll_union_agg exploits,
    but with verifiable internals).

    Scale: one hash aggregation keyed by (key, bucket) — cardinality
    ≤ |keys|·2^p rows of three integers; partial max is map-side
    combinable, so the shuffle carries register rows, not values.
    """
    m = 1 << p
    w_width = 60 - p
    h = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    tagged = df.select(
        *key_cols,
        F.pmod(h, F.lit(m)).alias("bucket"),
        # h >= 0, so >> p == div by m with no float detour (60-bit h
        # exceeds double's 53-bit mantissa — true int ops only)
        F.shiftright(h, p).alias("_w"),
    )
    rho = (
        F.lit(w_width) - int_bit_length(F.col("_w")) + F.lit(1)
    ).cast("long")
    return (
        tagged.withColumn("_rho", rho)
        .groupBy(*key_cols, "bucket")
        .agg(F.max("_rho").alias("max_rho"))
    )


def hll_registers_oracle_sql(
    select_sql: str, key_cols: list[str], value_expr: str, p: int = 8
) -> str:
    """DuckDB replay of ``hll_registers`` over ``select_sql`` (which must
    expose ``key_cols`` and ``value_expr``)."""
    m = 1 << p
    w_width = 60 - p
    keys = ", ".join(key_cols)
    return f"""
    WITH src AS ({select_sql}),
    hashed AS (
        SELECT {keys},
               CAST(concat('0x', substring(md5(CAST({value_expr} AS VARCHAR)),
                                           1, 15)) AS BIGINT) AS h
        FROM src
    ),
    split AS (
        SELECT {keys}, h % {m} AS bucket, h >> {p} AS w FROM hashed
    ),
    rho AS (
        SELECT {keys}, bucket,
               {w_width} - (CASE WHEN w = 0 THEN 0
                                 ELSE length(bin(w)) END) + 1 AS rho
        FROM split
    )
    SELECT {keys}, bucket, CAST(max(rho) AS BIGINT) AS max_rho
    FROM rho GROUP BY {keys}, bucket
    """


def bloom_positions(keys: DataFrame, hashes: DataFrame, m: int) -> DataFrame:
    """The bits an ``m``-bit Bloom filter sets for each ``key``: one
    ``(key, bit)`` row per hash function ``j`` of the broadcast
    ``hashes`` frame, bit = the first 15 hex digits of md5('b<j>:<key>')
    mod ``m``.  md5, conv and mod only, so DuckDB derives the same bits."""
    bit = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("b"),
                        F.col("j").cast("string"),
                        F.lit(":"),
                        F.col("key").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % m
    )
    return keys.crossJoin(F.broadcast(hashes)).select("key", bit.alias("bit"))


def hash_bucket_prefilter(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    m: int = 4096,
    seeds: tuple[int, ...] = (41, 97),
) -> DataFrame:
    """Runtime-filter (bloom-style) join pruning, composed from relational
    primitives: the build side's keys collapse to ≤ ``m`` DISTINCT hash
    buckets per seed (a fixed-size summary regardless of build
    cardinality — the property that makes this a *bloom* filter rather
    than a broadcast of the key set), each bucket set broadcasts, and the
    probe side is LEFT SEMI pre-filtered before the real join.  With k
    seeds a probe row survives only if ALL k of its bucket hashes collide
    with build rows — false positives fall ~(fill ratio)^k, false
    negatives are impossible, so the downstream exact join is unchanged
    (layout/strategy-invariant results; the oracle is the plain join).

    This is what Spark's own runtime row-level filters
    (``spark.sql.optimizer.runtime.bloomFilter``) inject for selective
    shuffle joins; composing it manually keeps it visible, tunable, and
    usable where the injected rule declines (thresholds, DSv2 sources).
    At 100 TB the win is shuffling only pre-filtered probe rows."""
    pruned = probe
    for seed in seeds:
        buckets = build.select(
            F.pmod(
                F.xxhash64(F.col(build_key), F.lit(seed)), F.lit(m)
            ).alias("_bkt")
        ).distinct()
        pruned = pruned.join(
            F.broadcast(buckets),
            F.pmod(F.xxhash64(F.col(probe_key), F.lit(seed)), F.lit(m))
            == F.col("_bkt"),
            "left_semi",
        )
    return pruned
