"""Distributed global ordering — total ranks without a single-task window.

A partitionless ``Window.orderBy(...)`` funnels EVERY row through one
task; at 100 TB that task never finishes.  The scalable equivalent is
the classic distributed sort-rank (TeraSort-style):

1. bucket rows by a *monotone* function of the leading sort key
   (range buckets from ``approxQuantile`` boundaries, or a hash nibble
   when the key IS a hash) — each bucket holds a contiguous slice of
   the total order;
2. rank within each bucket with an ordinary partitioned window
   (parallel, one bucket per task set);
3. cumulative-sum the 16..64 bucket counts into start offsets — a
   driver-size table — and broadcast it back;
4. global rank = bucket offset + in-bucket rank.

Cross-bucket coupling is ``num_buckets`` numbers; every heavy stage is
partition-parallel.  This is the same trick ``q_pack_sequences`` uses
for its token prefix sum (plans/llm_ops.py), generalized.

"The row before / after me in the total order" needs no rank at all:
``global_neighbors`` takes ``lag``/``lead`` over the same bucket window
and patches each bucket's two ends from a table of the buckets' first
and last rows (again at most ``num_buckets`` rows, broadcast back) —
one window pass, no row number and no ``rn ± 1`` self-join.

Reference parity: the reference pipeline (app.rb) has no global-order
operator at all; this exists for the EXT LLM-pipeline surface
(deterministic dataset shuffling, global sequence numbers).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "range_bucket",
    "bitlen_subbucket",
    "global_row_number",
    "global_dense_rank",
    "global_neighbors",
    "quantile_boundaries",
]


def bitlen_subbucket(col: Column, sub_bits: int = 5) -> Column:
    """Monotone bucket id for a POSITIVE integer key, finer than plain
    ``length(bin(col))``.

    Bit-length bucketing alone is monotone but top-heavy: the largest
    bitlength bucket covers half the key space, so when keys are dense
    ranks (uniform over [1, C]) ONE bucket holds ~half the rows and its
    in-bucket window runs in a single task — the skew the bucketed-rank
    device exists to avoid (guide §2.5).  Refining each bitlength class
    by the key's top ``sub_bits + 1`` bits splits every class into
    ``2^sub_bits`` sub-buckets while staying globally monotone:

    - ``col < 2^(sub_bits+1)``: bucket = col (small dense values, one
      value per bucket — at most ``2^(sub_bits+1)`` buckets);
    - else bucket = bitlen * 2^(sub_bits+1) + (col >> (bitlen -
      sub_bits - 1)), where the shifted prefix lies in
      ``[2^sub_bits, 2^(sub_bits+1))``; within a bitlength class the
      prefix is monotone, and the class base term dominates across
      classes (max of class b = b*2^(s+1) + 2^(s+1) - 1 < (b+1)*2^(s+1)
      + 2^s = min of class b+1).

    Equal keys share a bucket (pure function of ``col``), so tie groups
    never split.  Total buckets ~ 32 * 2^sub_bits — still a driver-size
    offsets table."""
    s1 = sub_bits + 1
    b = F.length(F.bin(col))
    small = col < F.lit(1 << s1)
    # call_function: the python F.shiftright wrapper only takes an int
    # shift amount, but the SQL function accepts a column-valued one
    prefix = F.call_function("shiftright", col, (b - F.lit(s1)).cast("int"))
    return F.when(small, col).otherwise(b * F.lit(1 << s1) + prefix)


def range_bucket(
    col: Column, boundaries: list, nan_last: bool = False
) -> Column:
    """Monotone bucket id: number of boundaries strictly below ``col``.

    Equal key values always land in the same bucket (ties use ``>``
    consistently), so bucketing never splits a tie group across buckets
    and the in-bucket tiebreak columns stay authoritative.

    Pass ``nan_last=True`` for float sort keys: Spark orders NaN as the
    LARGEST double, but every ``NaN > b`` comparison is false, which
    would drop NaN rows into bucket 0 and corrupt their global rank —
    with the flag they route to the top bucket, matching the sort.
    """
    if not boundaries:
        base = F.lit(0)
    else:
        base = reduce(
            lambda acc, b: acc + F.when(col > F.lit(b), 1).otherwise(0),
            boundaries,
            F.lit(0),
        )
    if nan_last:
        base = F.when(F.isnan(col), F.lit(len(boundaries))).otherwise(base)
    return base


def global_row_number(
    df: DataFrame,
    order_exprs: list[Column],
    bucket: Column,
    out_col: str,
    bucket_desc: bool = False,
) -> DataFrame:
    """Append ``out_col`` = 1-based global row number of ``df`` under the
    total order ``order_exprs``, computed with bucketed prefix sums.

    ``bucket`` must be monotone w.r.t. the leading sort expression
    (non-decreasing for an ascending leading key; pass
    ``bucket_desc=True`` when the leading key is descending so offsets
    accumulate from the high buckets down).  ``order_exprs`` must be a
    total order (include a unique tiebreaker).

    The per-bucket counts deliberately come from a second pass over
    ``df`` (map-side-combined count, ~buckets rows shuffled), NOT from
    ``max(row_number)`` over the ranked side: the ranked form was tried
    in optimization round 13 (mirroring ``global_dense_rank``) and
    measured parity-to-worse (interleaved A/B: q_l_moments 1.21,
    q_window_global 1.09, q_pack_assign 0.91, q_mk_trend 0.96) — it
    reuses the window's exchange but re-runs the full SORT + window on
    the shuffle output, which loses whenever ``df`` is a cheap scan.
    ``global_dense_rank`` keeps the ranked-side form because its
    countDistinct alternative re-shuffles the FULL (possibly very wide)
    key columns with no partial aggregation — a different trade.
    """
    tagged = df.withColumn("__grp", bucket)
    w_in = Window.partitionBy("__grp").orderBy(*order_exprs)
    ranked = tagged.withColumn("__rn", F.row_number().over(w_in))

    counts = tagged.groupBy("__grp").agg(F.count(F.lit(1)).alias("__cnt"))
    grp_order = F.col("__grp").desc() if bucket_desc else F.col("__grp").asc()
    # The offset window runs over <= num_buckets rows — driver-scale.
    w_off = Window.orderBy(grp_order).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "__grp",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"),
    )
    return (
        ranked.join(F.broadcast(offsets), "__grp")
        .withColumn(out_col, (F.col("__off") + F.col("__rn")).cast("long"))
        .drop("__grp", "__rn", "__off")
    )


def global_dense_rank(
    df: DataFrame,
    key_cols: list[str],
    bucket: Column,
    out_col: str,
) -> DataFrame:
    """Append ``out_col`` = corpus-wide DENSE rank of ``key_cols``
    (ascending, nulls absent) without materializing the distinct class
    table and joining it back (the ``dense_rank_classes`` shape this
    replaces — optimization round 12): dense_rank within monotone
    buckets + per-bucket DISTINCT-class counts cumulated into offsets.

    ``bucket`` must be a monotone function of the leading key and a
    pure function of the keys (equal keys share a bucket), exactly the
    ``global_row_number`` contract.  Global dense rank = (number of
    distinct classes in lower buckets) + (dense rank within bucket) —
    equal keys agree on both terms, and ranks are dense because every
    class below contributes exactly 1.  One full-table window (bucket-
    partitioned, parallel) + one map-side-combined distinct count
    replaces distinct + window + token-scale join-back.

    Per-bucket class counts come from ``max(dense_rank)`` over the
    ranked output, not a separate ``countDistinct(*key_cols)`` branch
    (optimization round 13): the distinct-count branch re-shuffled the
    FULL key columns a second time — ruinous for wide keys like the
    suffix arrays — while max(__dr) aggregates one int per row and
    shares the ranked side's exchange.  It also counts a NULL key class
    exactly like dense_rank ranks it, closing the ADVICE r12 footgun
    where countDistinct silently skipped null keys and shifted every
    higher bucket's offsets."""
    tagged = df.withColumn("__grp", bucket)
    order = [F.col(c).asc() for c in key_cols]
    w_in = Window.partitionBy("__grp").orderBy(*order)
    ranked = tagged.withColumn("__dr", F.dense_rank().over(w_in))
    counts = ranked.groupBy("__grp").agg(F.max("__dr").alias("__cnt"))
    # offsets window over <= num_buckets rows — driver-scale
    w_off = Window.orderBy(F.col("__grp").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "__grp",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"),
    )
    return (
        ranked.join(F.broadcast(offsets), "__grp")
        .withColumn(out_col, (F.col("__off") + F.col("__dr")).cast("long"))
        .drop("__grp", "__dr", "__off")
    )


def global_neighbors(
    df: DataFrame,
    order_exprs: list[Column],
    bucket: Column,
    cols: list[str],
) -> DataFrame:
    """Append ``prev`` and ``next``: ``struct(cols)`` of the row just
    before / just after each row of ``df`` in the ASCENDING total order
    ``order_exprs``, NULL at the two ends of the order.  The struct
    itself is never NULL for a real neighbour, so a NULL ``prev``/``next``
    means "no neighbour" even when the carried values are NULL.

    Same contract as ``global_row_number``: ``bucket`` is non-decreasing
    in the leading sort key and ``order_exprs`` is a total order.
    Inside a bucket the neighbours are ``lag``/``lead`` over the
    bucket-partitioned window.  A bucket's first row takes the previous
    non-empty bucket's last row, and its last row the next non-empty
    bucket's first row; both come from a one-row-per-bucket table of
    the windowed output's ends, linked by a window over the bucket
    ids (driver-scale, like ``global_row_number``'s offsets) and
    broadcast back.  ``df`` must not already have ``prev``/``next``
    columns."""
    tagged = df.withColumn("__grp", bucket)
    w_in = Window.partitionBy("__grp").orderBy(*order_exprs)
    row = F.struct(*cols)
    nb = tagged.select(
        "*",
        F.lag(row).over(w_in).alias("__prev"),
        F.lead(row).over(w_in).alias("__next"),
    )
    # exactly one first row and one last row per non-empty bucket
    first = F.when(F.col("__prev").isNull(), row)
    last = F.when(F.col("__next").isNull(), row)
    ends = (
        nb.where(first.isNotNull() | last.isNotNull())
        .groupBy("__grp")
        .agg(
            F.first(first, ignorenulls=True).alias("__f"),
            F.first(last, ignorenulls=True).alias("__l"),
        )
    )
    # The link window runs over <= num_buckets rows — driver-scale.
    w_b = Window.orderBy(F.col("__grp").asc())
    links = ends.select(
        F.col("__grp").alias("__g"),
        F.lag("__l").over(w_b).alias("__pl"),
        F.lead("__f").over(w_b).alias("__nf"),
    )
    return nb.join(
        F.broadcast(links), F.col("__grp").eqNullSafe(F.col("__g"))
    ).select(
        *df.columns,
        F.coalesce("__prev", "__pl").alias("prev"),
        F.coalesce("__next", "__nf").alias("next"),
    )


def quantile_boundaries(
    df: DataFrame, col: str, num_buckets: int = 32
) -> list:
    """Range-bucket boundaries from approxQuantile (driver gets
    ``num_buckets - 1`` scalars).  Boundary accuracy affects only load
    balance, never rank correctness.

    NOTE: ``approxQuantile`` is an ACTION — callers pay one pass over
    ``df`` at plan-construction time (the classic distributed-sort
    sampling pass).  When the leading key is already a uniform hash,
    prefer a fixed monotone bucket (see q_dataset_shuffle's md5-nibble)
    and skip this pass entirely."""
    probs = [i / num_buckets for i in range(1, num_buckets)]
    bounds = df.stat.approxQuantile(col, probs, 0.001)
    return sorted(set(bounds))
