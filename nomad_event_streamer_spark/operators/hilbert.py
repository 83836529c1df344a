"""Hilbert-curve index for 2-D data clustering.

Z-order (``operators/zorder.py``) is the cheap multi-dimensional
clustering; the Hilbert curve is the better one: it has NO long jumps
(consecutive curve positions are always grid-adjacent), so equal-size
file cuts along the curve have strictly tighter per-file bounding boxes
than Morton cuts — fewer files overlap a 2-D range predicate, which is
the whole game for min/max-stat data skipping at 100 TB
(Faloutsos & Roseman 1989, "Fractals for secondary key retrieval").

The xy2d transform is the public-domain iterative algorithm (Wikipedia
"Hilbert curve", converted from the classic C): per bit level s =
2^(order-1)..1, read quadrant (rx, ry), add s²·((3·rx) XOR ry), rotate/
reflect the frame.  Implemented as ONE ``aggregate`` HOF fold over the
bit levels — a real fold, so the expression tree stays linear in the
order (a naive per-level Column rewrite doubles the tree each level),
and everything runs JVM-side in whole-stage codegen; the DuckDB oracle
unrolls the same arithmetic as 8 chained CTE rounds (the q_dtw_band
device).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def hilbert_expr(x_col: str, y_col: str, order: int = 8) -> Column:
    """Hilbert index of integer grid coords in [0, 2^order) as a single
    aggregate-HOF fold (see module docstring).  ``x_col``/``y_col`` are
    column NAMES of already-scaled BIGINT coords."""
    n1 = (1 << order) - 1
    return F.expr(
        f"""
        aggregate(
          sequence(0, {order - 1}),
          named_struct(
            'x', CAST({x_col} AS BIGINT),
            'y', CAST({y_col} AS BIGINT),
            'd', CAST(0 AS BIGINT)),
          (a, i) -> named_struct(
            'x', IF(((a.y & shiftleft(CAST(1 AS BIGINT), {order - 1} - i))
                      = 0),
                    IF((a.x & shiftleft(CAST(1 AS BIGINT), {order - 1} - i))
                        > 0 , {n1} - a.y, a.y),
                    a.x),
            'y', IF(((a.y & shiftleft(CAST(1 AS BIGINT), {order - 1} - i))
                      = 0),
                    IF((a.x & shiftleft(CAST(1 AS BIGINT), {order - 1} - i))
                        > 0, {n1} - a.x, a.x),
                    a.y),
            'd', a.d + shiftleft(CAST(1 AS BIGINT), {order - 1} - i)
                       * shiftleft(CAST(1 AS BIGINT), {order - 1} - i)
                       * (CASE WHEN (a.x & shiftleft(CAST(1 AS BIGINT),
                                                     {order - 1} - i)) > 0
                               THEN 3 ELSE 0 END
                          ^ CASE WHEN (a.y & shiftleft(CAST(1 AS BIGINT),
                                                       {order - 1} - i)) > 0
                                 THEN 1 ELSE 0 END)),
          a -> a.d)
        """
    )


def hilbert_oracle_rounds(
    base_cte: str, key_cols: str, order: int = 8
) -> str:
    """DuckDB CTE chain mirroring ``hilbert_expr``: ``base_cte`` must
    expose ``key_cols`` plus BIGINT coords x, y; returns rounds h_0..
    h_{order} where h_{order} carries (key_cols, d)."""
    n1 = (1 << order) - 1
    parts = [f"h_0 AS (SELECT {key_cols}, x, y, CAST(0 AS BIGINT) AS d "
             f"FROM {base_cte})"]
    for k in range(order):
        s = 1 << (order - 1 - k)
        parts.append(
            f"""h_{k + 1} AS MATERIALIZED (
        SELECT {key_cols},
               CASE WHEN (y & {s}) = 0
                    THEN CASE WHEN (x & {s}) > 0 THEN {n1} - y ELSE y END
                    ELSE x END AS x,
               CASE WHEN (y & {s}) = 0
                    THEN CASE WHEN (x & {s}) > 0 THEN {n1} - x ELSE x END
                    ELSE y END AS y,
               d + {s * s} * xor(
                   CASE WHEN (x & {s}) > 0 THEN 3 ELSE 0 END,
                   CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END) AS d
        FROM h_{k})"""
        )
    return ",\n    ".join(parts)


def write_hilbert_clustered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    lo_a: int,
    hi_a: int,
    lo_b: int,
    hi_b: int,
    order: int = 8,
    num_files: int = 8,
) -> None:
    """Range-cluster ``df`` by the Hilbert index of (col_a, col_b) and
    write ``num_files`` parquet files — per-file footer min/max of BOTH
    columns then bound a compact curve segment (tests assert the
    narrowing vs an unclustered layout)."""
    span = (1 << order) - 1

    def scale(c: str, lo: int, hi: int) -> str:
        if hi == lo:
            return "CAST(0 AS BIGINT)"
        return f"CAST(({c} - {lo}) AS BIGINT) * {span} div {hi - lo}"

    keyed = df.withColumn("hx", F.expr(scale(col_a, lo_a, hi_a))).withColumn(
        "hy", F.expr(scale(col_b, lo_b, hi_b))
    )
    clustered = (
        keyed.withColumn("__h", hilbert_expr("hx", "hy", order))
        .repartitionByRange(num_files, "__h")
        .sortWithinPartitions("__h")
        .drop("hx", "hy", "__h")
    )
    clustered.write.mode("overwrite").parquet(path)
