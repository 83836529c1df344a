"""Local mirror of the driver's DuckDB-oracle comparison: row count,
column names, and an order-insensitive value comparison.

Normalization: columns sorted by name, Decimal -> float, datetimes ->
ISO strings, floats -> repr (exact — the declared surface is built to be
bit-identical), rows sorted.
"""

from __future__ import annotations

import datetime
import decimal
import math
from typing import Any

import duckdb

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


# The canonicalization gate is LIBRARY code (scripts/driver_sim.py needs
# it without the tests tree on the path); re-exported here so test-side
# imports keep working.
from nomad_event_streamer_spark.harness import driver_canonicalize  # noqa: E402,F401


def _norm_cell(v: Any) -> Any:
    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if hasattr(v, "isoformat"):  # pandas Timestamp
        return v.isoformat()
    return v


def normalize(columns: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def duckdb_fetch_arrow(
    con: duckdb.DuckDBPyConnection, sql: str
) -> tuple[list[str], list[tuple]]:
    """Fetch an oracle result the way the verification driver does: via
    Arrow.  This preserves the driver-visible types — DuckDB HUGEINT
    arrives as decimal128(38,0) (→ Decimal cells), not Python int as
    ``fetchall()`` would give — so type drift between an oracle and the
    Spark result fails HERE, before the driver sees it."""
    tbl = con.execute(sql).fetch_arrow_table()
    cols = tbl.column_names
    pycols = [c.to_pylist() for c in tbl.columns]
    rows = list(zip(*pycols)) if cols else []
    return cols, rows


def assert_same(a, b, names=("spark", "duckdb")) -> None:
    """Assert two ``(columns, rows)`` results are equal under the driver's
    normalization: same column names, same row count, same sorted
    normalized rows."""
    (a_cols, a_rows), (b_cols, b_rows) = a, b
    na, nb = names
    assert sorted(a_cols) == sorted(b_cols), (
        f"column mismatch: {na}={sorted(a_cols)} {nb}={sorted(b_cols)}"
    )
    assert len(a_rows) == len(b_rows), (
        f"row count mismatch: {na}={len(a_rows)} {nb}={len(b_rows)}"
    )
    w = max(len(na), len(nb))
    norm_a, norm_b = normalize(a_cols, a_rows), normalize(b_cols, b_rows)
    for i, (x, y) in enumerate(zip(norm_a, norm_b)):
        assert x == y, (
            f"value mismatch at sorted row {i}:\n  {na:<{w}}: {x}\n  {nb:<{w}}: {y}"
        )


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str):
    """Spark DataFrame vs DuckDB SQL; returns the Spark side as
    ``(columns, rows)`` for any further (referee) check."""
    result = (spark_df.columns, [tuple(r) for r in spark_df.collect()])
    assert_same(result, duckdb_fetch_arrow(con, sql))
    return result
