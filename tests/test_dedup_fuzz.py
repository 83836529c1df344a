"""Pinned configurations of the dedup fuzz family
(scripts/fuzz_families/dedup.py): the minhash-LSH pipeline must match
its parameterized DuckDB twin away from the registered (n=3, K=16, r=2)
literals — different shingle sizes, hash counts, band groupings, and
the skew cap.  The full 100-config sweep runs as
``python scripts/fuzz.py dedup``.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))

from fuzz_families import dedup  # noqa: E402

from .oracle_compare import duckdb_connection, duckdb_fetch_arrow  # noqa: E402


@pytest.fixture(scope="module")
def duck():
    con = duckdb_connection(dedup.SF)
    yield con
    con.close()


@pytest.mark.parametrize(
    "n,num_hashes,rpb,max_bucket",
    [
        (2, 8, 1, None),   # bigram shingles, 8 bands of 1 row
        (4, 24, 3, None),  # 4-gram shingles, 8 bands of 3 rows
        (3, 12, 4, 8),     # 3 bands of 4 rows + tight skew cap
    ],
)
def test_config_matches_duckdb(duck, spark, n, num_hashes, rpb, max_bucket):
    s = dedup.spark_pairs(spark, n, num_hashes, rpb, max_bucket)
    sql = dedup.oracle_sql(n, num_hashes, rpb, max_bucket)
    d = {tuple(r) for r in duckdb_fetch_arrow(duck, sql)[1]}
    assert s == d, (
        f"n={n} K={num_hashes} r={rpb} cap={max_bucket}: "
        f"spark_only={sorted(s - d)[:5]} duck_only={sorted(d - s)[:5]}"
    )
