"""Pinned seeds of the asof fuzz family (scripts/fuzz_families/asof.py):
the as-of device must agree with DuckDB's native ASOF JOIN on a few
seeds covering backward, forward, and tolerance shapes.  The full
100-seed sweep runs as ``python scripts/fuzz.py asof``.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))

import fuzz  # noqa: E402
from fuzz_families import asof  # noqa: E402

from .oracle_compare import compare, duckdb_connection  # noqa: E402

CASES = dict(fuzz.Run(asof).cases(range(5)))


@pytest.fixture(scope="module")
def duck():
    con = duckdb_connection(asof.SF)
    yield con
    con.close()


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
def test_seed_matches_duckdb_native_asof(duck, spark, seed):
    df, sql = asof.render(spark, CASES[seed])
    _, rows = compare(df, duck, sql)
    assert len(rows) > 0


def test_seeds_cover_both_directions_and_tolerance():
    seen = {(c["direction"], c["tolerance_us"] is not None) for c in CASES.values()}
    # the pinned smoke seeds must exercise more than one shape
    assert len(seen) >= 2
