"""Smoke coverage for the differential diff fuzz family
(scripts/fuzz_families/diff.py): a handful of seeds of every shape must
hash-match DuckDB at sf0.001.  The full 3,000-seed sweep runs as
``python scripts/fuzz.py diff``."""

from __future__ import annotations

import random
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))

from fuzz_families import diff  # noqa: E402

from .oracle_compare import compare, duckdb_connection  # noqa: E402


def _gen(seed: int) -> diff.Gen:
    return diff.Gen(random.Random(diff.SEED_BASE + seed))


@pytest.fixture(scope="module")
def con(sf_dir):
    con = duckdb_connection(sf_dir)
    yield con
    con.close()


@pytest.fixture(scope="module")
def pool(con):
    return diff.str_value_pool(con)


@pytest.mark.parametrize("seed", range(10))
def test_fuzz_seed_matches(seed, spark, sf_dir, con, pool):
    df, sql = _gen(seed).build(spark, sf_dir, pool)
    compare(df, con, sql)


def test_grammar_emits_every_shape():
    shapes = {_gen(s).shape for s in range(60)}
    assert shapes == {
        "project",
        "agg",
        "window",
        "setop",
        "rollup",
        "aggwindow",
        "subquery",
        "outeragg",
    }


def test_grammar_emits_every_table():
    tables = {_gen(s).table for s in range(60)}
    assert tables == {"events", "lineitem", "join", "join3", "fulljoin"}
