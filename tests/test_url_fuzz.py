"""The url fuzz family (scripts/fuzz_families/url.py): the three-way
URL-canonicalization differential (Spark Column pipeline vs DuckDB SQL
rendering vs a urllib-based Python referee).  The full 200-seed sweep
runs as ``python scripts/fuzz.py url``; this keeps the family — and the
empty-kept-params coalesce fix it discovered — from regressing.
"""

from __future__ import annotations

import random
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))

import fuzz  # noqa: E402
from fuzz_families import url  # noqa: E402


def _url(seed: int) -> str:
    return url.gen_url(random.Random(url.SEED_BASE + seed))


def test_generator_hits_the_empty_kept_branch():
    # the grammar must keep producing URLs whose surviving-param set is
    # empty — the branch where DuckDB's array_to_string([]) NULL
    # divergence hid until this fuzzer ran
    empties = sum(1 for s in range(60) if url.py_canon(_url(s))["n_params_kept"] == 0)
    assert empties >= 5


def test_referee_rules_are_idempotent():
    for s in range(30):
        c = url.py_canon(_url(s))["canon_url"]
        assert url.py_canon(c)["canon_url"] == c


def test_small_sweep_matches_three_ways(spark):
    # a pinned prefix of the seed space, on the session-scoped fixture
    run = fuzz.Run(url, spark)
    try:
        summary = run.go(range(25))
    finally:
        run.close()
    assert summary["n_fail"] == 0, summary["failures"]
