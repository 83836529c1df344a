"""Pinned scenarios of the stream_late fuzz family
(scripts/fuzz_families/stream_late.py, VERDICT r06 item #6): the
watermark-protocol fuzzer's expected-side replay must reproduce Spark's
actual streaming output for a handful of seeds, including a B=2
(no-drop) and an empty-batch shape.  The full 100-seed sweep runs as
``python scripts/fuzz.py stream_late``; this keeps the family itself
from regressing silently.
"""

from __future__ import annotations

import random
import shutil
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))

from fuzz_families import stream_late  # noqa: E402


@pytest.fixture(scope="module")
def harness():
    return stream_late


@pytest.fixture(scope="module")
def rows(harness, spark):
    return harness._load_events(spark)


def _run_seed(harness, spark, rows, seed: int, n_batches: int, delay_min: int):
    rng = random.Random(seed)
    assignment = {e: rng.randrange(n_batches) for e, _u, _t in rows}
    d = harness._write_batches(spark, rows, assignment, n_batches)
    try:
        exp = harness._expected(rows, assignment, n_batches, delay_min * 60_000_000)
        act = harness._actual(spark, d, delay_min * 60_000_000)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert exp == act, f"seed {seed}: protocol replay diverged"
    return exp


def test_three_batches_matches(harness, spark, rows):
    exp = _run_seed(harness, spark, rows, seed=1, n_batches=3, delay_min=10)
    assert exp, "expected at least one emitted window"


def test_two_batches_no_drops(harness, spark, rows):
    # B=2: batches 0 and 1 are never filtered, so the only protocol in
    # play is the append emission boundary.
    _run_seed(harness, spark, rows, seed=2, n_batches=2, delay_min=10)


def test_empty_middle_batch(harness, spark, rows):
    # all rows in batches 0 and 2; batch 1 is a schema-only file — the
    # watermark must carry through the empty batch unchanged.
    assignment = {e: (0 if e % 2 == 0 else 2) for e, _u, _t in rows}
    d = harness._write_batches(spark, rows, assignment, 3)
    try:
        exp = harness._expected(rows, assignment, 3, 600_000_000)
        act = harness._actual(spark, d, 600_000_000)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert exp == act
