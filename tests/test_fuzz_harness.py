"""The fuzz harness (``scripts/fuzz.py``) in the fast tier:

- a fixed seed slice of every family: seeds 0, 1 and 2, fixed before
  any run and never to be swapped for passing ones (for a family drawn
  from one sequential RNG these are the full run's first three cases);
- the harness's own teeth: a stub family whose one side drops a row, or
  raises, must fail its seed, land in ``failures`` and exit non-zero;
- no script puts a hard-coded absolute path on ``sys.path``, so a script
  run from a copy of the repo imports that copy's package.
"""

from __future__ import annotations

import ast
import json
import sys
import types
from pathlib import Path

import pytest

SCRIPTS = Path(__file__).resolve().parents[1] / "scripts"
if str(SCRIPTS) not in sys.path:
    sys.path.insert(0, str(SCRIPTS))

import fuzz  # noqa: E402

SLICE_SEEDS = (0, 1, 2)


@pytest.fixture(scope="module")
def runs(spark):
    runs: dict = {}
    yield runs
    for run in runs.values():
        run.close()


@pytest.mark.parametrize(
    "name,seed",
    [(f, s) for f in fuzz.FAMILIES for s in SLICE_SEEDS],
    ids=[f"{f}-seed{s}" for f in fuzz.FAMILIES for s in SLICE_SEEDS],
)
def test_fuzz_seed_slice(name, seed, spark, runs):
    run = runs.setdefault(name, fuzz.Run(name, spark))
    summary = run.go([seed])
    assert summary["n_seeds"] == 1
    assert summary["n_fail"] == 0, summary["failures"]


# ---------------------------------------------------------------------------
# harness sensitivity: a stub family with a deliberately wrong side
# ---------------------------------------------------------------------------

ORACLE_SQL = "SELECT r_regionkey, r_name FROM region"


def _stub(fault_at: dict[int, str]):
    """A family whose Python side copies the DuckDB oracle, except at the
    given seeds: ``drop`` loses one row, ``raise`` throws."""

    def case(rng, seed):
        return {"fault": fault_at.get(seed), "draw": rng.random()}

    def check(run, c):
        cols, rows = fuzz.duckdb_fetch_arrow(run.con, ORACLE_SQL)
        mine = list(rows)
        if c["fault"] == "drop":
            mine = mine[1:]
        elif c["fault"] == "raise":
            raise RuntimeError("stub side crashed")
        elif c["fault"] == "bare_assert":  # a library's bare ``assert``
            raise AssertionError
        run.same((cols, rows), (cols, mine), ("duckdb", "stub"))
        return {"fault": c["fault"] or "none"}

    return types.SimpleNamespace(
        __name__="stub", SF="/root/testdata/sf0.001", SEED_BASE=0, case=case, check=check
    )


def test_harness_passes_a_correct_family(tmp_path):
    out = tmp_path / "stub.json"
    assert fuzz.fuzz_family(_stub({}), 3, str(out)) == 0
    summary = json.loads(out.read_text())
    assert (summary["n_seeds"], summary["n_fail"], summary["failures"]) == (3, 0, [])
    assert summary["by_fault"] == {"none": 3}


def test_harness_fails_a_dropped_row_and_an_exception(tmp_path):
    out = tmp_path / "stub.json"
    rc = fuzz.fuzz_family(_stub({1: "drop", 2: "raise", 3: "bare_assert"}), 5, str(out))
    assert rc == 1
    summary = json.loads(out.read_text())
    assert summary["n_seeds"] == 5
    assert summary["n_fail"] == 3
    by_seed = {f["seed"]: f for f in summary["failures"]}
    assert sorted(by_seed) == [1, 2, 3]
    assert by_seed[1]["kind"] == "mismatch"
    assert "row count mismatch: duckdb=5 stub=4" in by_seed[1]["error"]
    # an exception is a failure, not a skip; so is an assert that names
    # no difference, filed as an error rather than a mismatch
    assert by_seed[2]["kind"] == "error"
    assert "stub side crashed" in by_seed[2]["error"]
    assert by_seed[3]["kind"] == "error"
    assert summary["by_fault"] == {"none": 2}


def test_sequential_family_slice_is_the_runs_first_cases():
    stub = _stub({})
    del stub.SEED_BASE
    stub.SEQUENTIAL_SEED = 7
    draws = [c["draw"] for _, c in fuzz.Run(stub).cases(range(3))]
    assert [c["draw"] for _, c in fuzz.Run(stub).cases([2])] == draws[2:]
    assert draws != [c["draw"] for _, c in fuzz.Run(_stub({})).cases(range(3))]


# ---------------------------------------------------------------------------
# scripts import the package of the tree they live in
# ---------------------------------------------------------------------------


def _absolute_sys_path_entries(source: str) -> list[str]:
    """String literals that are absolute paths passed to
    ``sys.path.insert/append/extend``."""
    bad = []
    for node in ast.walk(ast.parse(source)):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("insert", "append", "extend")
            and isinstance(node.func.value, ast.Attribute)
            and node.func.value.attr == "path"
            and isinstance(node.func.value.value, ast.Name)
            and node.func.value.value.id == "sys"
        ):
            continue
        for arg in node.args:
            bad += [
                n.value
                for n in ast.walk(arg)
                if isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and n.value.startswith("/")
            ]
    return bad


def test_guard_flags_a_hard_coded_sys_path():
    assert _absolute_sys_path_entries('import sys\nsys.path.insert(0, "/srv/repo")\n') == [
        "/srv/repo"
    ]
    assert _absolute_sys_path_entries("import sys\nsys.path.append(['/a'][0])\n") == ["/a"]
    assert not _absolute_sys_path_entries(
        "import os, sys\nsys.path.insert(0, os.path.dirname(__file__))\n"
    )


def test_no_script_puts_an_absolute_path_on_sys_path():
    offenders = {
        str(p.relative_to(SCRIPTS)): found
        for p in sorted(SCRIPTS.rglob("*.py"))
        if (found := _absolute_sys_path_entries(p.read_text()))
    }
    assert not offenders, offenders
