"""``tables``: the schema cache behind ``load``, and the rule that every
read of a testdata table goes through it.

``load`` reads with a schema inferred once per file identity and
schema-shaping confs, because an inferring parquet read runs a Spark job
to read the footer on every call.  These tests pin that a repeated load
starts no job and reads exactly what an inferring read does, that a
rewritten file or a changed conf infers again, and (by AST) that no plan
module reads ``{sf_dir}/<table>.parquet`` around the cache.
"""

from __future__ import annotations

import ast
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import BinaryType, StringType

from nomad_event_streamer_spark.tables import (
    TABLE_NAMES,
    canonicalize_events_ts,
    load,
)

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "nomad_event_streamer_spark",
)


def _jobs_during(spark, fn):
    """``fn()``'s result and the ids of the Spark jobs it started."""
    sc = spark.sparkContext
    group = f"test-tables-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "test_tables")
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # The status tracker is fed by the asynchronous listener bus.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, list(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_second_load_starts_no_job_and_reads_as_inferred(spark, sf_dir, name):
    load(spark, sf_dir, name)
    df, jobs = _jobs_during(spark, lambda: load(spark, sf_dir, name))
    assert jobs == []

    # Positive control: the inferring read this replaces does start a job.
    ref, ref_jobs = _jobs_during(
        spark, lambda: spark.read.parquet(f"{sf_dir}/{name}.parquet")
    )
    assert ref_jobs
    if name == "events":
        ref = canonicalize_events_ts(ref)
    assert df.schema == ref.schema
    assert _rows(df) == _rows(ref)


def test_rewritten_table_loads_with_new_schema(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load(spark, str(tmp_path), "t").columns == ["a"]

    pq.write_table(pa.table({"a": [3], "b": ["x"], "c": [1.5]}), path)
    df = load(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b", "c"]
    assert [tuple(r) for r in df.collect()] == [(3, "x", 1.5)]


def test_schema_conf_change_infers_again(spark, tmp_path):
    blob = pa.array([b"ab"], pa.binary())
    pq.write_table(pa.table({"blob": blob}), tmp_path / "b.parquet")
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key, None)
    try:
        spark.conf.unset(key)
        assert load(spark, str(tmp_path), "b").schema["blob"].dataType == BinaryType()
        spark.conf.set(key, "true")
        df = load(spark, str(tmp_path), "b")
        assert df.schema["blob"].dataType == StringType()
        assert [tuple(r) for r in df.collect()] == [("ab",)]
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


# ---------------------------------------------------------------------------
# Regrowth guard: a read of ``{sf_dir}/<table>.parquet`` outside tables.py
# bypasses the schema cache and runs a footer job on every call.
# ---------------------------------------------------------------------------


def _is_table_path(node: ast.AST, aliases: set[str]) -> bool:
    """An ``f"{sf_dir}/....parquet"`` path, or a local name bound to one."""
    if isinstance(node, ast.Name):
        return node.id in aliases
    if isinstance(node, ast.JoinedStr):
        uses_sf_dir = any(
            isinstance(v, ast.FormattedValue)
            and isinstance(v.value, ast.Name)
            and v.value.id == "sf_dir"
            for v in node.values
        )
        last = node.values[-1] if node.values else None
        return (
            uses_sf_dir
            and isinstance(last, ast.Constant)
            and str(last.value).endswith(".parquet")
        )
    return False


def _reads_through_reader(call: ast.Call) -> bool:
    """``<x>.read[...].parquet(...)``: a batch reader chain ending in
    ``parquet``, options or a schema in between included."""
    func = call.func
    if not (isinstance(func, ast.Attribute) and func.attr == "parquet"):
        return False
    node = func.value
    while True:
        if isinstance(node, ast.Attribute):
            if node.attr == "read":
                return True
            node = node.value
        elif isinstance(node, ast.Call):
            node = node.func
        else:
            return False


def _table_reads(tree: ast.AST) -> list[int]:
    """Line numbers of reader calls on a table path in ``tree``; a name
    counts as a table path inside the function that binds it to one."""
    found = set()
    functions = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
    for scope in [tree, *functions]:
        aliases = set() if scope is tree else {
            t.id
            for n in ast.walk(scope)
            if isinstance(n, ast.Assign) and _is_table_path(n.value, set())
            for t in n.targets
            if isinstance(t, ast.Name)
        }
        found.update(
            n.lineno
            for n in ast.walk(scope)
            if isinstance(n, ast.Call)
            and _reads_through_reader(n)
            and n.args
            and _is_table_path(n.args[0], aliases)
        )
    return sorted(found)


def test_guard_catches_a_table_read():
    src = '''
def q(spark, sf_dir):
    a = spark.read.parquet(f"{sf_dir}/events.parquet")
    p = f"{sf_dir}/documents.parquet"
    b = spark.read.option("x", "y").parquet(p)
    c = sess.read.parquet(f"{sf_dir}/{name}.parquet")
    ok = spark.read.parquet(f"{work}/b0")
    ok2 = spark.readStream.schema(s).parquet(f"{sf_dir}/events.parquet")


def other(spark):
    ok3 = spark.read.parquet(p)
'''
    assert _table_reads(ast.parse(src)) == [3, 5, 6]


def test_no_table_read_outside_tables_module():
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for fn in sorted(files):
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG)
            if not fn.endswith(".py") or rel == "tables.py":
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), filename=path)
            offenders += [f"{rel}:{line}" for line in _table_reads(tree)]
    assert offenders == [], (
        "read testdata tables through tables.load / tables.schema, which "
        f"cache the inferred schema: {offenders}"
    )
