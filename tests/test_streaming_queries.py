"""The declared streaming queries' shared machinery
(``plans/streaming_queries.py``): the one scratch root their directories
live under, and the sliding-TTL dedup's lease boundary."""

from __future__ import annotations

import inspect
import os
import subprocess
import sys
import tempfile

import pytest

from nomad_event_streamer_spark.plans import streaming_queries as sq

from .oracle_compare import compare, duckdb_connection


def test_directories_are_made_under_one_root(tmp_path, spark, sf_dir, monkeypatch):
    """Every directory the streaming queries make sits under one
    per-process root, and the lazy reads that q_statestore_read and
    q_stream_foreachbatch_upsert return still resolve after the call.
    Between them the three queries reach every ``_scratch_dir`` caller."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    monkeypatch.setattr(sq, "_ROOT", None)
    monkeypatch.setattr(sq, "_STREAM_DIRS", {})
    monkeypatch.setattr(sq, "_BATCH_DIRS", {})

    outs = [
        sq.q_statestore_read(spark, sf_dir),
        sq.q_stream_foreachbatch_upsert(spark, sf_dir),
        sq.q_stream_nomad_pipeline(spark, sf_dir),
    ]
    assert os.listdir(tmp) == [os.path.basename(sq._ROOT)]
    assert len(os.listdir(sq._ROOT)) >= 6
    assert all(out.count() > 0 for out in outs)
    # the module makes temp dirs nowhere but in _scratch_dir
    mkdtemps = inspect.getsource(sq).count("tempfile.mkdtemp(")
    assert mkdtemps == inspect.getsource(sq._scratch_dir).count("tempfile.mkdtemp(") == 2


def test_root_is_removed_at_exit(tmp_path):
    code = (
        "from nomad_event_streamer_spark.plans import streaming_queries as sq\n"
        "print(sq._scratch_dir('x'))"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    made = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True, check=True
    ).stdout.strip()
    assert os.path.dirname(os.path.dirname(made)) == str(tmp_path)
    assert os.listdir(tmp_path) == []


# Two documents 4 apart in doc_id share a band-0 bucket at sf0.001.
GAP = 4


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb_connection(sf_dir)
    yield con
    con.close()


def test_ttl_lease_ends_exactly_at_a_real_gap(spark, sf_dir, duck):
    """A lease of exactly GAP arrivals: the second document of a
    same-bucket pair GAP apart arrives on the lease's last instant, so
    it is a duplicate (``<=``); a ``<`` in the state machine makes it a
    keeper and fails the oracle match."""
    spacing = 60_000_000
    ttl = GAP * spacing
    cols, rows = compare(
        sq._ttl_pipeline(spark, sf_dir, ttl, spacing),
        duck,
        sq._ttl_dedup_oracle(ttl, spacing),
    )
    verdicts = [dict(zip(cols, r)) for r in rows]
    arrivals: dict[str, list[int]] = {}
    for v in sorted(verdicts, key=lambda v: v["doc_id"]):
        arrivals.setdefault(v["bucket"], []).append(v["doc_id"])
    on_boundary = {
        doc
        for docs in arrivals.values()
        for prev, doc in zip(docs, docs[1:])
        if doc - prev == GAP
    }
    assert on_boundary
    assert all(v["is_dup"] == 1 for v in verdicts if v["doc_id"] in on_boundary)
