"""Streaming tests (SURVEY.md section 5.2 item 4): end-to-end
micro-batch runs with file sources, watermark dedup, the exact-REF
stateful dedup across batches, and the webhook sink fan-out."""

from __future__ import annotations

import json
import os
import time
import uuid

import pyspark.sql.functions as F

from nomad_event_streamer_spark.sources.synthetic import (
    BASE_NS,
    allocation,
    envelope,
    sample_stream,
    task_event,
)
from nomad_event_streamer_spark.streaming.dedup_state import dedup_stream
from nomad_event_streamer_spark.streaming.runner import (
    build_stream,
    read_ndjson_stream,
    start_webhook_query,
)
from nomad_event_streamer_spark.streaming.watchdog import HeartbeatWatchdog, supervise


def test_webhook_pipeline_end_to_end(tmp_path, spark):
    """File stream -> pipeline -> watermark dedup -> foreachBatch fan-out
    to discord+slack parquet transports; duplicate envelopes delivered
    once (app.rb:162-167 staleness semantics, relaxed form)."""
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    lines = sample_stream(6)
    (input_dir / "a.ndjson").write_text("\n".join(lines) + "\n")
    # second file repeats the first three envelopes: dropDuplicatesWithinWatermark
    # must suppress them
    (input_dir / "b.ndjson").write_text("\n".join(lines[:3]) + "\n")

    stream = read_ndjson_stream(spark, str(input_dir))
    deduped = build_stream(stream)
    q = start_webhook_query(
        deduped,
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_dir=str(tmp_path / "out"),
    )
    q.awaitTermination(120)

    discord = spark.read.parquet(str(tmp_path / "out" / "discord"))
    slack = spark.read.parquet(str(tmp_path / "out" / "slack"))
    assert discord.count() == slack.count() > 0

    # exactly-once per (task_identifier, event_time_ns) despite the replayed file
    dupes = (
        discord.groupBy("task_identifier", "event_time_ns")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dupes == 0

    # payload shape: discord embeds with color, slack attachments with hex color
    d_payload = json.loads(discord.limit(1).collect()[0]["payload"])
    assert "content" in d_payload and "embeds" in d_payload
    s_rows = slack.where(F.col("payload").contains("#e74c3c")).count()
    assert s_rows > 0, "slack failure color must appear"
    # slack bold rewrite: no '**' remains (app.rb:245)
    assert slack.where(F.col("payload").contains("**")).count() == 0


def test_file_batch_lists_its_files_on_the_driver(tmp_path, spark):
    """A micro-batch over many new files lists them on the driver:
    ``FileStreamSource.getBatch`` re-lists the batch's files, one root
    path each, and above the session's listing threshold that listing is
    a Spark job with one task per file.  No stage of the batch may have
    a task per file, and each file's event arrives exactly once."""
    n_files = 40
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    times = [BASE_NS + i * 1_000_000_000 for i in range(n_files)]
    for i, t in enumerate(times):
        alloc = allocation("default", "job", "node", {f"task{i}": [task_event("Started", t)]})
        line = json.dumps(envelope(i + 1, [alloc]), separators=(",", ":"))
        (input_dir / f"{i:03d}.ndjson").write_text(line + "\n")

    delivered: dict[str, list[int]] = {}

    def record(payloads, destination):
        rows = payloads.select("event_time_ns").collect()
        delivered.setdefault(destination, []).extend(r.event_time_ns for r in rows)

    q = start_webhook_query(
        build_stream(read_ndjson_stream(spark, str(input_dir))),
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
        transport=record,
    )
    q.awaitTermination(120)
    assert q.exception() is None
    # one batch named all the files
    assert [p["numInputRows"] for p in q.recentProgress if p["numInputRows"]] == [n_files]

    tracker = spark.sparkContext.statusTracker()
    stage_tasks = [
        stage.numTasks
        for job_id in tracker.getJobIdsForGroup(str(q.runId))
        for stage_id in tracker.getJobInfo(job_id).stageIds
        if (stage := tracker.getStageInfo(stage_id)) is not None
    ]
    assert stage_tasks, "the batch's jobs must run under the query's run id"
    assert max(stage_tasks) < n_files, stage_tasks
    assert {d: sorted(ts) for d, ts in delivered.items()} == {
        "discord": times,
        "slack": times,
    }


def test_exact_state_dedup_across_batches(tmp_path, spark):
    """REF high-water-mark semantics (app.rb:145-167,271-273) across two
    micro-batches: intra-batch out-of-order passes against the OLD mark;
    next batch drops everything at-or-below the advanced mark."""
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    # batch 1: ts 100 then 50 — both beat the initial mark (0); the mark
    # advances to 100 only after the batch.
    rows_b1 = [(1, 101, 100), (1, 102, 50)]
    # batch 2: 80 <= 100 dropped; 120 passes.
    rows_b2 = [(1, 103, 80), (1, 104, 120)]
    schema = "user_id long, event_id long, ts_us long"
    spark.createDataFrame(rows_b1, schema).coalesce(1).write.mode("overwrite").parquet(
        str(input_dir / "f1.parquet")
    )

    name = f"dedup_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(input_dir) + "/*/")
    )
    out = dedup_stream(stream.groupBy("user_id"), initial_hwm_us=0)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline:
            got = {r.event_id for r in spark.table(name).collect()}
            if got >= {101, 102}:
                break
            time.sleep(0.5)
        assert {r.event_id for r in spark.table(name).collect()} == {101, 102}

        spark.createDataFrame(rows_b2, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(input_dir / "f2.parquet"))
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline:
            got = {r.event_id for r in spark.table(name).collect()}
            if 104 in got:
                break
            time.sleep(0.5)
        got = {r.event_id for r in spark.table(name).collect()}
        assert 104 in got, "fresh event must pass the advanced mark"
        assert 103 not in got, "stale event (80 <= hwm 100) must be dropped"
    finally:
        q.stop()


def test_watchdog_stall_detection():
    """app.rb:87-104 semantics: no progress past the threshold -> stop +
    exit 1; progress resets the clock."""
    wd = HeartbeatWatchdog(threshold_seconds=0.2)
    assert not wd.stalled()
    time.sleep(0.3)
    assert wd.stalled()
    wd.onQueryProgress(None)
    assert not wd.stalled()

    class FakeQuery:
        isActive = True
        stopped = False

        def stop(self):
            self.stopped = True
            self.isActive = False

    time.sleep(0.3)
    fq = FakeQuery()
    assert supervise(None, fq, wd, poll_seconds=0.05) == 1
    assert fq.stopped


def test_supervise_reports_failed_query():
    """A query that stopped on its own reads as a clean exit only if it
    has no exception: a batch that raised (e.g. an HTTP 500 from a
    webhook) must surface as exit 1, not 0."""
    wd = HeartbeatWatchdog(threshold_seconds=60)

    class StoppedQuery:
        isActive = False

        def __init__(self, error):
            self.error = error

        def exception(self):
            return self.error

    assert supervise(None, StoppedQuery(None), wd, poll_seconds=0.05) == 0
    assert supervise(None, StoppedQuery(RuntimeError("HTTP 500")), wd, poll_seconds=0.05) == 1
