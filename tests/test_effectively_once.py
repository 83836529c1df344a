"""Effectively-once delivery through ``start_webhook_query``: a batch-id
ledger inside the checkpoint and the per-batch overwrite transport make
a checkpoint-replayed batch harmless (strictly stronger than the
reference's at-most-once fire-and-forget POST,
app.rb:229-234,258-262)."""

import os
import shutil
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pyspark.sql.functions as F
import pytest

from nomad_event_streamer_spark.sources.synthetic import sample_stream
from nomad_event_streamer_spark.streaming.runner import (
    build_stream,
    read_ndjson_stream,
    start_webhook_query,
)
from nomad_event_streamer_spark.streaming.sinks import (
    batch_overwrite_transport,
    effectively_once,
    http_transport,
    webhook_foreach_batch,
)


def _dupes(out) -> int:
    return (
        out.groupBy("task_identifier", "event_time_ns")
        .count()
        .where(F.col("count") > 1)
        .count()
    )


def _input(tmp_path, envelopes: int) -> str:
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    (input_dir / "a.ndjson").write_text("\n".join(sample_stream(envelopes)) + "\n")
    return str(input_dir)


@pytest.fixture
def receiver():
    """A local webhook server: yields its URLs and the bodies POSTed to it."""
    posts = []

    class _Count(BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802 (http.server API)
            posts.append(self.rfile.read(int(self.headers["Content-Length"])))
            self.send_response(204)
            self.end_headers()

        def log_message(self, *args):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Count)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield {d: f"http://127.0.0.1:{srv.server_port}/{d}" for d in ("discord", "slack")}, posts
    srv.shutdown()
    srv.server_close()


def _files_and_posts(tmp_path, urls):
    """A transport that writes the batch's files and POSTs it."""
    files = batch_overwrite_transport(str(tmp_path / "out"))
    post = http_transport(urls)

    def send(frame, batch_id):
        files(frame, batch_id)
        post(frame, batch_id)

    return send


def _run(spark, input_dir, tmp_path, transport=None):
    q = start_webhook_query(
        build_stream(read_ndjson_stream(spark, input_dir)),
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_dir=str(tmp_path / "out"),
        transport=transport,
    )
    q.awaitTermination(120)  # raises if the query failed
    assert q.exception() is None
    return q


def _rows(spark, tmp_path):
    out = spark.read.parquet(str(tmp_path / "out"))
    return sorted(out.collect()), _dupes(out)


def test_ledger_skips_replayed_batch(tmp_path, spark):
    calls = []

    def body(batch, batch_id):
        calls.append(batch_id)

    wrapped = effectively_once(body, str(tmp_path / "ledger"))
    df = spark.range(3)
    wrapped(df, 7)
    wrapped(df, 7)  # replay: must be skipped
    wrapped(df, 8)
    assert calls == [7, 8]


def test_ledger_keeps_one_record(tmp_path, spark):
    """The ledger holds one record however many batches ran, and a
    replay of an older batch id is still skipped."""
    calls = []

    def body(batch, batch_id):
        calls.append(batch_id)

    ledger = tmp_path / "ledger"
    wrapped = effectively_once(body, str(ledger))
    df = spark.range(3)
    for batch_id in range(4):
        wrapped(df, batch_id)
    wrapped(df, 2)  # replay of a batch older than the newest
    assert calls == [0, 1, 2, 3]
    assert len(os.listdir(ledger)) == 1


def test_overwrite_transport_replay_no_duplicates(tmp_path, spark):
    """Delivering the same batch twice (crash between delivery and
    ledger write) rewrites the same files instead of appending."""
    classified = build_stream(read_ndjson_stream(spark, _input(tmp_path, 4)))
    process = webhook_foreach_batch(batch_overwrite_transport(str(tmp_path / "out")))
    q = (
        classified.writeStream.foreachBatch(
            lambda b, bid: (process(b, bid), process(b, bid))  # deliver twice
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() > 0 and _dupes(out) == 0


def test_end_to_end_restart_no_duplicates(tmp_path, spark):
    """The starter run twice over the same checkpoint (the second start
    is the recovery/no-new-data case): output stays duplicate-free."""
    input_dir = _input(tmp_path, 5)
    for _ in range(2):
        _run(spark, input_dir, tmp_path)

    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() > 0 and _dupes(out) == 0


@pytest.mark.parametrize("crashed", ["last_batch", "last_batch_with_rows"])
def test_replay_after_crash_before_commit_delivers_nothing(
    tmp_path, spark, receiver, crashed
):
    """A crash after a batch's ledger marker but before Spark's commit:
    the restart replays the batch from its offsets, skips its delivery
    (no file rewritten twice, no POST) and still runs it, so the dedup
    state commits.  A skip that returns without reading the batch fails
    the restart with STATE_STORE_COMMIT_VALIDATION_FAILED.

    ``last_batch`` drops the last commit, which is the no-data batch
    that advances the watermark; ``last_batch_with_rows`` crashes in the
    last batch that read input, so every later log entry goes too."""
    input_dir = _input(tmp_path, 6)
    urls, posts = receiver
    transport = _files_and_posts(tmp_path, urls)
    q = _run(spark, input_dir, tmp_path, transport)
    delivered = len(posts)
    rows, dupes = _rows(spark, tmp_path)
    assert delivered > 0 and rows and dupes == 0

    ckpt = tmp_path / "ckpt"
    last = max(p["batchId"] for p in q.recentProgress)
    n = last
    if crashed == "last_batch_with_rows":
        n = max(p["batchId"] for p in q.recentProgress if p["numInputRows"])
        assert n < last
    for b in range(n, last + 1):
        # batch n keeps its offsets: it was planned when the crash came
        for log in ["commits"] if b == n else ["commits", "offsets"]:
            os.remove(ckpt / log / str(b))
            os.remove(ckpt / log / f".{b}.crc")

    replay = _run(spark, input_dir, tmp_path, transport)
    assert replay.recentProgress[0]["batchId"] == n
    assert len(posts) == delivered
    assert _rows(spark, tmp_path) == (rows, 0)


def test_checkpoint_reset_delivers_again(tmp_path, spark, receiver):
    """The ledger lives in the checkpoint: deleting the checkpoint makes
    the restart a new query, and its batch is delivered again."""
    input_dir = _input(tmp_path, 6)
    urls, posts = receiver
    transport = _files_and_posts(tmp_path, urls)
    _run(spark, input_dir, tmp_path, transport)
    delivered = len(posts)
    assert delivered > 0
    assert os.listdir(tmp_path / "ckpt" / "delivered")

    shutil.rmtree(tmp_path / "ckpt")
    _run(spark, input_dir, tmp_path, transport)
    assert len(posts) == 2 * delivered
    assert sorted(posts[delivered:]) == sorted(posts[:delivered])
