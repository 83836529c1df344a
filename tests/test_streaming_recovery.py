"""Checkpoint recovery: the at-least-once upgrade over the reference.

The reference loses events across restarts (in-memory state, fresh
starting_index on boot — app.rb:63-72) and never retries webhooks
(at-most-once).  Our pipeline checkpoints source offsets and sink state:
stopping a query mid-stream and restarting the SAME query from its
checkpoint must deliver every input row to the file sink exactly once.
"""

from __future__ import annotations

import os
import uuid

import pyspark.sql.functions as F


def test_restart_from_checkpoint_no_loss_no_dup(spark, sf_dir, tmp_path):
    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type"
    )
    n_total = events.count()

    # two input files so the stream has two discrete units of work
    src = str(tmp_path / "src")
    half = events.where(F.col("event_id") % 2 == 0)
    other = events.where(F.col("event_id") % 2 == 1)
    half.coalesce(1).write.parquet(os.path.join(src, "a"))
    other.coalesce(1).write.parquet(os.path.join(src, "b"))
    in_dir = str(tmp_path / "in")
    os.mkdir(in_dir)
    for sub in ["a", "b"]:
        for f in os.listdir(os.path.join(src, sub)):
            if f.endswith(".parquet"):
                os.symlink(
                    os.path.join(src, sub, f),
                    os.path.join(in_dir, f"{sub}_{f}"),
                )

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "cp")

    def start():
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        return (
            stream.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .queryName(f"rec_{uuid.uuid4().hex[:8]}")
            .start()
        )

    # run until the FIRST micro-batch commits, then stop mid-stream
    import time

    q = start()
    while q.lastProgress is None or q.lastProgress["numInputRows"] == 0:
        time.sleep(0.1)
    q.stop()
    q.awaitTermination()
    first = spark.read.parquet(out_dir).count()
    assert 0 < first <= n_total

    # restart from the same checkpoint: the remaining file(s) are
    # processed; nothing is replayed into the sink
    q2 = start()
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination()

    final = spark.read.parquet(out_dir).select("event_id")
    assert final.count() == n_total  # no loss
    assert final.distinct().count() == n_total  # no duplicates
