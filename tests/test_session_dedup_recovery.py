"""Checkpoint recovery for the STATEFUL session-window dedup
(q_stream_session_dedup's plan): stop the query after the first
micro-batch, restart from the same checkpoint, and the final session
table must equal the single-run result — the watermarked session state
(open sessions, per-bucket) survives the restart instead of resetting
like the reference's in-memory state (app.rb:63-72).
"""

from __future__ import annotations

import glob
import os
import shutil
import time
import uuid

import pyspark.sql.functions as F

from nomad_event_streamer_spark.operators import dedup

_BASE_US = 1_700_000_000_000_000


def _session_agg(spark, in_dir, schema):
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    banded = dedup.minhash_bands_rowlocal(
        stream.select("doc_id", "text"), n=3, num_hashes=16, rows_per_band=2
    )
    keyed = banded.select(
        "doc_id",
        F.element_at("bands", 1).getField("bucket").alias("bucket"),
        F.timestamp_micros(
            F.lit(_BASE_US) + F.col("doc_id") * F.lit(60_000_000)
        ).alias("ts"),
    ).withWatermark("ts", "10 minutes")
    return keyed.groupBy(F.session_window("ts", "5 minutes"), "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("keeper_doc"),
    )


def test_session_state_survives_restart(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    n_docs = docs.count()
    schema = docs.schema

    # two batch files ordered by mtime so the restart resumes mid-corpus
    work = str(tmp_path / "work")
    in_dir = str(tmp_path / "in")
    os.mkdir(in_dir)
    for i, half in enumerate(
        (docs.where(F.col("doc_id") % 2 == 0), docs.where(F.col("doc_id") % 2 == 1))
    ):
        half.coalesce(1).write.parquet(f"{work}/b{i}")
        part = glob.glob(f"{work}/b{i}/part-*.parquet")[0]
        dst = os.path.join(in_dir, f"{chr(97 + i)}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1000 + i, 1000 + i))

    ckpt = str(tmp_path / "cp")
    out_dir = str(tmp_path / "snap")

    def start():
        # complete-mode foreachBatch overwriting a parquet snapshot: the
        # last committed batch IS the current session table
        def sink(df, _bid):
            df.select(
                F.unix_micros(F.col("session_window.start")).alias("ws"),
                "bucket",
                "n_docs",
                "keeper_doc",
            ).write.mode("overwrite").parquet(out_dir)

        return (
            _session_agg(spark, in_dir, schema)
            .writeStream.foreachBatch(sink)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .queryName(f"sdrec_{uuid.uuid4().hex[:8]}")
            .start()
        )

    q = start()
    while q.lastProgress is None or q.lastProgress["numInputRows"] == 0:
        time.sleep(0.1)
    q.stop()
    q.awaitTermination()
    partial = spark.read.parquet(out_dir)
    n_partial = partial.agg(F.sum("n_docs")).collect()[0][0]
    assert 0 < n_partial <= n_docs

    q2 = start()
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination()

    final = spark.read.parquet(out_dir)
    # conservation: every document is in exactly one session
    assert final.agg(F.sum("n_docs")).collect()[0][0] == n_docs
    # equivalence with the registered single-run query
    from nomad_event_streamer_spark.plans import QUERIES

    expected = sorted(
        (r["session_start_us"], r["bucket"], r["n_docs"], r["keeper_doc"])
        for r in QUERIES["q_stream_session_dedup"](spark, sf_dir).collect()
    )
    got = sorted(
        (r["ws"], r["bucket"], r["n_docs"], r["keeper_doc"])
        for r in final.collect()
    )
    assert got == expected
