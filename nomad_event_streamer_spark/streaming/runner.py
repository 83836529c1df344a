"""Streaming runtime: wire the pipeline to sources, dedup, and sinks.

Replaces the reference's single-threaded ingest loop (app.rb:106-278)
with a checkpointed Structured Streaming query:

- source offsets replace the starting_index bookkeeping (app.rb:63-72);
- ``withWatermark`` + ``dropDuplicatesWithinWatermark`` replaces the
  in-memory per-key staleness filter (app.rb:145-167) — relaxed
  semantics; the bit-faithful variant is streaming.dedup_state.  Its
  state has one partition per core, each committing files every batch;
- ``foreachBatch`` fans out to the webhook sinks (app.rb:211-267),
  upgrading at-most-once to effectively-once per batch id: a ledger
  inside the checkpoint skips the delivery of a replayed batch, and the
  skip still runs the batch so its state commits.  Each micro-batch is
  one frame with a payload column per destination, read by one
  transport call (one dedup and state commit per batch), and
  ``sinks.http_transport`` collects it once and POSTs it from the driver.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..session import ensure_runtime_confs
from .pipeline import task_event_pipeline
from .sinks import batch_overwrite_transport, effectively_once, webhook_foreach_batch


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def use_rocksdb_state(spark: SparkSession) -> SparkSession:
    """Switch stateful operators to the RocksDB state store — the
    large-key-space posture (SURVEY.md 4.3): state lives off-heap /
    on-disk per executor instead of in the JVM heap, so per-key dedup
    state survives key cardinalities that would OOM the default HDFS-
    backed in-memory provider.  Applies to queries STARTED after the
    call; verified working in tests/test_streaming_rocksdb.py."""
    ensure_runtime_confs(spark)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    return spark


def read_ndjson_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """NDJSON file stream (the fixture-replay source; swap for the
    nomad_events DataSource in live deployments).  Each micro-batch lists
    its files on the driver (``session.RUNTIME_CONFS`` listing threshold)."""
    ensure_runtime_confs(spark)
    return spark.readStream.text(input_dir)


def build_stream(
    lines: DataFrame,
    starting_index: int = 0,
    denylist: list[str] | None = None,
    allowlist: list[str] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    classified = task_event_pipeline(lines, starting_index, denylist, allowlist)
    return classified.withWatermark("event_time", watermark).dropDuplicatesWithinWatermark(
        ["task_identifier", "event_time_ns"]
    )


def _start(
    deduped: DataFrame, body: Callable, checkpoint_dir: str, available_now: bool
) -> StreamingQuery:
    """Start ``body`` over ``deduped`` with a per-core state width.  The query
    copies the session as it is built, so the width is set only around it."""
    trigger = {"availableNow": True} if available_now else {"processingTime": "5 seconds"}
    writer = deduped.writeStream.foreachBatch(body).trigger(**trigger)
    writer = writer.option("checkpointLocation", checkpoint_dir).outputMode("append")
    spark = deduped.sparkSession
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))
    try:
        return writer.start()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def start_webhook_query(
    deduped: DataFrame,
    checkpoint_dir: str,
    output_dir: str,
    transport: Callable[[DataFrame, int], None] | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Effectively-once delivery of ``deduped`` through ``transport``
    (``batch_overwrite_transport`` under ``output_dir`` by default),
    called once per micro-batch as ``(frame, batch_id)``.  The frame has
    a ``discord`` and a ``slack`` payload column; which of them reach a
    webhook is the transport's own choice (``http_transport``'s
    ``urls``).  The delivery ledger is ``<checkpoint_dir>/delivered``, so deleting the
    checkpoint clears it too.  A new checkpoint gets one dedup state
    partition per core, not one per shuffle partition: each state
    partition writes delta and checksum files every batch, a fixed cost
    small batches do not repay.  The width is fixed when the checkpoint
    is created."""
    transport = transport or batch_overwrite_transport(output_dir)
    body = effectively_once(
        webhook_foreach_batch(transport), os.path.join(checkpoint_dir, "delivered")
    )
    return _start(deduped, body, checkpoint_dir, available_now)
