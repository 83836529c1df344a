"""RocksDB state store: the large-key-space posture actually runs here.

Runs the exact-REF stateful dedup (applyInPandasWithState) under the
RocksDB provider and checks it produces the same result as the default
provider — proving the SCALE.md/SURVEY §4.3 recommendation is exercised,
not just cited.
"""

from __future__ import annotations

import os
import uuid

import pyspark.sql.functions as F
import pytest

from nomad_event_streamer_spark.streaming.dedup_state import summary_stream
from nomad_event_streamer_spark.tables import canonicalize_events_ts
from nomad_event_streamer_spark.streaming.runner import (
    ROCKSDB_PROVIDER,
    use_rocksdb_state,
)

PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


def _run_summary(spark, sf_dir, work):
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    d = work / "in"
    d.mkdir(parents=True)
    os.symlink(f"{sf_dir}/events.parquet", os.path.join(d, "events.parquet"))
    stream = canonicalize_events_ts(
        spark.readStream.schema(schema).parquet(str(d))
    ).select("user_id", "event_id", F.expr("ts div 1000").alias("ts_us"))
    updates = summary_stream(stream.groupBy("user_id"))
    name = f"rocks_{uuid.uuid4().hex[:10]}"
    q = (
        updates.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(work / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("max_ts_us").alias("max_ts_us"),
        )
    )
    return sorted(map(tuple, final.collect()))


def test_rocksdb_state_store_matches_default(spark, sf_dir, tmp_path):
    prev = spark.conf.get(PROVIDER_CONF, None)
    default_result = _run_summary(spark, sf_dir, tmp_path / "default")
    try:
        use_rocksdb_state(spark)
        assert spark.conf.get(PROVIDER_CONF) == ROCKSDB_PROVIDER
        rocks_result = _run_summary(spark, sf_dir, tmp_path / "rocksdb")
    finally:
        if prev is None:
            spark.conf.unset(PROVIDER_CONF)
        else:
            spark.conf.set(PROVIDER_CONF, prev)
    assert rocks_result == default_result
    assert len(rocks_result) == 15  # one row per user key
