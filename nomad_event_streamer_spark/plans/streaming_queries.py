"""Declared streaming queries: Structured Streaming plans run to
completion with availableNow triggers so the driver can hash-match them
like any batch query (SIGMOD 2018 micro-batch model).

The parquet file-stream source replays the same testdata the oracle
reads, so exact oracles apply; the stateful op is checked end-to-end
against a plain GROUP BY — proving the GroupState bookkeeping is exact.
"""

from __future__ import annotations

import os
import tempfile
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..session import ensure_runtime_confs
from ..streaming.dedup_state import summary_stream
from ..tables import canonicalize_events_ts, load, schema as table_schema
from .registry import query


_STREAM_DIRS: dict[tuple[str, str], str] = {}


def _table_stream_dir(sf_dir: str, table: str) -> str:
    """The file-stream source requires a *directory* of data files.

    The driver's testdata exposes each table as a single parquet FILE —
    symlink it into a cached temp dir.  Synthesized replica sets (the
    scale probe) write tables as parquet DIRECTORIES of part files —
    return the directory itself; a symlink to the directory would nest
    it one level down where the non-recursive file stream lists zero
    files and the query silently streams nothing (caught when the ×10
    probe returned 0 rows)."""
    key = (sf_dir, table)
    if key not in _STREAM_DIRS:
        src = f"{sf_dir}/{table}.parquet"
        if os.path.isdir(src):
            _STREAM_DIRS[key] = src
        else:
            d = tempfile.mkdtemp(prefix="nes_stream_")
            os.symlink(src, os.path.join(d, f"{table}.parquet"))
            _STREAM_DIRS[key] = d
    return _STREAM_DIRS[key]


def _events_stream_dir(sf_dir: str) -> str:
    return _table_stream_dir(sf_dir, "events")


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a bounded file stream (schema pinned from the batch
    reader — streaming sources never infer)."""
    ensure_runtime_confs(spark)
    schema = table_schema(spark, sf_dir, "events")
    stream = spark.readStream.schema(schema).parquet(_events_stream_dir(sf_dir))
    return canonicalize_events_ts(stream)


def _stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents as a bounded file stream (same schema-pinning rule)."""
    ensure_runtime_confs(spark)
    schema = table_schema(spark, sf_dir, "documents")
    return spark.readStream.schema(schema).parquet(
        _table_stream_dir(sf_dir, "documents")
    )


def _run_to_memory_drain(df: DataFrame, output_mode: str) -> DataFrame:
    """Like ``_run_to_memory`` but drains a custom Python streaming
    source to exhaustion.  ``availableNow`` snapshots only the FIRST
    prefetched batch of a ``SimpleDataSourceStreamReader`` (one ``read()``
    call), so a throttled source would stop after one budget's worth;
    ``processAllAvailable`` keeps planning micro-batches until the
    source's offset stops advancing — the whole capture."""
    name = f"q_{uuid.uuid4().hex[:12]}"
    checkpoint = os.path.join(tempfile.mkdtemp(prefix="nes_ckpt_"), "cp")
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    return df.sparkSession.table(name)


def _run_to_memory(df: DataFrame, output_mode: str) -> DataFrame:
    """Run a bounded streaming query into a memory sink; returns the sink
    table as a DataFrame."""
    name = f"q_{uuid.uuid4().hex[:12]}"
    checkpoint = os.path.join(tempfile.mkdtemp(prefix="nes_ckpt_"), "cp")
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)


def _nomad_pipeline_oracle() -> str:
    """DuckDB twin of the FULL REF pipeline (VERDICT r05 item #4): the
    deterministic 12-envelope capture is embedded as an inline VALUES
    relation (generated from the same ``sample_stream`` call the Spark
    query feeds its file stream — one source of truth, byte-identical
    input on both engines), and every stage is reimplemented in SQL over
    DuckDB's JSON functions: heartbeat split (Index AND Events both
    null), Index > 0 replay guard, Events[] unnest, Allocation topic +
    TaskStates null guards, TaskStates map explode via json_keys, the
    connect-proxy anti-filter, and the app.rb:195-209 classification
    CASE.  The watermark dedup is a no-op on this capture (every
    (task_identifier, Time) key is unique — intra-batch disorder, no
    duplicates), so the classified-count aggregate is the complete
    pipeline contract.  A divergence in ANY stage shifts a count and
    fails the hash."""
    from ..sources.synthetic import sample_stream

    vals = ",\n        ".join(
        "('" + ln.replace("'", "''") + "')" for ln in sample_stream(12)
    )
    return f"""
    WITH raw(line) AS (VALUES {vals}),
    env AS (
        SELECT CAST(json_extract(line, '$.Index') AS BIGINT) AS idx, line
        FROM raw
        WHERE json_valid(line)
          AND NOT (json_extract(line, '$.Index') IS NULL
                   AND json_extract(line, '$.Events') IS NULL)
    ),
    ev AS (
        SELECT idx, unnest(CAST(json_extract(line, '$.Events') AS JSON[])) AS e
        FROM env WHERE idx > 0
    ),
    alloc AS (
        SELECT idx, json_extract(e, '$.Payload.Allocation.TaskStates') AS ts
        FROM ev
        WHERE json_extract_string(e, '$.Topic') = 'Allocation'
          AND json_extract(e, '$.Payload.Allocation.TaskStates') IS NOT NULL
    ),
    tasks AS (
        SELECT idx, unnest(json_keys(ts)) AS task_id, ts FROM alloc
    ),
    tev AS (
        SELECT idx, task_id,
               unnest(CAST(json_extract(ts, '$."' || task_id || '".Events')
                           AS JSON[])) AS te
        FROM tasks
        WHERE NOT regexp_matches(task_id, 'connect-proxy')
    ),
    classified AS (
        SELECT CASE
            WHEN json_extract_string(te, '$.Type') = 'Restart Signaled'
                 AND regexp_matches(
                     COALESCE(json_extract_string(
                         te, '$.Details.restart_reason'), ''),
                     'unhealthy')
            THEN 'failure'
            WHEN json_extract_string(te, '$.Type') = 'Terminated' THEN
                CASE WHEN json_extract_string(te, '$.Details.oom_killed')
                          = 'true' THEN 'failure'
                     WHEN json_extract_string(te, '$.Details.exit_code')
                          = '0' THEN 'success'
                     ELSE 'failure' END
            ELSE NULL END AS state
        FROM tev
    )
    SELECT state, count(*) AS n FROM classified GROUP BY state"""


@query("q_stream_nomad_pipeline", oracle=_nomad_pipeline_oracle())
def q_stream_nomad_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full REF pipeline (app.rb:106-278) as a bounded streaming run:
    synthetic NDJSON -> parse -> explode*3 -> filters -> watermark dedup ->
    classification, counted by outcome.  Promoted from rows-only to the
    FULL hash gate (VERDICT r05 item #4): the capture is deterministic,
    so ``_nomad_pipeline_oracle`` replays the byte-identical NDJSON
    through an independent DuckDB-JSON reimplementation of every stage
    and hash-matches the final classified counts."""
    from ..sources.synthetic import sample_stream
    from ..streaming.runner import build_stream

    ensure_runtime_confs(spark)
    input_dir = tempfile.mkdtemp(prefix="nes_nomad_in_")
    with open(os.path.join(input_dir, "stream.ndjson"), "w") as f:
        f.write("\n".join(sample_stream(12)) + "\n")
    lines = spark.readStream.text(input_dir)
    deduped = build_stream(lines)
    counted = _run_to_memory(deduped, "append")
    return counted.groupBy("state").agg(F.count(F.lit(1)).alias("n"))


@query(
    "q_stream_agg",
    oracle="""
    SELECT event_type, count(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def q_stream_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming aggregation (readStream -> groupBy -> complete mode)
    replayed to completion; matches the batch GROUP BY exactly — the
    Structured Streaming prefix-consistency guarantee."""
    stream = _stream_events(spark, sf_dir)
    agg = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return _run_to_memory(agg, "complete")


@query(
    "q_stream_window",
    oracle="""
    SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS window_start_us,
           count(*) AS n
    FROM events
    GROUP BY 1
    """,
)
def q_stream_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window streaming aggregation (``F.window(ts, '1 hour')``,
    complete mode).  Epoch-aligned 1h windows equal the batch
    ``date_trunc``-style bucketing exactly, so a full oracle applies."""
    stream = _stream_events(spark, sf_dir).withColumn(
        "ts_t", F.timestamp_micros(F.expr("ts div 1000"))
    )
    agg = stream.groupBy(F.window("ts_t", "1 hour")).agg(
        F.count(F.lit(1)).alias("n")
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        F.unix_micros(F.col("window.start")).alias("window_start_us"), "n"
    )


@query(
    "q_stream_sliding",
    oracle="""
    SELECT ws AS window_start_us, count(*) AS n
    FROM (
        SELECT unnest([
            epoch_us(ts) - epoch_us(ts) % 1800000000,
            epoch_us(ts) - epoch_us(ts) % 1800000000 - 1800000000
        ]) AS ws
        FROM events
    )
    GROUP BY ws
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window streaming aggregation (1h window / 30m slide):
    every event lands in exactly two epoch-aligned windows, which the
    oracle replays by exploding both candidate starts."""
    stream = _stream_events(spark, sf_dir).withColumn(
        "ts_t", F.timestamp_micros(F.expr("ts div 1000"))
    )
    agg = stream.groupBy(
        F.window("ts_t", "1 hour", "30 minutes")
    ).agg(F.count(F.lit(1)).alias("n"))
    out = _run_to_memory(agg, "complete")
    return out.select(
        F.unix_micros(F.col("window.start")).alias("window_start_us"), "n"
    )


@query(
    "q_stream_session_window",
    oracle="""
    WITH g AS (
        SELECT user_id, epoch_us(ts) AS ts_us,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                            >= 7200000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
    ),
    s AS (
        SELECT user_id, ts_us,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
                                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM g
    )
    SELECT user_id, min(ts_us) AS session_start_us, count(*) AS n_events
    FROM s GROUP BY user_id, session_id
    """,
)
def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (``F.session_window(ts, '2 hours')``) per user —
    the native streaming form of q_sessionize.  A session closes when the
    next event is >= the gap after the previous one (the window end is
    exclusive), which the gaps-and-islands oracle mirrors with >=.
    Session start equals the first event's timestamp, so the mapping to
    the batch formulation is exact."""
    stream = _stream_events(spark, sf_dir).withColumn(
        "ts_t", F.timestamp_micros(F.expr("ts div 1000"))
    )
    agg = stream.groupBy(
        F.session_window("ts_t", "2 hours"), F.col("user_id")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    out = _run_to_memory(agg, "complete")
    return out.select(
        "user_id",
        F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
        "n_events",
    )


@query(
    "q_stream_static_join",
    oracle="""
    SELECT e.event_type, count(*) AS n,
           max(d.rank_hint) AS rank_hint
    FROM events e
    JOIN (VALUES ('click', 1), ('view', 2), ('purchase', 3))
         AS d(event_type, rank_hint)
      ON e.event_type = d.event_type
    GROUP BY e.event_type
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment (SURVEY.md 2.3): the unbounded side joins
    a small static dimension per micro-batch; the dim broadcasts, so the
    stream never shuffles for the join."""
    stream = _stream_events(spark, sf_dir)
    dim = stream.sparkSession.createDataFrame(
        [("click", 1), ("view", 2), ("purchase", 3)],
        "event_type string, rank_hint int",
    )
    joined = stream.join(F.broadcast(dim), "event_type")
    agg = joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.max("rank_hint").alias("rank_hint")
    )
    return _run_to_memory(agg, "complete")


@query("q_stream_late_data")  # rows-only: drop set depends on arrival order
def q_stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + append-mode windowed aggregation: late rows beyond the
    10-minute watermark are dropped and finalized windows emit exactly
    once (the streaming upgrade of the REF staleness filter,
    app.rb:162-167).  Rows-only: which rows count as late depends on
    micro-batch arrival order, which no batch oracle can replay."""
    stream = _stream_events(spark, sf_dir).withColumn(
        "ts_t", F.timestamp_micros(F.expr("ts div 1000"))
    )
    agg = (
        stream.withWatermark("ts_t", "10 minutes")
        .groupBy(F.window("ts_t", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = _run_to_memory(agg, "append")
    return out.select(
        F.unix_micros(F.col("window.start")).alias("window_start_us"), "n"
    )


@query(
    "q_stream_dedup_state",
    oracle="""
    SELECT user_id, count(*) AS n_events, max(epoch_us(ts)) AS max_ts_us
    FROM events
    GROUP BY user_id
    """,
)
def q_stream_dedup_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): cumulative
    per-key counters carried in GroupState across micro-batches — the
    checkpointed upgrade of the REF's in-memory task_metadata
    (app.rb:78,145-146,271-273).  The memory sink accumulates one update
    row per key per batch; the final value per key is the cumulative
    max, giving an exact oracle against a plain GROUP BY."""
    stream = _stream_events(spark, sf_dir).select(
        "user_id", "event_id", F.expr("ts div 1000").alias("ts_us")
    )
    updates = summary_stream(stream.groupBy("user_id"))
    sink = _run_to_memory(updates, "update")
    return sink.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("max_ts_us").alias("max_ts_us")
    )


@query(
    "q_stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id AS user_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
    FROM events p
    JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 3600000000 AND epoch_us(p.ts)
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases joined to the same user's
    clicks within the preceding hour, both sides watermarked (the
    watermark + range condition bound the join STATE — without them the
    engine would buffer both streams forever).  Replayed to completion
    the result equals the batch range join exactly, so a full oracle
    applies."""
    stream = _stream_events(spark, sf_dir).withColumn(
        "ts_t", F.timestamp_micros(F.expr("ts div 1000"))
    )
    clicks = (
        stream.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts_t").alias("c_ts"),
        )
        .withWatermark("c_ts", "30 minutes")
    )
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts_t").alias("p_ts"),
        )
        .withWatermark("p_ts", "30 minutes")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    )
    out = _run_to_memory(joined, "append")
    return out.select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
    )


from .cdc import CDC_SNAPSHOT_ORACLE


@query("q_stream_cdc_snapshot", oracle=CDC_SNAPSHOT_ORACLE)
def q_stream_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC materialization: the same changelog the batch
    q_cdc_snapshot reads, consumed as a bounded NDJSON file stream with a
    complete-mode ``max_by`` aggregation maintaining latest state per key
    — the stream view of a table.  Shares the batch query's oracle
    (registered below) so the driver hash-proves batch/stream parity on
    identical semantics."""
    from ..sources.changelog import CHANGELOG_SCHEMA
    from .cdc import _changelog_dir

    ensure_runtime_confs(spark)
    d = _changelog_dir(spark, sf_dir)
    stream = spark.readStream.schema(CHANGELOG_SCHEMA).json(d)
    agg = stream.groupBy("key").agg(
        F.max_by("op", "seq").alias("last_op"),
        F.max_by("val", "seq").alias("val"),
        F.max("seq").alias("last_seq"),
    )
    tbl = _run_to_memory(agg, "complete")
    return tbl.where(F.col("last_op") != "D").select("key", "val", "last_seq")



@query(
    "q_stream_replay_throttled",
    oracle="""
    SELECT CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
           count(*) AS n_ops, max(event_id) AS max_seq
    FROM events
    GROUP BY 1
    """,
)
def q_stream_replay_throttled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-limited replay through the custom ``replay_ndjson`` streaming
    DataSource (``sources/replay.py``): the captured changelog is re-fed
    in deterministic 2000-line micro-batches — the load-test /
    backfill-through-the-streaming-path primitive — and the replayed
    stream's complete-mode aggregate hash-matches the batch view of the
    same capture (oracled directly on ``events``, which the capture
    derives from)."""
    from ..sources.changelog import CHANGELOG_SCHEMA
    from ..sources.replay import ReplayDataSource
    from .cdc import _changelog_dir

    ensure_runtime_confs(spark)
    d = _changelog_dir(spark, sf_dir)
    spark.dataSource.register(ReplayDataSource)
    raw = (
        spark.readStream.format("replay_ndjson")
        .option("path", d)
        .option("lines_per_batch", "2000")
        .load()
    )
    parsed = raw.select(
        F.from_json("value", CHANGELOG_SCHEMA).alias("r")
    ).select("r.*")
    agg = parsed.groupBy("op").agg(
        F.count(F.lit(1)).alias("n_ops"), F.max("seq").alias("max_seq")
    )
    return _run_to_memory_drain(agg, "complete")


@query(
    "q_statestore_read",
    oracle="""
    SELECT event_type, count(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def q_statestore_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store introspection (Spark 4 ``statestore`` batch format):
    run a streaming aggregation to completion, then read its CHECKPOINT
    STATE back as a DataFrame — the operational debugging path for
    stateful pipelines (inspect live aggregation state without touching
    the query).  The state contents hash-match the batch GROUP BY,
    proving the checkpoint faithfully encodes the aggregate."""
    ensure_runtime_confs(spark)
    stream = _stream_events(spark, sf_dir)
    agg = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    name = f"q_{uuid.uuid4().hex[:12]}"
    ckpt = os.path.join(tempfile.mkdtemp(prefix="nes_ss_ckpt_"), "cp")
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state = spark.read.format("statestore").load(ckpt)
    # the value struct's field name is the aggregation buffer's internal
    # attribute name (varies: "n" or "count") — extract positionally
    value_field = state.schema["value"].dataType.fieldNames()[0]
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value").getField(value_field).alias("n"),
    )


@query(
    "q_stream_topk",
    oracle="""
    WITH c AS (
        SELECT event_type, user_id, count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    r AS (
        SELECT event_type, user_id, n,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY n DESC, user_id) AS rn
        FROM c
    )
    SELECT event_type, user_id, n FROM r WHERE rn <= 3
    """,
)
def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k: the per-(type, user) counts accumulate in a
    streaming complete-mode aggregation (the only stateful part — the
    ranking itself is NOT valid inside a streaming query plan), and the
    materialized state table is ranked batch-side AFTER the bounded
    run terminates — the dashboard split (stream maintains counts, a
    separate serving query ranks the state table; a live deployment
    re-runs that ranking per refresh).  Replayed to completion the
    counts equal the batch GROUP BY exactly, so the whole thing
    carries a full oracle."""
    stream = _stream_events(spark, sf_dir)
    agg = stream.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    out = _run_to_memory(agg, "complete")
    w = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("user_id").asc()
    )
    return (
        out.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("event_type", "user_id", "n")
    )


from .llm_ops import _dedup_incremental_oracle  # noqa: E402


@query(
    "q_stream_dedup_lsh",
    # identical output contract to the batch q_dedup_incremental — the
    # SAME oracle proves the streaming path computes the same verdicts
    oracle=_dedup_incremental_oracle(16),
)
def q_stream_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental dedup against the batch LSH index (VERDICT
    r04 item #8 — q_dedup_incremental's stream analog): new documents
    (odd doc_ids) ARRIVE AS A STREAM and are decided against the static
    index the batch pipeline maintains (even doc_ids) — exact-digest
    set and LSH band-bucket table.

    The streaming plan is COMPLETELY STATELESS — the scalable shape:
    the minhash signature is computed row-locally with array HOFs
    (``dedup.minhash_bands_rowlocal`` — min-over-array instead of a
    min aggregate), so the stream needs no state store, no watermark,
    and no shuffle; both index lookups are stream-static left joins
    (digest equi-join + band-bucket equi-join on the exploded band
    rows).  The memory sink collects per-band decision rows; a batch
    rollup collapses them to the per-document verdict — identical
    output schema and values to the batch q_dedup_incremental, so the
    SAME oracle applies.

    At 100 TB the bucket table IS the dedup index (a maintained asset);
    each arriving micro-batch shuffles nothing and probes the index by
    key — the posture an always-on crawl ingest needs."""
    from ..operators import dedup

    docs = load(spark, sf_dir, "documents")
    idx = docs.where(F.col("doc_id") % 2 == 0)
    idx_dig = (
        idx.select(F.md5("text").alias("h"))
        .distinct()
        .withColumn("de", F.lit(True))
    )
    ibands = (
        dedup.lsh_bands(
            dedup.minhash_signatures(dedup.shingles(idx, n=3), num_hashes=16),
            num_hashes=16,
            rows_per_band=2,
        )
        .select("band", "bucket")
        .distinct()
        .withColumn("dn", F.lit(True))
    )

    stream = _stream_documents(spark, sf_dir).where(F.col("doc_id") % 2 == 1)
    banded = dedup.minhash_bands_rowlocal(
        stream.select("doc_id", "text"), n=3, num_hashes=16, rows_per_band=2
    )
    decided = (
        banded.withColumn("h", F.md5("text"))
        .join(idx_dig, "h", "left")
        .select("doc_id", "de", F.explode_outer("bands").alias("bb"))
        .join(
            ibands,
            (F.col("bb.band") == F.col("band"))
            & (F.col("bb.bucket") == F.col("bucket")),
            "left",
        )
        .select("doc_id", "de", "dn")
    )
    sink = _run_to_memory(decided, "append")
    return sink.groupBy("doc_id").agg(
        F.max(F.coalesce(F.col("de"), F.lit(False))).alias("dropped_exact"),
        F.max(F.coalesce(F.col("dn"), F.lit(False))).alias("dropped_near"),
        (
            ~(
                F.max(F.coalesce(F.col("de"), F.lit(False)))
                | F.max(F.coalesce(F.col("dn"), F.lit(False)))
            )
        ).alias("kept"),
    )


_SESSION_DEDUP_BASE_US = 1_700_000_000_000_000
_SESSION_DEDUP_GAP_US = 300_000_000  # 5 minutes


def _session_dedup_oracle() -> str:
    """Gaps-and-islands twin of the streaming session-window dedup: the
    band-0 bucket replayed through the q_dedup_incremental minhash CTE
    chain (seeds 0-1 only), then the q_stream_session_window >= gap
    mirror per bucket."""
    from ..operators.dedup import MINHASH_P, minhash_params
    from .llm_ops import _SHINGLE_CTE

    seeds_values = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_params(16)[:2])
    )
    p = MINHASH_P
    return (
        _SHINGLE_CTE
        + f""",
    based AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT)
                   % {p} AS hb
        FROM sh
    ),
    sig AS (
        SELECT doc_id, seed, min((a * hb + b) % {p}) AS mh
        FROM based CROSS JOIN (VALUES {seeds_values}) AS seeds(seed, a, b)
        GROUP BY doc_id, seed
    ),
    b0 AS (
        SELECT doc_id,
               md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed))
                   AS bucket
        FROM sig GROUP BY doc_id
    ),
    d AS (
        SELECT doc.doc_id, b0.bucket,
               {_SESSION_DEDUP_BASE_US} + doc.doc_id * 60000000 AS ts_us
        FROM documents doc LEFT JOIN b0 ON doc.doc_id = b0.doc_id
    ),
    g AS (
        SELECT doc_id, bucket, ts_us,
               CASE WHEN lag(ts_us) OVER w IS NULL
                         OR ts_us - lag(ts_us) OVER w
                            >= {_SESSION_DEDUP_GAP_US}
                    THEN 1 ELSE 0 END AS is_new
        FROM d
        WINDOW w AS (PARTITION BY bucket ORDER BY ts_us)
    ),
    s AS (
        SELECT doc_id, bucket, ts_us,
               sum(is_new) OVER (PARTITION BY bucket ORDER BY ts_us
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM g
    )
    SELECT bucket, min(ts_us) AS session_start_us,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS keeper_doc,
           CAST(count(*) - 1 AS BIGINT) AS n_dropped
    FROM s GROUP BY bucket, sid"""
    )


@query("q_stream_session_dedup", oracle=_session_dedup_oracle())
def q_stream_session_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATEFUL streaming session-window dedup keyed on the LSH index
    bucket (VERDICT r05 item #7a — the stateful complement of the
    stateless q_stream_dedup_lsh): documents arrive as a stream with
    synthetic arrival times (doc_id-spaced, 60 s apart), band
    themselves row-locally (``minhash_bands_rowlocal`` — no shuffle to
    compute the key), and a watermarked ``session_window`` aggregation
    per band-0 bucket groups near-dup ARRIVAL BURSTS: within a session
    the earliest document is the keeper, the rest are session drops —
    the crawl-dedup policy 'a re-crawled page cluster within one burst
    collapses to its first fetch'.

    The watermark (10 min) bounds the session state store in a live
    deployment (closed sessions are evicted); the bounded replay runs
    complete-mode so the memory sink sees every session for the oracle
    (append mode with the same plan emits sessions incrementally as the
    watermark passes them — identical final rows).  Replayed to
    completion the sessions equal the batch gaps-and-islands per
    bucket, so the whole stateful plan carries a full hash oracle.

    Scale shape: the only shuffle keys are (bucket) — the dedup index
    key — and session state per key is one (start, end, agg) tuple;
    state size is O(open sessions), not O(documents seen)."""
    from ..operators import dedup

    stream = _stream_documents(spark, sf_dir).select("doc_id", "text")
    banded = dedup.minhash_bands_rowlocal(
        stream, n=3, num_hashes=16, rows_per_band=2
    )
    keyed = (
        banded.select(
            "doc_id",
            F.element_at("bands", 1).getField("bucket").alias("bucket"),
            F.timestamp_micros(
                F.lit(_SESSION_DEDUP_BASE_US)
                + F.col("doc_id") * F.lit(60_000_000)
            ).alias("ts"),
        )
        .withWatermark("ts", "10 minutes")
    )
    agg = keyed.groupBy(F.session_window("ts", "5 minutes"), "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("keeper_doc"),
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        "bucket",
        F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
        F.col("n_docs").cast("long").alias("n_docs"),
        "keeper_doc",
        (F.col("n_docs") - 1).cast("long").alias("n_dropped"),
    )


_LATE_DIRS: dict[str, str] = {}


def _late_batches_dir(spark: SparkSession, sf_dir: str) -> str:
    """Three deterministic micro-batch files (user_id % 3 == 0/1/2),
    ordered by explicit modification times so the file-stream source
    replays them as batches 0, 1, 2 — the arrival schedule the late-data
    oracle replays."""
    if sf_dir not in _LATE_DIRS:
        import glob
        import shutil

        ev = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
        work = tempfile.mkdtemp(prefix="nes_late_work_")
        out = tempfile.mkdtemp(prefix="nes_late_in_")
        for b in range(3):
            ev.where(F.col("user_id") % 3 == b).coalesce(1).write.parquet(
                f"{work}/b{b}"
            )
            part = glob.glob(f"{work}/b{b}/part-*.parquet")[0]
            dst = os.path.join(out, f"{chr(97 + b)}_{b}.parquet")
            shutil.copy(part, dst)
            os.utime(dst, (1000 + b * 100, 1000 + b * 100))
        _LATE_DIRS[sf_dir] = out
    return _LATE_DIRS[sf_dir]


@query(
    "q_stream_late_metrics",
    oracle="""
    WITH e AS (
        SELECT user_id % 3 AS batch,
               epoch_us(ts) AS us,
               (epoch_us(ts) // 3600000000) * 3600000000 AS ws
        FROM events
    ),
    wm AS (
        SELECT max(CASE WHEN batch = 0 THEN us END) - 600000000 AS wm0,
               max(us) - 600000000 AS wm_all
        FROM e
    ),
    kept AS (
        SELECT e.ws FROM e CROSS JOIN wm
        WHERE e.batch IN (0, 1) OR e.ws + 3600000000 > wm.wm0
    )
    SELECT k.ws AS window_start_us, CAST(count(*) AS BIGINT) AS n
    FROM kept k CROSS JOIN wm
    WHERE k.ws + 3600000000 <= wm.wm_all
    GROUP BY k.ws
    """,
)
def q_stream_late_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA semantics under the full hash gate — the
    deterministic-replay upgrade of the rows-only q_stream_late_data:
    events arrive in THREE engineered micro-batches (user_id % 3, file
    modification times pin the order), so which rows are late is a pure
    function of the data and the oracle can replay Spark's actual
    watermark protocol, empirically pinned in this session:

    - the watermark takes effect with a one-batch enactment lag: rows of
      batch N are dropped iff their window end <= max event time over
      batches 0..N-2 minus the 10-minute delay (batches 0 and 1 are
      never filtered);
    - dropped rows can never re-open an emitted window (the drop
      threshold always >= the eviction threshold that emitted it);
    - after the trailing empty batch, append mode has emitted exactly
      the windows whose end <= global max event time minus the delay.

    The output is the finalized per-window count table — late drops and
    all; any divergence in the drop rule, the enactment lag, or the
    emission boundary breaks the hash.  (The streaming upgrade of the
    REF staleness filter, app.rb:162-167, with the drop set now
    verifiable instead of declared.)"""
    ensure_runtime_confs(spark)
    d = _late_batches_dir(spark, sf_dir)
    stream = (
        spark.readStream.schema("event_id long, user_id long, ts long")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .withColumn("ts_t", F.timestamp_micros(F.expr("ts div 1000")))
    )
    agg = (
        stream.withWatermark("ts_t", "10 minutes")
        .groupBy(F.window("ts_t", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = _run_to_memory(agg, "append")
    return out.select(
        F.unix_micros(F.col("window.start")).alias("window_start_us"),
        F.col("n").cast("long").alias("n"),
    )


_UPSERT_DIRS: dict[str, str] = {}


def _upsert_batches_dir(spark: SparkSession, sf_dir: str) -> str:
    """Three deterministic micro-batch files (event_id % 3), mtime-ordered
    so the file source replays them as batches 0, 1, 2 — each batch
    carries a slice of every user's history, so the upsert target is
    OVERWRITTEN with merged state on every round (the path that
    distinguishes upsert from blind append)."""
    if sf_dir not in _UPSERT_DIRS:
        import glob
        import shutil

        ev = load(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            "event_type",
            F.expr("ts div 1000").alias("ts_us"),
        )
        work = tempfile.mkdtemp(prefix="nes_upsert_work_")
        out = tempfile.mkdtemp(prefix="nes_upsert_in_")
        for b in range(3):
            ev.where(F.col("event_id") % 3 == b).coalesce(1).write.parquet(
                f"{work}/b{b}"
            )
            part = glob.glob(f"{work}/b{b}/part-*.parquet")[0]
            dst = os.path.join(out, f"{chr(97 + b)}_{b}.parquet")
            shutil.copy(part, dst)
            os.utime(dst, (1000 + b * 100, 1000 + b * 100))
        _UPSERT_DIRS[sf_dir] = out
    return _UPSERT_DIRS[sf_dir]


@query(
    "q_stream_foreachbatch_upsert",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
               printf('%020d-%010d', epoch_us(ts), event_id) AS ord
        FROM events
    )
    SELECT user_id,
           arg_max(event_id, ord) AS last_event_id,
           max(ts_us) AS last_ts_us,
           arg_max(event_type, ord) AS last_type,
           CAST(count(*) AS BIGINT) AS n_events
    FROM e GROUP BY user_id
    """,
)
def q_stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``foreachBatch`` UPSERT sink: the merge-into-target pattern every
    lakehouse streaming pipeline runs (Structured Streaming guide's
    documented foreachBatch use case) — each micro-batch merges into a
    keyed parquet target (latest row per user by (ts, id), plus a
    running per-user event count), implemented as read-current +
    union + max_by re-aggregate, written to a VERSIONED target path
    per round (v0 -> v1 -> v2; never overwrite-while-reading).  Three
    mtime-ordered batch files with maxFilesPerTrigger=1 force three
    real merge rounds, so batch 2's merge reads state produced by
    batches 0-1 — hash-matching the all-at-once oracle proves the
    merge is associative under arbitrary batch boundaries (the same
    replay-invariance contract as q_stream_session_dedup).

    Scale shape: each merge is one co-partitioned groupBy(user) over
    target+batch; target size is bounded by key cardinality, not
    stream length.  The zero-padded (ts,id) string key is the shared
    argmax device (q_tumbling_ohlc).  At 100 TB the versioned-dir
    rewrite becomes a real MERGE INTO on a table format with row-level
    ops (Delta/Iceberg, not in this container) — the foreachBatch
    merge logic is identical; documented, not stubbed."""
    ensure_runtime_confs(spark)
    d = _upsert_batches_dir(spark, sf_dir)
    schema = "event_id long, user_id long, event_type string, ts_us long"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    root = tempfile.mkdtemp(prefix="nes_upsert_tgt_")
    state = {"path": None}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        b = batch_df.select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts_us").alias("last_ts_us"),
            F.col("event_type").alias("last_type"),
            F.lit(1).cast("long").alias("n_events"),
        )
        if state["path"] is not None:
            cur = sess.read.parquet(state["path"])
            b = cur.unionByName(b)
        ordk = F.format_string(
            "%020d-%010d", "last_ts_us", "last_event_id"
        )
        merged = b.groupBy("user_id").agg(
            F.max_by("last_event_id", ordk).alias("last_event_id"),
            F.max("last_ts_us").alias("last_ts_us"),
            F.max_by("last_type", ordk).alias("last_type"),
            F.sum("n_events").cast("long").alias("n_events"),
        )
        nxt = os.path.join(root, f"v{batch_id}")
        merged.write.mode("overwrite").parquet(nxt)
        state["path"] = nxt

    q = (
        stream.writeStream.foreachBatch(merge)
        .option(
            "checkpointLocation",
            os.path.join(tempfile.mkdtemp(prefix="nes_ckpt_"), "cp"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert state["path"] is not None
    return spark.read.parquet(state["path"])


@query(
    "q_stream_ohlc",
    oracle="""
    WITH e AS (
        SELECT event_type,
               epoch_us(ts) - epoch_us(ts) % 3600000000 AS window_start_us,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
               printf('%020d-%010d', epoch_us(ts), event_id) AS ord
        FROM events
    )
    SELECT event_type, window_start_us,
           CAST(count(*) AS BIGINT) AS n,
           arg_min(cents, ord) AS open_cents,
           max(cents) AS high_cents,
           min(cents) AS low_cents,
           arg_max(cents, ord) AS close_cents
    FROM e GROUP BY 1, 2
    """,
)
def q_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_tumbling_ohlc: the SAME min_by/max_by candle
    aggregate as a complete-mode streaming window over the bounded file
    stream — hash-matching the batch oracle proves the candle agg is
    replay-safe (prefix consistency: micro-batch boundaries cannot
    change first/last/min/max when the ordering key is carried in the
    data, not in arrival order).  The zero-padded (ts,id) string key is
    what makes that true — arrival-order first()/last() would NOT
    replay (that's the q_stream_late_data rows-only lesson).

    Scale: identical partial-agg shuffle posture to the batch twin;
    complete-mode state is candle-cardinality (types × hours), bounded
    by time span, not stream length."""
    stream = _stream_events(spark, sf_dir).withColumn(
        "ts_us", F.expr("ts div 1000")
    )
    e = stream.select(
        "event_type",
        F.timestamp_micros(F.col("ts_us")).alias("ts_t"),
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.format_string("%020d-%010d", "ts_us", "event_id").alias("ord"),
    )
    agg = e.groupBy("event_type", F.window("ts_t", "1 hour")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min_by("cents", "ord").alias("open_cents"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        F.max_by("cents", "ord").alias("close_cents"),
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        "event_type",
        F.unix_micros(F.col("window.start")).alias("window_start_us"),
        "n",
        "open_cents",
        "high_cents",
        "low_cents",
        "close_cents",
    )


# ---------------------------------------------------------------------------
# Streaming near-dup dedup with state TTL (round-8b, R09_QUEUE)
# ---------------------------------------------------------------------------

# 100-minute sliding lease per LSH bucket: the corpus's same-bucket
# re-arrival gaps start at 16 min and spread past 7 h, so this TTL
# exercises BOTH verdicts (renewed bursts and expired leases) at every
# tested sf — a lease shorter than the minimum gap would make every
# arrival a keeper and the state machine untestable.
_TTL_US = 6_000_000_000
_TTL_DIRS: dict[str, str] = {}


def _doc_batches_dir(spark: SparkSession, sf_dir: str) -> str:
    """Three deterministic micro-batch files of (doc_id, text), split by
    contiguous doc_id RANGE (not modulo — the TTL state machine's
    verdicts are split-invariant only when batches are monotone in
    doc_id, the arrival order both engines replay) and mtime-ordered so
    the file-stream source reads them as batches 0, 1, 2."""
    if sf_dir not in _TTL_DIRS:
        import atexit
        import glob
        import shutil

        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        n = docs.agg(F.max("doc_id")).collect()[0][0] + 1
        cuts = [(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]
        work = tempfile.mkdtemp(prefix="nes_ttl_work_")
        out = tempfile.mkdtemp(prefix="nes_ttl_in_")
        try:
            for b, (lo, hi) in enumerate(cuts):
                docs.where(
                    (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
                ).coalesce(1).write.parquet(f"{work}/b{b}")
                part = glob.glob(f"{work}/b{b}/part-*.parquet")[0]
                dst = os.path.join(out, f"{chr(97 + b)}_{b}.parquet")
                shutil.copy(part, dst)
                os.utime(dst, (1000 + b * 100, 1000 + b * 100))
        finally:
            # ADVICE r08 #4: the intermediate write dir is dead the
            # moment the part files are copied; the batch dir lives for
            # the process (memoized) and is reclaimed at exit.
            shutil.rmtree(work, ignore_errors=True)
        atexit.register(shutil.rmtree, out, ignore_errors=True)
        _TTL_DIRS[sf_dir] = out
    return _TTL_DIRS[sf_dir]


def _ttl_dedup_oracle(
    ttl_us: int | None = None, spacing_us: int = 60_000_000
) -> str:
    """Gaps-and-islands twin of the sliding-TTL state machine: per
    band-0 bucket in doc_id (= arrival) order, an arrival within TTL of
    the PREVIOUS arrival is a duplicate; a later one starts a new burst
    whose first doc is the keeper.  Parameterized over (ttl, spacing)
    so scripts/fuzz_ttl.py can sweep the knob space the registered
    literal oracle cannot reach."""
    if ttl_us is None:
        ttl_us = _TTL_US
    from ..operators.dedup import MINHASH_P, minhash_params
    from .llm_ops import _SHINGLE_CTE

    seeds_values = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_params(16)[:2])
    )
    p = MINHASH_P
    return (
        _SHINGLE_CTE
        + f""",
    based AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT)
                   % {p} AS hb
        FROM sh
    ),
    sig AS (
        SELECT doc_id, seed, min((a * hb + b) % {p}) AS mh
        FROM based CROSS JOIN (VALUES {seeds_values}) AS seeds(seed, a, b)
        GROUP BY doc_id, seed
    ),
    b0 AS (
        SELECT doc_id,
               md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed))
                   AS bucket
        FROM sig GROUP BY doc_id
    ),
    d AS (
        SELECT doc.doc_id, b0.bucket,
               {_SESSION_DEDUP_BASE_US} + doc.doc_id * {spacing_us} AS ts_us
        FROM documents doc LEFT JOIN b0 ON doc.doc_id = b0.doc_id
    ),
    g AS (
        SELECT doc_id, bucket, ts_us,
               CASE WHEN lag(ts_us) OVER w IS NOT NULL
                         AND ts_us - lag(ts_us) OVER w <= {ttl_us}
                    THEN 1 ELSE 0 END AS is_dup
        FROM d
        WINDOW w AS (PARTITION BY bucket ORDER BY doc_id)
    ),
    s AS (
        SELECT doc_id, bucket, is_dup,
               sum(1 - is_dup) OVER (PARTITION BY bucket ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS burst
        FROM g
    )
    SELECT bucket, doc_id,
           CAST(is_dup AS BIGINT) AS is_dup,
           min(doc_id) OVER (PARTITION BY bucket, burst) AS keeper_doc
    FROM s"""
    )


@query("q_stream_dedup_ttl", oracle=_ttl_dedup_oracle())
def q_stream_dedup_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING MinHash dedup with a sliding state TTL
    (applyInPandasWithState) — the stream side of the maintained-index
    story q_dedup_incremental tells in batch: documents arrive over
    three doc_id-monotone micro-batches (maxFilesPerTrigger=1), band
    themselves row-locally into their band-0 LSH bucket (no shuffle to
    compute the key), and one (last_seen, keeper) state tuple per bucket
    classifies each arrival — within TTL of the bucket's last arrival =
    duplicate of the current burst keeper; past the TTL = the lease
    expired, state renews with the arrival as the new keeper.  The
    sliding lease (last_seen advances on EVERY arrival) is the re-crawl
    policy "a cluster stays deduped for as long as it keeps
    re-appearing".  Replayed to completion the per-document verdict
    stream equals a per-bucket gaps-and-islands scan, so the full
    stateful plan carries a hash oracle (streaming/ttl_dedup.py holds
    the state machine; cross-batch state is exercised for real — batch
    boundaries fall mid-burst).

    Scale shape: the only shuffle key is (bucket) and state is one
    2-long tuple per LIVE bucket — the TTL is precisely what keeps the
    state store bounded by the active working set instead of the
    stream's history."""
    return _ttl_pipeline(spark, sf_dir, _TTL_US, 60_000_000)


def _ttl_pipeline(
    spark: SparkSession, sf_dir: str, ttl_us: int, spacing_us: int
) -> DataFrame:
    """The q_stream_dedup_ttl dataflow with the (ttl, spacing) knobs
    exposed — the registered query pins the declared literals;
    scripts/fuzz_ttl.py replays the REAL streaming state machine across
    the knob space."""
    from ..operators import dedup
    from ..streaming.ttl_dedup import ttl_dedup_stream

    ensure_runtime_confs(spark)
    schema = "doc_id BIGINT, text STRING"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_doc_batches_dir(spark, sf_dir))
    )
    banded = dedup.minhash_bands_rowlocal(
        stream, n=3, num_hashes=16, rows_per_band=2
    )
    keyed = banded.select(
        "doc_id",
        F.element_at("bands", 1).getField("bucket").alias("bucket"),
        (
            F.lit(_SESSION_DEDUP_BASE_US)
            + F.col("doc_id") * F.lit(spacing_us)
        ).alias("ts_us"),
    )
    verdicts = ttl_dedup_stream(keyed.groupBy("bucket"), ttl_us)
    sink = _run_to_memory(verdicts, "append")
    return sink.select("bucket", "doc_id", "is_dup", "keeper_doc")


@query(
    "q_stream_vwap",
    oracle="""
    WITH e AS (
        SELECT event_type,
               (epoch_us(ts) // 3600000000) * 3600000000 AS hour_us,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
               CAST(event_id % 7 + 1 AS BIGINT) AS vol
        FROM events
    )
    SELECT event_type, CAST(hour_us AS BIGINT) AS hour_us,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(vol) AS BIGINT) AS vol_sum,
           CAST(sum(cents * vol) // sum(vol) AS BIGINT) AS vwap_cents
    FROM e GROUP BY 1, 2
    """,
)
def q_stream_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING VWAP — q_vwap's weighted-mean rollup as a watermarked
    tumbling-window streaming aggregation (the q_stream_ohlc pattern):
    cents-quantized price x deterministic lot size summed per
    (instrument, hour) window, VWAP divided on emit.  Replayed to
    completion the windows equal the batch rollup exactly, so the
    streaming plan carries the same full hash oracle as its batch twin
    — the parity pair a migration from batch to streaming metering
    regression-tests against.

    Scale shape: the only shuffle key is (type, window); state per key
    is three longs (sum-count-sum), bounded by the watermark horizon."""
    ev = _stream_events(spark, sf_dir).select(
        "event_type",
        F.timestamp_micros(F.expr("ts div 1000")).alias("ts_t"),
        F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").alias("cents"),
        F.expr("CAST(event_id % 7 + 1 AS BIGINT)").alias("vol"),
    ).withWatermark("ts_t", "1 hour")
    agg = ev.groupBy("event_type", F.window("ts_t", "1 hour")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("vol").cast("long").alias("vol_sum"),
        F.sum(F.col("cents") * F.col("vol")).cast("long").alias("pv_sum"),
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        "event_type",
        F.unix_micros(F.col("window.start")).alias("hour_us"),
        "n",
        "vol_sum",
        F.expr("pv_sum div vol_sum").cast("long").alias("vwap_cents"),
    )


# ---------------------------------------------------------------------------
# Stock-API watermarked dedup: dropDuplicatesWithinWatermark (round 9)
# ---------------------------------------------------------------------------


def _wm_dedup_oracle(spacing_us: int = 60_000_000) -> str:
    """Replay-to-completion parity twin: with a watermark delay longer
    than the whole replayed ts span, every bucket's first arrival is
    emitted exactly once and every later arrival is within-watermark
    and dropped — so the emitted set is DISTINCT buckets, each tagged
    with the doc_id-range micro-batch its minimum doc_id falls in (the
    batch whose row won, whichever row of that batch the engine
    kept)."""
    from ..operators.dedup import MINHASH_P, minhash_params
    from .llm_ops import _SHINGLE_CTE

    seeds_values = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_params(16)[:2])
    )
    p = MINHASH_P
    return (
        _SHINGLE_CTE
        + f""",
    based AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT)
                   % {p} AS hb
        FROM sh
    ),
    sig AS (
        SELECT doc_id, seed, min((a * hb + b) % {p}) AS mh
        FROM based CROSS JOIN (VALUES {seeds_values}) AS seeds(seed, a, b)
        GROUP BY doc_id, seed
    ),
    b0 AS (
        SELECT doc_id,
               md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed))
                   AS bucket
        FROM sig GROUP BY doc_id
    ),
    n AS (SELECT max(doc_id) + 1 AS nn FROM documents)
    SELECT bucket,
           CAST(CASE WHEN mn < (SELECT nn // 3 FROM n) THEN 0
                     WHEN mn < (SELECT 2 * (nn // 3) FROM n) THEN 1
                     ELSE 2 END AS BIGINT) AS first_batch
    FROM (SELECT bucket, min(doc_id) AS mn FROM b0 GROUP BY bucket)
    """
    )


@query("q_stream_dedup_watermark", oracle=_wm_dedup_oracle())
def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STOCK watermarked-dedup API itself —
    ``dropDuplicatesWithinWatermark`` (VERDICT r08 item #6; the Spark
    primitive SURVEY §2.9 maps the reference's per-key high-water-mark
    dedup onto, previously covered only via the exact-semantics
    ``applyInPandasWithState`` twin q_stream_dedup_state): documents
    arrive over three doc_id-monotone micro-batches, band themselves
    row-locally into their band-0 LSH bucket, and the engine's own
    bounded-state dedup drops every bucket re-arrival whose key state
    is still within the watermark delay.  The delay (1 day) exceeds the
    replayed ts span (~8 h), so the replay-to-completion parity is
    exact: one emitted row per distinct bucket, from the first
    micro-batch containing it — 17 cross-batch and 4 within-batch
    duplicate keys are really dropped at sf0.01.

    The output projects the emitted row to (bucket, first_batch) where
    first_batch derives from the winning doc_id's range — within the
    winning batch the engine keeps an arbitrary row, but every row of
    that batch maps to the same batch index, so the result is
    deterministic and full-hash-oracle-able (the q_stream_late_metrics
    engineered-arrival device applied to the dedup operator).

    Scale shape: the only shuffle key is (bucket); state per key is one
    (key, expiry) entry evicted as the watermark passes — the stock
    bounded-state guarantee this query pins."""
    from ..operators import dedup

    ensure_runtime_confs(spark)
    n = (
        load(spark, sf_dir, "documents")
        .agg(F.max("doc_id"))
        .collect()[0][0]
        + 1
    )
    cut1, cut2 = n // 3, 2 * (n // 3)
    schema = "doc_id BIGINT, text STRING"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_doc_batches_dir(spark, sf_dir))
    )
    banded = dedup.minhash_bands_rowlocal(
        stream, n=3, num_hashes=16, rows_per_band=2
    )
    keyed = banded.select(
        "doc_id",
        F.element_at("bands", 1).getField("bucket").alias("bucket"),
        F.timestamp_micros(
            F.lit(_SESSION_DEDUP_BASE_US) + F.col("doc_id") * F.lit(60_000_000)
        ).alias("ts"),
    ).withWatermark("ts", "1 day")
    deduped = keyed.dropDuplicatesWithinWatermark(["bucket"])
    out = _run_to_memory(deduped, "append")
    return out.select(
        "bucket",
        F.when(F.col("doc_id") < cut1, F.lit(0))
        .when(F.col("doc_id") < cut2, F.lit(1))
        .otherwise(F.lit(2))
        .cast("long")
        .alias("first_batch"),
    )


@query(
    "q_stream_update_mode",
    oracle=_wm_dedup_oracle().replace(
        """SELECT bucket,
           CAST(CASE WHEN mn < (SELECT nn // 3 FROM n) THEN 0
                     WHEN mn < (SELECT 2 * (nn // 3) FROM n) THEN 1
                     ELSE 2 END AS BIGINT) AS first_batch
    FROM (SELECT bucket, min(doc_id) AS mn FROM b0 GROUP BY bucket)""",
        """SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT CASE WHEN doc_id < (SELECT nn // 3 FROM n)
                          THEN 0
                          WHEN doc_id < (SELECT 2 * (nn // 3) FROM n)
                          THEN 1 ELSE 2 END) AS BIGINT) AS n_batches_seen
    FROM b0 GROUP BY bucket""",
    ),
)
def q_stream_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode semantics pinned (completes the output-mode
    family: append = q_stream_late_*, complete = q_stream_agg et al.):
    a per-bucket streaming count over the three doc_id-monotone
    micro-batches runs in update mode, which re-emits a key's row in
    every batch where its aggregate CHANGED — so the sink's MAX count
    per key must equal the batch groupBy total, and the NUMBER of sink
    rows per key equals the number of distinct batches that touched
    the key (each touch changes the count, so each touch emits exactly
    once; complete mode would emit every key every batch, append would
    refuse a non-watermarked agg outright).

    Output: per bucket the final count (max over update emissions) and
    the touch count (rows in the sink) — both replayed by the oracle
    from the batch ranges.

    Scale shape: the stock streaming agg; state = one count per
    bucket, shuffle key = bucket; update mode's emission volume is
    touches, not keys x batches (the complete-mode trap at scale)."""
    from ..operators import dedup

    ensure_runtime_confs(spark)
    schema = "doc_id BIGINT, text STRING"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_doc_batches_dir(spark, sf_dir))
    )
    banded = dedup.minhash_bands_rowlocal(
        stream, n=3, num_hashes=16, rows_per_band=2
    )
    keyed = banded.select(
        F.element_at("bands", 1).getField("bucket").alias("bucket")
    )
    agg = keyed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    sink = _run_to_memory(agg, "update")
    return sink.groupBy("bucket").agg(
        F.max("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_batches_seen"),
    )


# ---------------------------------------------------------------------------
# Stream-stream LEFT OUTER join with watermark eviction (round 9b)
# ---------------------------------------------------------------------------


@query(
    "q_stream_outer_join",
    oracle="""
    WITH wm AS (
        SELECT least(
                 max(CASE WHEN event_type = 'click'
                          THEN epoch_us(ts) END),
                 max(CASE WHEN event_type = 'purchase'
                          THEN epoch_us(ts) END)) - 1800000000 AS cut
        FROM events
    ),
    m AS (
        SELECT p.event_id AS purchase_id, c.event_id AS click_id,
               p.user_id AS user_id,
               epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        FROM events p
        JOIN events c
          ON p.user_id = c.user_id
         AND p.event_type = 'purchase' AND c.event_type = 'click'
         AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 3600000000
                                AND epoch_us(p.ts)
    ),
    u AS (
        SELECT p.event_id AS purchase_id,
               CAST(NULL AS BIGINT) AS click_id,
               p.user_id AS user_id,
               CAST(NULL AS BIGINT) AS gap_us
        FROM events p
        WHERE p.event_type = 'purchase'
          AND epoch_us(p.ts) < (SELECT cut FROM wm)
          AND NOT EXISTS (
              SELECT 1 FROM events c
              WHERE c.user_id = p.user_id AND c.event_type = 'click'
                AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 3600000000
                                       AND epoch_us(p.ts))
    )
    SELECT * FROM m UNION ALL SELECT * FROM u
    """,
)
def q_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join — q_stream_stream_join's inner
    match PLUS the abandoned-purchase rows (purchases with no click in
    the preceding hour) that only the watermark can release: in append
    mode an unmatched left row emits its null-padded result exactly
    when the global watermark passes its event time (no future click
    can match), so the OUTER half of the result is a statement about
    WATERMARK EVICTION, not just about the data.

    The oracle encodes that eviction rule exactly (empirically pinned,
    and test-pinned in tests/test_round9c_ops.py): global watermark =
    min over both inputs of (max event time) − 30 min delay, and an
    unmatched purchase emits iff p_ts < watermark — purchases inside
    the final 30-minute tail stay in state forever on a bounded replay
    and are withheld by design (1,946 of 1,948 unmatched emit at
    sf0.01).  Matched rows equal the batch range join regardless.

    Scale: both sides shuffle once on user_id; state is bounded by the
    1h range condition + 30min delay (without them the join buffers
    both streams forever); eviction work is proportional to state, not
    stream."""
    stream = _stream_events(spark, sf_dir).withColumn(
        "ts_t", F.timestamp_micros(F.expr("ts div 1000"))
    )
    clicks = (
        stream.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts_t").alias("c_ts"),
        )
        .withWatermark("c_ts", "30 minutes")
    )
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts_t").alias("p_ts"),
        )
        .withWatermark("p_ts", "30 minutes")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "leftOuter",
    )
    out = _run_to_memory(joined, "append")
    return out.select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# Chained stateful operators: dedup -> windowed agg (round 9b)
# ---------------------------------------------------------------------------


@query(
    "q_stream_dedup_then_window",
    oracle="""
    WITH wm AS (
        SELECT max(epoch_us(ts)) - 1800000000 AS cut FROM events
    ),
    w AS (
        SELECT event_type,
               epoch_us(ts) // 3600000000 * 3600000000 AS win_start_us,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, win_start_us, n
    FROM w, wm WHERE win_start_us + 3600000000 <= cut
    """,
)
def q_stream_dedup_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED STATEFUL streaming operators — the Spark 3.5+/4
    capability of running TWO state stores in one query with watermark
    propagation between them: ``dropDuplicatesWithinWatermark`` feeds a
    tumbling-window count (the at-least-once-ingest dashboard: dedup
    the redelivered events, then aggregate).  Duplicates are
    SYNTHESIZED in the stream plan (every event_id % 5 == 0 row emitted
    twice), so a dedup miss inflates exactly those windows' counts and
    breaks the hash — the dedup stage is verified by the aggregation
    stage.

    Emission rule (empirically pinned, test-pinned): append mode
    finalizes a window when the propagated watermark (max event time −
    30 min delay) passes its END — 3,380 of 3,385 windows emit at
    sf0.01; the trailing tail stays in state on a bounded replay.

    Scale: dedup state is keyed on event_id and EVICTED at the
    watermark (bounded by the delay window, unlike plain
    dropDuplicates whose state grows forever); the window agg keys are
    (window, type) — both stages shuffle once each."""
    stream = _stream_events(spark, sf_dir).withColumn(
        "ts_t", F.timestamp_micros(F.expr("ts div 1000"))
    )
    dup = stream.withColumn(
        "copy",
        F.explode(
            F.when(
                F.col("event_id") % 5 == 0,
                F.array(F.lit(1), F.lit(2)),
            ).otherwise(F.array(F.lit(1)))
        ),
    )
    deduped = dup.withWatermark("ts_t", "30 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy(F.window("ts_t", "1 hour"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    out = _run_to_memory(agg, "append")
    return out.select(
        "event_type",
        F.unix_micros(F.col("window.start")).alias("win_start_us"),
        F.col("n").cast("long").alias("n"),
    )
