"""Testdata table loaders and canonical column expressions.

Tables (TESTDATA.md / FIXTURES.md section B): region nation customer
supplier part orders lineitem events documents embeddings — one parquet
per table under ``{sf_dir}/{name}.parquet``.

Time handling: the engine's canonical ``events.ts`` is a **ns-epoch long**
(mirroring the reference's ns-epoch time model, app.rb:10-23).  The driver's
parquet has shipped ``ts`` as either TIMESTAMP(NANOS) (read as a ns long via
``spark.sql.legacy.parquet.nanosAsLong``) or TIMESTAMP(MICROS) (read as a
timestamp); ``load`` normalizes both to the ns-long contract so every
downstream expression is encoding-independent.  Derived columns:

- ``ts_us``  : bigint usec epoch = ``ts div 1000`` (truncation — matches
  DuckDB's ns->usec truncation exactly; verified on the testdata).
- ``ts_t``   : TimestampType at usec precision, for date_trunc/windows.

All declared query outputs emit *bigint epochs or formatted strings* rather
than raw timestamps, so the driver's value-hash never depends on an
engine-specific timestamp serialization.

Schema cache: a parquet read without a schema runs a one-task Spark job
to read the file footer (about 65 ms of wall time each) before the
DataFrame exists, and a registry query loads up to five tables.  So
``schema`` infers each table's schema once and ``load`` reads with it,
as a metastore would.  The key is the file's identity (qualified path,
modification time and length, from the Hadoop ``FileSystem``) plus the
set session confs that shape the inferred schema (``spark.sql.parquet.*``,
``spark.sql.legacy.parquet.*``, ``spark.sql.caseSensitive``), so a
rewritten table or a changed conf infers again.  Only the ``StructType``
is cached: no data and no plans.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .session import ensure_runtime_confs

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Session confs that change the schema Spark infers from a parquet footer
# (the inputs of ParquetToSparkSchemaConverter, and mergeSchema).
_SCHEMA_CONF_PREFIXES = ("spark.sql.parquet.", "spark.sql.legacy.parquet.")
_SCHEMA_CONFS = ("spark.sql.caseSensitive",)

# Inferred schemas by (qualified path, mtime, length, schema-shaping confs).
_SCHEMAS: dict[tuple, StructType] = {}


def ts_us():
    """usec-epoch long from the ns-epoch long (floor division == DuckDB
    epoch_us truncation)."""
    return F.expr("ts div 1000")


def ts_t():
    """usec-precision timestamp from the ns-epoch long."""
    return F.timestamp_micros(F.expr("ts div 1000"))


def canonicalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``ts`` to the canonical ns-epoch long, whatever the
    parquet encoding delivered.

    TIMESTAMP_NTZ casts through TIMESTAMP under the UTC session zone
    (set in RUNTIME_CONFS), so the instant is preserved; ``unix_micros``
    then yields the exact usec epoch and ``* 1000`` restores the ns
    contract (zero sub-usec digits — lossless).  Pure column arithmetic:
    stays in codegen.  Pushdown caveat: on the bigint (nanosAsLong)
    path ``ts`` is untouched and comparisons push to the parquet scan;
    on the timestamp path the column is REPLACED by an expression, so
    parquet predicate pushdown on the canonical ``ts`` is defeated
    (only codegen/partition benefits remain) — filter on the raw
    column first if scan pruning matters.

    Accepts only the encodings the testdata contract can produce
    (bigint nanos, timestamp, timestamp_ntz); anything else — e.g.
    double seconds or strings from schema drift — raises instead of
    silently casting to a wrong epoch."""
    dtype = dict(df.dtypes).get("ts")
    if dtype is None or dtype == "bigint":
        return df
    if dtype not in ("timestamp", "timestamp_ntz"):
        raise TypeError(
            f"events.ts arrived as {dtype!r}; expected bigint (ns) or "
            "timestamp[_ntz] — refusing to guess the epoch unit"
        )
    return df.withColumn(
        "ts", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
    )


def _schema_key(spark: SparkSession, path: str) -> tuple:
    """The file's identity and the set confs that shape its schema."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    status = jpath.getFileSystem(sc._jsc.hadoopConfiguration()).getFileStatus(jpath)
    # One round trip for the set keys; reading the whole map through py4j
    # costs about 25 ms.
    jconf = spark._jsparkSession.conf()
    keys = jconf.getAll().keys().mkString("\n").split("\n")
    confs = tuple(
        (k, jconf.get(k))
        for k in sorted(keys)
        if k.startswith(_SCHEMA_CONF_PREFIXES) or k in _SCHEMA_CONFS
    )
    return (
        status.getPath().toString(),
        status.getModificationTime(),
        status.getLen(),
        confs,
    )


def schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """One table's parquet schema exactly as an inferring read gives it,
    before ``canonicalize_events_ts``.

    Inferred once per key and then cached: the key is the file's
    qualified path, modification time and length plus the set
    ``spark.sql.parquet.*``, ``spark.sql.legacy.parquet.*`` and
    ``spark.sql.caseSensitive`` confs, so a rewritten file or a changed
    conf infers again.  Inference runs a one-task footer job (about
    65 ms of wall time); the key costs a few py4j round trips.  Only the
    schema is cached, never data or plans.  Applies runtime confs first,
    like ``load``."""
    ensure_runtime_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    key = _schema_key(spark, path)
    if key not in _SCHEMAS:
        _SCHEMAS[key] = spark.read.parquet(path).schema
    return _SCHEMAS[key]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table; applies runtime confs first so the ns
    parquet type and UTC session TZ are always in effect.

    Reads with the cached ``schema`` (see there for the key), so only
    the first load of a table runs the footer-reading Spark job; data
    and plans are not cached."""
    df = spark.read.schema(schema(spark, sf_dir, name)).parquet(
        f"{sf_dir}/{name}.parquet"
    )
    if name == "events":
        df = canonicalize_events_ts(df)
    return df


def events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with canonical derived time columns ``ts_us`` / ``ts_t``."""
    return load(spark, sf_dir, "events").withColumns(
        {"ts_us": ts_us(), "ts_t": ts_t()}
    )


def rebalance_for_cpu(df: DataFrame, factor: int = 1) -> DataFrame:
    """Rebalance a small-file scan across cores for CPU-bound operators.

    A tiny parquet file arrives as ONE input partition, serializing
    hash-heavy work (measured: 12s -> 1s for MinHash signatures at
    sf0.1).  Only repartitions when the scan has fewer partitions than
    the cluster's parallelism — at production scale (thousands of input
    splits) this is a no-op, so it never introduces a shuffle where the
    data is already spread.

    ``factor=1`` (one partition per core), not 2: an interleaved A/B at
    sf0.1/local[32] over the 7 heaviest CPU-bound headliners (8 runs per
    arm per query, alternating arms so JVM warm-up cancels) measured
    2x oversubscription as pure overhead — factor=1 won EVERY query,
    -16% total (12.31s -> 10.33s; q_multimodal_decode -36%,
    q_tfidf_top3 -25%, q_minhash_est -23%).  Task durations here are
    uniform (same text-stat work per row), so oversubscription buys no
    straggler smoothing and costs ~2x task-scheduling overhead per
    stage.  On a real cluster with skewed splits, callers can pass
    factor=2 explicitly; AQE skew-split covers the shuffle side."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def round2(col):
    """Portable 2dp rounding: floor(x*100 + 0.5)/100 — every step is an
    IEEE op on identical doubles, so Spark and DuckDB agree bit-for-bit.
    (Spark's round() rounds the double's *shortest decimal repr* via
    BigDecimal.valueOf while DuckDB rounds the exact binary value; the two
    diverge at half boundaries, e.g. a product whose shortest repr ends in
    "...5".  This helper sidesteps the engine difference entirely.)"""
    return F.floor(col * F.lit(100.0) + F.lit(0.5)) / F.lit(100.0)


def round4(col):
    """Portable 4dp rounding (see round2)."""
    return F.floor(col * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)


ORACLE_ROUND2 = "(floor(({x}) * 100.0 + 0.5) / 100.0)"
ORACLE_ROUND4 = "(floor(({x}) * 10000.0 + 0.5) / 10000.0)"


def quantize_units(col, scale: float = 100.0):
    """Exact half-up integer quantization (floats → integer units at
    1/scale resolution): ``floor(x*scale + 0.5)`` as BIGINT.  The float
    policy's entry point for order-independent arithmetic — integer
    sums/maxes/medians of the units are associative-exact, where any
    double accumulation is summation-order sensitive.  Oracle side:
    ``CAST(floor(x * <scale> + 0.5) AS BIGINT)``.  See round2 for why
    floor-half-up and never round()."""
    return F.floor(col * F.lit(float(scale)) + F.lit(0.5)).cast("long")


def cents(col):
    """quantize_units at cents resolution — the money/value default."""
    return quantize_units(col, 100.0)


def dec_sum(col: str, alias: str):
    """Exact money sum: cast to DECIMAL(18,2) pre-sum so the aggregate is
    order-insensitive and bit-identical to the DuckDB oracle, then emit as
    double.  (Float policy, SURVEY.md section 2 preamble.)"""
    return F.round(F.sum(F.col(col).cast("decimal(18,2)")).cast("double"), 2).alias(alias)


def dec_avg(col: str, alias: str):
    """Exact-sum average: decimal sum -> double -> / count -> portable
    round2.  Both engines divide the same two exact values and the
    floor-based rounding is pure IEEE, so the result is bit-identical."""
    return round2(
        F.sum(F.col(col).cast("decimal(18,2)")).cast("double") / F.count(F.col(col))
    ).alias(alias)


ORACLE_DEC_SUM = "round(CAST(sum(CAST({col} AS DECIMAL(18,2))) AS DOUBLE), 2)"
ORACLE_DEC_AVG = ORACLE_ROUND2.format(
    x="CAST(sum(CAST({col} AS DECIMAL(18,2))) AS DOUBLE) / count({col})"
)
