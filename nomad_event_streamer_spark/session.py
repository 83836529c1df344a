"""SparkSession construction and runtime configuration.

Design notes for 100 TB posture (SURVEY.md section 4.3):

- AQE on: runtime broadcast-join conversion, skew-join splitting, and
  shuffle-partition coalescing replace any hand-tuned physical planning.
- Arrow on: every pandas-UDF exchange is columnar-batched.
- ``spark.sql.legacy.parquet.nanosAsLong``: the driver testdata's
  ``events.ts`` column is parquet TIMESTAMP(NANOS), which Spark 4 refuses
  by default.  Reading it as a ns-epoch long matches the reference's own
  time model (ns-epoch ints built in ``app.rb:10-23`` and compared in
  ``app.rb:154-167``); conversion to usec timestamps is explicit at the
  query layer (``tables.ts_us_expr``).
- ``spark.sql.sources.parallelPartitionDiscovery.threshold`` 1024: a
  file-stream micro-batch (``FileStreamSource.getBatch``) re-lists its
  own files, one root path per file, and above this threshold (Spark's
  default is 32) that listing runs as a Spark job with one task per
  file.  A Nomad replay batch names 100-200 files, so every batch paid a
  job of that many one-stat tasks.  The source reads the conf from the
  reader's session on every batch, not from the query's copy, so it
  must be set session-wide.  1024 is several times a live batch's file
  count; a batch read that names 33-1024 root paths (or that many
  subdirectories) now lists them serially on the driver, which is
  faster on local disk but up to 1024 serial stats on an object store.
  No batch read in this package names more than a few paths.

All confs here are *runtime-settable* so they work both on sessions we
build and on sessions handed to us by the verification driver.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

# Confs that are safe (and necessary) to set on an already-running session.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # testdata events.ts is parquet TIMESTAMP(NANOS): read as ns-epoch long
    # (mirrors the reference's ns-epoch time model, app.rb:10-23).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic session timezone so timestamp<->epoch conversions match
    # the DuckDB oracle regardless of host TZ.
    "spark.sql.session.timeZone": "UTC",
    # A file-stream batch lists its files on the driver, not in a
    # one-task-per-file job (module docstring).
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "1024",
}

# Confs that must be set before the JVM/session starts.
BUILD_CONFS: dict[str, str] = {
    "spark.sql.shuffle.partitions": "32",
    "spark.ui.enabled": "false",
    "spark.driver.memory": "8g",
}


# SparkContext application ids the package zip has been shipped to.
_SHIPPED_APPS: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Pandas-UDF closures pickle functions from this package *by reference*
    (cloudpickle's rule for importable modules), so workers must be able
    to ``import nomad_event_streamer_spark`` themselves.  On a real
    cluster the driver's checkout is never on executor paths; even in
    local mode the worker's cwd can differ from the repo.  Shipping a
    zip via ``addPyFile`` covers both — workers prepend it to sys.path.
    """
    sc = spark.sparkContext
    if sc.applicationId in _SHIPPED_APPS:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # Collect source files deterministically and CONTENT-ADDRESS the zip:
    # a pid-keyed name collides with stale zips from recycled pids (a /tmp
    # full of old sessions' zips shipped a package missing newer modules —
    # observed as worker-side ModuleNotFoundError), and a fixed name races
    # concurrent drivers.  Keying by (path, mtime, size) of every member
    # makes the cache self-invalidating; os.replace keeps creation atomic
    # so a concurrent reader never sees a half-written archive.
    members = []
    digest = hashlib.md5()
    for root, _dirs, files in sorted(os.walk(pkg_dir)):
        for fname in sorted(files):
            if fname.endswith(".py"):
                full = os.path.join(root, fname)
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                st = os.stat(full)
                digest.update(
                    f"{rel}:{st.st_mtime_ns}:{st.st_size}".encode()
                )
                members.append((full, rel))
    zip_path = os.path.join(
        tempfile.gettempdir(), f"nes_spark_pkg_{digest.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zip_path):
        tmp = f"{zip_path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for full, rel in members:
                zf.write(full, rel)
        os.replace(tmp, zip_path)
    sc.addPyFile(zip_path)
    _SHIPPED_APPS.add(sc.applicationId)


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to any session (ours or the driver's).

    Every declared query calls this first, so correctness does not depend
    on who constructed the SparkSession.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # conf may be static on some builds; never fatal
            pass
    try:
        ship_package(spark)
    except Exception:  # never let shipping break a pure-Column query
        pass
    return spark


def get_spark(
    app_name: str = "nomad-event-streamer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard confs."""
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    confs = dict(BUILD_CONFS)
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    for key, value in confs.items():
        builder = builder.config(key, value)
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    return ensure_runtime_confs(builder.getOrCreate())
