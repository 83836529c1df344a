"""Streaming late-data protocol fuzzer (VERDICT r06 item #6).

q_stream_late_metrics pins Spark's watermark protocol empirically for ONE
engineered arrival schedule (user_id % 3, three batches).  This fuzzer
randomizes what that query holds fixed — batch count (2-4), row->batch
assignment (including skewed and EMPTY batches), and watermark delay —
and asserts the pinned drop/emit rules reproduce Spark's actual output on
every ordering:

- enactment lag: rows of batch N are dropped iff their window end <=
  (max event time over batches 0..N-2) - delay; batches 0 and 1 are never
  filtered;
- append-mode emission boundary: after the trailing empty batch, exactly
  the windows whose end <= (global max event time) - delay have been
  emitted;
- counts per emitted window include every non-dropped row.

The expected side is computed in plain Python from the SAME materialized
batch files the stream reads (no cross-engine hash replication needed —
the assignment itself is the random variable), so a mismatch means the
pinned protocol is wrong for that ordering, not float noise.

Run: python scripts/fuzz.py stream_late [n_seeds] [out.json]
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import uuid

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

SF = "/root/testdata/sf0.001"
SEED_BASE = 0
HOUR_US = 3_600_000_000


def _load_events(spark: SparkSession):
    """(event_id, user_id, ts_ns) rows via the engine's canonical loader."""
    from nomad_event_streamer_spark.tables import load

    return [
        (r["event_id"], r["user_id"], r["ts"])
        for r in load(spark, SF, "events")
        .select("event_id", "user_id", "ts")
        .collect()
    ]


def _write_batches(spark: SparkSession, rows, assignment, n_batches: int) -> str:
    """One parquet file per batch, mtime-ordered so the file source
    replays them as batches 0..B-1.  Empty batches produce an empty
    (schema-only) parquet file — a batch with no data."""
    work = tempfile.mkdtemp(prefix="nes_latefuzz_work_")
    out = tempfile.mkdtemp(prefix="nes_latefuzz_in_")
    df = spark.createDataFrame(
        [(e, u, t, assignment[e]) for (e, u, t) in rows],
        "event_id long, user_id long, ts long, b int",
    )
    for b in range(n_batches):
        df.where(F.col("b") == b).drop("b").coalesce(1).write.parquet(
            f"{work}/b{b}"
        )
        part = glob.glob(f"{work}/b{b}/part-*.parquet")[0]
        dst = os.path.join(out, f"{chr(97 + b)}_{b}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1000 + b * 100, 1000 + b * 100))
    shutil.rmtree(work)
    return out


def _expected(rows, assignment, n_batches: int, delay_us: int,
              win_us: int = HOUR_US):
    """Replay the pinned protocol in plain Python."""
    by_batch: dict[int, list[int]] = {b: [] for b in range(n_batches)}
    for e, _u, ts_ns in rows:
        by_batch[assignment[e]].append(ts_ns // 1000)
    # running max event time after each batch (None until data seen)
    run_max: list[int | None] = []
    cur: int | None = None
    for b in range(n_batches):
        if by_batch[b]:
            m = max(by_batch[b])
            cur = m if cur is None else max(cur, m)
        run_max.append(cur)
    # drop rule with one-batch enactment lag
    kept_ws: list[int] = []
    for b in range(n_batches):
        if b <= 1 or run_max[b - 2] is None:
            wm = None
        else:
            wm = run_max[b - 2] - delay_us
        for us in by_batch[b]:
            ws = (us // win_us) * win_us
            if wm is None or ws + win_us > wm:
                kept_ws.append(ws)
    # append-mode emission boundary after the trailing empty batch
    if run_max[-1] is None:
        return {}
    wm_all = run_max[-1] - delay_us
    counts: dict[int, int] = {}
    for ws in kept_ws:
        if ws + win_us <= wm_all:
            counts[ws] = counts.get(ws, 0) + 1
    return counts


def _actual(spark: SparkSession, d: str, delay_us: int,
            win_us: int = HOUR_US):
    from nomad_event_streamer_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    delay_min = delay_us // 60_000_000
    win_min = win_us // 60_000_000
    stream = (
        spark.readStream.schema("event_id long, user_id long, ts long")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .withColumn("ts_t", F.timestamp_micros(F.expr("ts div 1000")))
    )
    agg = (
        stream.withWatermark("ts_t", f"{delay_min} minutes")
        .groupBy(F.window("ts_t", f"{win_min} minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = f"latefuzz_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="nes_latefuzz_ckpt_")
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(ckpt, "cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = spark.table(name).select(
            F.unix_micros(F.col("window.start")).alias("ws"), "n"
        )
        return {r["ws"]: r["n"] for r in out.collect()}
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def setup(run):
    return _load_events(run.spark)


def case(rng, seed):
    n_batches = rng.choice([2, 3, 3, 4])
    delay_us = rng.choice([5, 10, 10, 20]) * 60_000_000
    win_us = rng.choice([30, 60, 60, 120]) * 60_000_000
    # weighted assignment, sometimes leaving a batch empty
    weights = [rng.random() + 0.05 for _ in range(n_batches)]
    if n_batches >= 3 and rng.random() < 0.2:
        weights[rng.randrange(n_batches)] = 0.0  # engineered empty batch
    tot = sum(weights)
    cum, acc = [], 0.0
    for w in weights:
        acc += w / tot
        cum.append(acc)
    # the row -> batch draws continue on this RNG in check, over the rows
    return {
        "n_batches": n_batches,
        "delay_us": delay_us,
        "win_us": win_us,
        "_cum": cum,
        "_rng": rng,
    }


def assign(rows, c) -> dict:
    """Row -> batch, drawn from the case's RNG by the cumulative weights."""
    rng, assignment = c["_rng"], {}
    for e, _u, _t in rows:
        x = rng.random()
        assignment[e] = next(i for i, p in enumerate(c["_cum"]) if x <= p)
    return assignment


def check(run, c):
    rows = run.state
    assignment = assign(rows, c)
    d = _write_batches(run.spark, rows, assignment, c["n_batches"])
    try:
        exp = _expected(rows, assignment, c["n_batches"], c["delay_us"], c["win_us"])
        act = _actual(run.spark, d, c["delay_us"], c["win_us"])
    finally:
        shutil.rmtree(d, ignore_errors=True)
    run.agree(expected=exp, spark=act)
