"""``nomad_live``: open-loop Nomad traffic through the streaming pipeline.

The pipeline is the program's own: ``spark.readStream.text`` ->
``build_stream`` (deny-list on) -> ``start_webhook_query`` on its 5 s
processing-time trigger -> ``http_transport`` -> the in-process
receiver, which stamps each POST's arrival.

Warm-up: the query's first micro-batch runs 2-3x slower (class loading,
codegen, state-store creation), so it is given a primer file, the
traffic's registration lines (one per allocation, with its pre-aged
history).  When that batch ends a generator thread starts writing one
NDJSON file per envelope at its due time, ``RATE`` envelopes per second,
and never slows down when the pipeline does.  The batch Spark runs next
(the primer's watermark, and the first traffic files) is warm-up too;
timing begins when it ends.  A warm micro-batch takes longer than the
trigger interval, so from then on batches run back to back and each
takes the arrivals that queued during the one before.  Timing ends at
the first batch end after ``--seconds``, and not before ``MIN_BATCHES``
timed batches have ended.

The metric is the CPU time of the process tree (``cputime``) per timed
batch: the time between two batch ends is the later batch's, and the
work of a batch is mostly fixed (the foreachBatch transports and the
dedup state's tasks), so it does not depend on how the run's batches
fell.  Event latency, from each event's due time to the receipt of its
webhook for both destinations, is reported beside it.
"""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time
from datetime import datetime

from nomad_event_streamer_spark.streaming import pipeline
from nomad_event_streamer_spark.streaming.runner import build_stream, start_webhook_query
from nomad_event_streamer_spark.streaming.sinks import http_transport

import reference
import traffic
from cputime import tree_cpu_s
from receiver import WebhookReceiver
from stats import percentile

# 20 envelopes/s: about 10 delivered events/s to sample latency from, and far
# below the ~450 envelopes/s the pipeline drains from a backlog.
RATE = 20
WARMUP_LIMIT_S = 90  # each warm-up batch must finish within this
BATCH_LIMIT_S = 60  # and each timed batch within this
# The timing ends at the first batch end after --seconds, but not before
# this many batches have ended: their mean CPU time is the metric.  One
# batch's CPU time spread 15 % (IQR over median) over six runs: JVM
# background work (JIT, GC) and Python worker time vary from batch to
# batch.
MIN_BATCHES = 2
# Traffic generated beyond --seconds: the warm-up batch and the last
# timed batch run past it.
TRAFFIC_SLACK_S = 2 * WARMUP_LIMIT_S
# A file written this long before a batch starts is in that batch's
# listing of the input directory.
LISTING_MARGIN_NS = 500_000_000
POLL_S = 0.05
# A generator this late no longer offers the fixed rate: the run is void.
GEN_LATE_LIMIT_NS = 1_000_000_000
DENYLIST = list(traffic.DENY_TYPES)


class Generator(threading.Thread):
    """Writes ``lines[i]`` for ``i >= first`` into ``in_dir`` at
    ``t0_ns + (due - base_ns)``; each file lands by rename, so the file
    source never lists a partial one."""

    def __init__(self, lines, first: int, base_ns: int, t0_ns: int, in_dir: str, tmp_dir: str):
        super().__init__(daemon=True)
        self.lines, self.first, self.base_ns, self.t0_ns = lines, first, base_ns, t0_ns
        self.in_dir, self.tmp_dir = in_dir, tmp_dir
        self.stop_event = threading.Event()
        self.write_ns: dict[int, int] = {}
        self.late_ns_max = 0

    def run(self) -> None:
        for i in range(self.first, len(self.lines)):
            wall_due = self.t0_ns + (self.lines[i][0] - self.base_ns)
            wait = (wall_due - time.time_ns()) / 1e9
            if (wait > 0 and self.stop_event.wait(wait)) or self.stop_event.is_set():
                return
            tmp = os.path.join(self.tmp_dir, f"t{i:07d}")
            with open(tmp, "w", encoding="utf-8") as fh:
                fh.write(self.lines[i][1] + "\n")
            os.replace(tmp, os.path.join(self.in_dir, f"t{i:07d}.ndjson"))
            now = time.time_ns()
            self.late_ns_max = max(self.late_ns_max, now - wall_due)
            self.write_ns[i] = now


def _next_progress(query, after: tuple | None, limit_s: float) -> dict:
    """Wait for the first progress event of a batch other than ``after``
    (a ``(batchId, timestamp)`` pair) and return it."""
    deadline = time.monotonic() + limit_s
    while True:
        if query.exception() is not None:
            raise RuntimeError(f"the streaming query failed: {query.exception()}")
        p = query.lastProgress
        if p is not None and _key(p) != after:
            return p
        if time.monotonic() > deadline:
            raise RuntimeError(f"no micro-batch finished within {limit_s} s")
        time.sleep(POLL_S)


def _stop(spark, query) -> None:
    """Stop the query without waiting for the batch it is running: that
    batch's jobs start from the ``foreachBatch`` callback, outside the
    job group ``query.stop()`` cancels, so their cancellation is repeated
    until the stop returns."""
    stopper = threading.Thread(target=query.stop, daemon=True)
    stopper.start()
    while stopper.is_alive():
        spark.sparkContext.cancelAllJobs()
        stopper.join(0.2)


def _key(progress: dict) -> tuple:
    return progress["batchId"], progress["timestamp"]


def _start_ns(progress: dict) -> int:
    stamp = datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00"))
    return int(stamp.timestamp() * 1e9)


def _mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def run(spark, seconds: float, seed: int, tracer, work_dir: str) -> dict:
    in_dir = os.path.join(work_dir, "live-in")
    tmp_dir = os.path.join(work_dir, "live-tmp")
    os.makedirs(in_dir)
    os.makedirs(tmp_dir)
    spec = traffic.TrafficSpec(
        seed=seed,
        envelopes=int(RATE * (seconds + TRAFFIC_SLACK_S)),
        interval_ns=1_000_000_000 // RATE,
    )
    primer = spec.allocations  # the registration lines
    with tracer.span("sources.generate"):
        lines = traffic.generate(spec)
    expected = reference.expected_events((line for _, line in lines), denylist=DENYLIST)
    with open(os.path.join(in_dir, "primer.ndjson"), "w", encoding="utf-8") as fh:
        fh.write("".join(line + "\n" for _, line in lines[:primer]))

    transport_calls = 0
    transport_s = 0.0

    with WebhookReceiver() as rx:
        base = http_transport(rx.urls)

        def transport(payloads, destination):
            nonlocal transport_calls, transport_s
            t0 = time.perf_counter()
            with tracer.span("streaming.sinks.transport", destination=destination):
                base(payloads, destination)
            transport_calls += 1
            transport_s += time.perf_counter() - t0

        with tracer.span("streaming.runner.start"):
            stream = build_stream(spark.readStream.text(in_dir), denylist=DENYLIST)
            query = start_webhook_query(
                stream,
                os.path.join(work_dir, "live-ckpt"),
                os.path.join(work_dir, "live-out"),
                transport=transport if tracer.enabled else base,
                available_now=False,
            )
        gen = None
        try:
            t_warm = time.monotonic()
            with tracer.span("live.warmup"):
                primed = _next_progress(query, None, WARMUP_LIMIT_S)
                # Traffic starts as the primer's batch ends; its first
                # line is due at once.
                t0_ns = time.time_ns() - (lines[primer][0] - spec.base_ns)
                gen = Generator(lines, primer, spec.base_ns, t0_ns, in_dir, tmp_dir)
                gen.start()
                # The batch Spark starts next, over the primer's watermark
                # and the first few traffic files, is warm-up too.
                last = _next_progress(query, _key(primed), WARMUP_LIMIT_S)
            cpu0 = tree_cpu_s()
            ready_at = time.perf_counter()
            ready_ns = time.time_ns()
            print(f"# live warm-up took {time.monotonic() - t_warm:.1f} s", file=sys.stderr)
            # Batches run back to back from here on, so the CPU time
            # between two batch ends is the later batch's.
            measured = []
            with tracer.span("live.window"):
                while len(measured) < MIN_BATCHES or time.perf_counter() - ready_at < seconds:
                    last = _next_progress(query, _key(last), BATCH_LIMIT_S)
                    measured.append((last, tree_cpu_s()))
        finally:
            if gen is not None:
                gen.stop_event.set()
                gen.join(timeout=10)
            _stop(spark, query)
        posts = rx.snapshot()
        errors = rx.errors
        every = query.recentProgress
        run_id = str(query.runId)

    print(
        "# live batches (id, rows, ms, start - timing start s):",
        [
            (p["batchId"], p["numInputRows"], p["durationMs"].get("triggerExecution"),
             round((_start_ns(p) - ready_ns) / 1e9, 1))
            for p in every
        ],
        file=sys.stderr,
    )
    if gen.late_ns_max > GEN_LATE_LIMIT_NS:
        raise RuntimeError(f"generator ran {gen.late_ns_max / 1e6:.0f} ms late: run void")
    if not gen.is_alive() and len(gen.write_ns) == len(lines) - primer:
        raise RuntimeError("the generator ran out of traffic before the timing ended")
    ends = [cpu0] + [c for _, c in measured]
    cpu_per_batch = [b - a for a, b in zip(ends, ends[1:])]
    print(f"# live CPU s per batch: {[round(c, 2) for c in cpu_per_batch]}", file=sys.stderr)
    # The last timed batch listed every file written before it started,
    # so each event due earlier (with a margin for the listing) must have
    # arrived exactly once per destination; a later one may still be in
    # flight when the query stops, but must not arrive twice or wrong.
    wall = {uid: t0_ns + e["time_ns"] - spec.base_ns for uid, e in expected.items()}
    cutoff_ns = _start_ns(measured[-1][0]) - LISTING_MARGIN_NS - gen.late_ns_max
    required = {uid for uid in expected if wall[uid] < cutoff_ns}
    decoded = [(d, arr) + reference.decode_delivery(d, body) for d, arr, body in posts]
    score = reference.score(
        expected, [(d, uid, subj, st) for d, _, uid, subj, st in decoded], required
    )
    latencies_ms = [
        (arr - wall[uid]) / 1e6
        for _, arr, uid, _, _ in decoded
        if uid in required and wall[uid] >= t0_ns
    ]
    if not latencies_ms:
        raise RuntimeError("no traffic event was delivered in the timed batches")

    progress = [p for p, _ in measured]
    out = {
        "attempted": score["attempted"],
        "failed": score["failed"],
        "score": score,
        "latency_ms": latencies_ms,
        "cpu_s_per_batch": statistics.fmean(cpu_per_batch),
        "ready_at": ready_at,
        "layers": {},
    }
    if tracer.enabled:
        # Batches that reached the sink: the primer's, the warm-up's and
        # the timed ones.
        batches = max(sum(1 for p in every if p["numInputRows"] > 0), 1)
        out["layers"] = _layers(
            spark, tracer, run_id, progress, every, lines, gen, t0_ns, spec.base_ns
        )
        out["layers"].update(
            {
                "streaming.sinks.transport_ms_per_batch": transport_s * 1000 / batches,
                "streaming.sinks.transport_calls_per_batch": transport_calls / batches,
                "streaming.sinks.posts_received": len(posts),
                "streaming.sinks.post_errors": errors,
            }
        )
        with tracer.span("streaming.pipeline.prefix"):
            out["layers"].update(pipeline_prefix(spark, in_dir))
    return out


def _layers(spark, tracer, run_id, measured, every, lines, gen, t0_ns, base_ns) -> dict:
    """Source, runner and dedup metrics from the query's progress events,
    over the timed batches, and from the status tracker, over all."""
    from spans import job_group_counts

    starts = sorted(_start_ns(p) for p in every)
    queue_wait_ms = []
    for i, written in gen.write_ns.items():
        start = next((s for s in starts if s >= written), None)
        if start is not None:
            queue_wait_ms.append((start - (t0_ns + lines[i][0] - base_ns)) / 1e6)
    with tracer.overhead():
        jobs, tasks = job_group_counts(spark, run_id)

    def dur(p, key):
        return p["durationMs"].get(key, 0)

    ops = [p["stateOperators"][0] for p in measured if p.get("stateOperators")]
    trig = [dur(p, "triggerExecution") for p in measured]
    return {
        "sources.queue_wait_ms_p50": percentile(queue_wait_ms, 50).value if queue_wait_ms else 0.0,
        "sources.offset_ms_per_batch": _mean(
            dur(p, "latestOffset") + dur(p, "getBatch") for p in measured
        ),
        "sources.rows_per_batch": _mean(p["numInputRows"] for p in measured),
        "sources.gen_late_ms_max": gen.late_ns_max / 1e6,
        "streaming.runner.batches": len(measured),
        "streaming.runner.batch_ms_p50": percentile(trig, 50).value,
        "streaming.runner.batch_ms_p90": percentile(trig, 90).value,
        "streaming.runner.planning_ms_per_batch": _mean(dur(p, "queryPlanning") for p in measured),
        "streaming.runner.commit_ms_per_batch": _mean(
            dur(p, "walCommit") + dur(p, "commitOffsets") for p in measured
        ),
        "streaming.runner.jobs_per_batch": jobs / len(every),
        "streaming.runner.tasks_per_batch": tasks / len(every),
        "streaming.dedup.rows_total": ops[-1].get("numRowsTotal", 0) if ops else 0,
        "streaming.dedup.memory_bytes": ops[-1].get("memoryUsedBytes", 0) if ops else 0,
        "streaming.dedup.commit_ms_per_batch": _mean(o.get("commitTimeMs", 0) for o in ops),
        "streaming.dedup.update_ms_per_batch": _mean(o.get("allUpdatesTimeMs", 0) for o in ops),
        "streaming.dedup.store_instances_per_batch": _mean(
            o.get("numStateStoreInstances", 0) for o in ops
        ),
    }


def pipeline_prefix(spark, capture_dir: str, repeats: int = 3) -> dict:
    """Cumulative-prefix timing of the pipeline stages on the capture, in
    batch mode: a stage's time is the median time of the prefix ending at
    it minus that of the prefix before it."""
    lines = spark.read.text(capture_dir).cache()
    lines.count()
    parsed = pipeline.parse_envelopes(lines)
    data = pipeline.data_envelopes(parsed)
    exploded = pipeline.explode_task_events(data)
    filtered = pipeline.apply_event_filters(exploded, DENYLIST)
    classified = pipeline.classify_and_format(filtered)
    stages = [
        ("parse", parsed),
        ("data", data),
        ("explode", exploded),
        ("filter", filtered),
        ("classify", classified),
    ]
    out: dict[str, float] = {}
    prev = 0.0
    for name, df in stages:
        times = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        cum = statistics.median(times) * 1000
        out[f"streaming.pipeline.{name}_ms"] = max(cum - prev, 0.0)
        out[f"streaming.pipeline.{name}_rows"] = df.count()
        prev = cum
    out["streaming.pipeline.explode_rows_per_envelope"] = out[
        "streaming.pipeline.explode_rows"
    ] / max(out["streaming.pipeline.data_rows"], 1)
    kept = classified.dropDuplicates(["task_identifier", "event_time_ns"]).count()
    out["streaming.dedup.pass_ratio"] = kept / max(out["streaming.pipeline.classify_rows"], 1)
    lines.unpersist()
    return out
