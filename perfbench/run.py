"""Benchmark entry point for the Nomad streaming pipeline and the batch
query registry.

    python3 perfbench/run.py --workload nomad_live --seed 1 --seconds 10 --trace 0

Workloads (see ``BENCHMARK.json`` and ``README.md``): ``nomad_live``
streams open-loop Nomad traffic through the webhook pipeline;
``batch_queries`` runs a fixed query list.  With ``--trace 0`` the last
stdout line carries the end-to-end metrics, set-up time and the CPU time
of a unit of work; with ``--trace 1`` it carries the per-layer metrics
of a traced run, which also runs the other workload at minimal size so
that every layer is reported.  Scratch files
live under ``.perfbench/`` in the checkout and are removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench")
sys.path[:0] = [ROOT, HERE]

# Fails here, before any file is written, when the program is missing.
from nomad_event_streamer_spark.session import get_spark  # noqa: E402
from nomad_event_streamer_spark.tables import TABLE_NAMES, load  # noqa: E402

import batch  # noqa: E402
import live  # noqa: E402
from spans import Tracer  # noqa: E402
from stats import percentile  # noqa: E402

WORKLOADS = ("nomad_live", "batch_queries")
# In a traced run the other workload runs at this size.
MINIMAL_SECONDS = 5.0


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return args


def isolate_scratch(work_dir: str) -> None:
    """Point every temporary-file location of Python, Spark and the JVM
    into ``work_dir`` before the JVM starts."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work_dir, sub))
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')}"
    tempfile.tempdir = None


def set_up(master: str, tracer: Tracer, load_tables: bool):
    """The session (with package ship) and, with ``load_tables``, every
    table loaded with its schema resolved.  Returns the session and the
    per-table load times in ms."""
    with tracer.span("session.get_spark"):
        spark = get_spark(app_name="perfbench", master=master)
    load_ms = []
    for name in TABLE_NAMES if load_tables else ():
        t0 = time.perf_counter()
        with tracer.span("tables.load", table=name):
            load(spark, batch.DATA_DIR, name).schema
        load_ms.append((time.perf_counter() - t0) * 1000)
    return spark, load_ms


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def shut_down(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    work_dir = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)  # left by a killed run with this pid
    isolate_scratch(work_dir)
    tracer = Tracer(enabled=bool(args.trace))
    master = f"local[{min(4, len(os.sched_getaffinity(0)))}]"

    spark = None
    try:
        with tracer.span("setup"):
            spark, load_ms = set_up(
                master, tracer, args.workload == "batch_queries" or bool(args.trace)
            )
        tracer.wrap_operators()

        t_run = time.perf_counter()
        live_out = batch_out = None
        if args.workload == "nomad_live" or args.trace:
            secs = args.seconds if args.workload == "nomad_live" else MINIMAL_SECONDS
            with tracer.span("workload.nomad_live"):
                live_out = live.run(spark, secs, args.seed, tracer, work_dir)
        if args.workload == "batch_queries" or args.trace:
            own = args.workload == "batch_queries"
            with tracer.span("workload.batch_queries"):
                batch_out = batch.run(
                    spark,
                    args.seconds if own else 0.0,
                    args.seed,
                    tracer,
                    batch.load_expected(),
                    min_passes=batch.MIN_PASSES if own else 1,
                )
        run_wall_s = time.perf_counter() - t_run
        peak_rss_mb = jvm_peak_rss_mb(spark)
    finally:
        if spark is not None:
            shut_down(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(WORK_ROOT)  # left in place when it keeps a spans file

    parts = [p for p in (live_out, batch_out) if p is not None]
    attempted = sum(p["attempted"] for p in parts)
    failed = sum(p["failed"] for p in parts)
    # Set-up runs from process start until the workload's timing begins:
    # session, package ship, table loads and the workload's warm-up.
    own_out = live_out if args.workload == "nomad_live" else batch_out
    setup = own_out["ready_at"] - T_PROCESS

    # The run in per-workload metric names, before the result line.
    report = {"setup_s": (setup, "s"), "peak_rss_mb": (peak_rss_mb, "MB")}
    if live_out:
        p50 = percentile(live_out["latency_ms"], 50)
        p99 = percentile(live_out["latency_ms"], 99)
        report["live_latency_p50_ms"] = (p50.value, f"ms n={p50.n}")
        report["live_latency_p99_ms"] = (p99.value, f"ms n={p99.n} beyond={p99.beyond}")
        report["live_cpu_s_per_batch"] = (live_out["cpu_s_per_batch"], "s")
        print(f"# live score {json.dumps(live_out['score'])}", file=sys.stderr)
    if batch_out:
        report["relational_wall_s"] = (batch_out["relational_wall_s"], "s")
        report["relational_cpu_s"] = (batch_out["relational_cpu_s"], "s")
        if batch_out["llm_ops_wall_s"] is not None:
            report["llm_ops_wall_s"] = (batch_out["llm_ops_wall_s"], "s")
        report["batch_passes"] = (batch_out["passes"], "count")
        if batch_out["hash_mismatches"]:
            print(f"# hash mismatches: {batch_out['hash_mismatches']}", file=sys.stderr)
    report["failed_frac"] = (failed / attempted, "share")
    for name, (value, unit) in report.items():
        print(f"{name:24s} {value:14.4f} {unit}")

    # The graded figure besides set-up is CPU time of the process tree per
    # unit of work (one timed micro-batch; one pass of the relational
    # queries): on a shared host wall time moves with how long the work
    # waits for a core, CPU time with the work.  Wall times are printed
    # above, and a traced run reports them.
    if args.workload == "nomad_live":
        cpu_s = live_out["cpu_s_per_batch"]
        latency_ms = percentile(live_out["latency_ms"], 50).value
    else:
        cpu_s = batch_out["relational_cpu_s"]
        latency_ms = batch_out["relational_wall_s"] * 1000
    end_to_end = {"setup_s": setup, "cpu_ms": cpu_s * 1000}
    if args.trace:
        overhead_ms = tracer.overhead_s * 1000
        metrics = {
            **live_out["layers"],
            "tables.load_ms_p50": percentile(load_ms, 50).value,
            **batch_out["layers"],
            **tracer.operator_metrics(),
            "jvm.peak_rss_mb": peak_rss_mb,
            "trace.overhead_ms": overhead_ms,
            "trace.overhead_pct": overhead_ms / (run_wall_s * 1000) * 100,
            # The traced run's own figures (live p50 latency or relational
            # wall time, and cpu_ms): compared with the untraced runs of the
            # same workload, they show how much tracing moved them.
            "trace.latency_ms": latency_ms,
            "trace.cpu_ms": end_to_end["cpu_ms"],
        }
        os.makedirs(WORK_ROOT, exist_ok=True)
        tracer.write(os.path.join(WORK_ROOT, f"spans-{tracer.run_id}.jsonl"))
    else:
        metrics = end_to_end
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    unit_of = {m["name"]: m["unit"] for m in declared}
    if set(unit_of) != set(metrics):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {set(unit_of) ^ set(metrics)}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
