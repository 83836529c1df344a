"""Self-checks for the benchmark's own pieces.

    python3 perfbench/selfcheck.py

Checks that the traffic generator is deterministic, that the percentile
helper reports its sample count, that the CPU-time reader counts a busy
child process, that the pure-Python reference agrees
with the program's pipeline on a small capture (streamed through
``http_transport`` into the receiver), and that deleting one expected
delivery or flipping one query hash makes the run fail.  Exits non-zero
on the first failed check.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
import time

from run import WORK_ROOT, isolate_scratch, shut_down  # sets up the import path

import batch  # noqa: E402
import reference  # noqa: E402
import traffic  # noqa: E402
from nomad_event_streamer_spark.session import get_spark  # noqa: E402
from nomad_event_streamer_spark.streaming.runner import build_stream, start_webhook_query  # noqa: E402
from nomad_event_streamer_spark.streaming.sinks import http_transport  # noqa: E402
from cputime import tree_cpu_s  # noqa: E402
from receiver import WebhookReceiver  # noqa: E402
from stats import percentile  # noqa: E402


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"FAIL: {what}")
    print(f"ok: {what}")


def check_generator(work_dir: str) -> list[tuple[int, str]]:
    spec = traffic.TrafficSpec(seed=7, envelopes=300)
    first, second = traffic.generate(spec), traffic.generate(spec)
    check(first == second, "same seed, same lines")
    a = traffic.write_files(first, os.path.join(work_dir, "a"), 50)
    b = traffic.write_files(second, os.path.join(work_dir, "b"), 50)
    check(
        all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b)),
        "same seed, byte-identical files",
    )
    other = traffic.generate(traffic.TrafficSpec(seed=8, envelopes=300))
    check(other != first, "another seed, other lines")
    lines = [line for _, line in first]
    check(sum(line == "{}" for line in lines) > 0, "capture holds heartbeats")
    check(any('"Topic":"Node"' in line for line in lines), "capture holds other topics")
    check(any("connect-proxy" in line for line in lines), "capture holds connect-proxy tasks")
    check_shapes(spec, lines)
    return first


def check_shapes(spec: traffic.TrafficSpec, lines: list[str]) -> None:
    """The traffic has the fixture's shape: every task history at least
    the pre-aged depth, and the connect-proxy and deny-listed shares near
    their inputs."""
    depths, proxies, events = [], [], {}
    for line in lines[spec.allocations :]:
        for event in json.loads(line).get("Events") or []:
            if event["Topic"] != "Allocation":
                continue
            alloc = event["Payload"]["Allocation"]
            for task, state in alloc["TaskStates"].items():
                depths.append(len(state["Events"]))
                proxies.append("connect-proxy" in task)
                for te in state["Events"]:
                    events[(alloc["JobID"], task, te["Time"])] = te["Type"]
    check(
        min(depths) >= traffic.PRE_AGED_DEPTH[0] and max(depths) <= traffic.TASK_EVENT_CAP,
        "re-sent histories hold 5-10 events",
    )
    proxy_share = sum(proxies) / len(proxies)
    check(abs(proxy_share - spec.proxy_share) < 0.1, f"connect-proxy share {proxy_share:.2f}")
    deny = sum(t in traffic.DENY_TYPES for t in events.values()) / len(events)
    check(abs(deny - spec.deny_share) < 0.1, f"deny-listed share {deny:.2f}")


def check_percentile() -> None:
    p = percentile([float(v) for v in range(1, 11)], 90)
    check((p.value, p.n, p.beyond) == (9.0, 10, 1), "percentile carries n and beyond")


def check_scoring(expected: dict, delivered: list) -> None:
    check(reference.score(expected, delivered)["failed"] == 0, "pipeline matches reference")
    check(reference.score(expected, delivered[1:])["failed"] == 1, "a deleted delivery fails")
    check(reference.score(expected, delivered + delivered[:1])["failed"] == 1, "a duplicate fails")
    dest, uid, subject, state = delivered[0]
    wrong = [(dest, uid, subject + "x", state)] + delivered[1:]
    check(reference.score(expected, wrong)["failed"] == 1, "a wrong subject fails")
    hashes = batch.load_expected()
    flipped = dict(hashes)
    q = next(iter(flipped))
    flipped[q] = ("0" if flipped[q][0] != "0" else "1") + flipped[q][1:]
    check(batch.check_hashes(hashes, hashes) == 0, "recorded hashes check clean")
    check(batch.check_hashes(flipped, hashes) == 1, "a flipped hash fails")


def check_cputime() -> None:
    """A child that spins for about 0.5 s of CPU adds that much to the
    tree's CPU time while it runs and after it has been reaped."""
    spin = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\ninput()"
    before = tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", spin], stdin=subprocess.PIPE, text=True)
    try:
        while tree_cpu_s() - before < 0.4 and child.poll() is None:
            time.sleep(0.02)  # this process's own CPU time stays small
        check(child.poll() is None, "a live child's CPU time counts")
    finally:
        child.communicate("\n", timeout=30)
    after = tree_cpu_s() - before
    check(0.4 <= after < 5.0, f"a reaped child's CPU time counts ({after:.2f} s)")


def pipeline_deliveries(lines: list[tuple[int, str]], work_dir: str) -> list:
    in_dir = os.path.join(work_dir, "capture")
    traffic.write_files(lines, in_dir, 100)
    spark = get_spark(app_name="perfbench-selfcheck", master="local[2]")
    try:
        with WebhookReceiver() as rx:
            query = start_webhook_query(
                build_stream(spark.readStream.text(in_dir), denylist=list(traffic.DENY_TYPES)),
                os.path.join(work_dir, "ckpt"),
                os.path.join(work_dir, "out"),
                transport=http_transport(rx.urls),
                available_now=True,
            )
            query.awaitTermination(300)
            posts = rx.snapshot()
    finally:
        shut_down(spark)
    return [(d,) + reference.decode_delivery(d, body) for d, _, body in posts]


def main() -> None:
    work_dir = os.path.join(WORK_ROOT, f"selfcheck-{os.getpid()}")
    isolate_scratch(work_dir)
    try:
        lines = check_generator(work_dir)
        check_percentile()
        check_cputime()
        expected = reference.expected_events(
            (line for _, line in lines), denylist=traffic.DENY_TYPES
        )
        check(len(expected) > 100, "reference keeps events")
        check_scoring(expected, pipeline_deliveries(lines, work_dir))
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    print("all self-checks passed")


if __name__ == "__main__":
    main()
