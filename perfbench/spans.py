"""Spans and counters for the traced run.

Spans are recorded only from the benchmark's own files, around its calls
into the program's layers.  Each span has a name, start, end, parent and
the run id; they stay in memory and are written out once at the end.
The tracer also times the work only a traced run does, which is the
overhead it reports: its own span bookkeeping, the operator wrappers'
bookkeeping and every ``statusTracker`` query made for a per-layer
metric.  With ``enabled=False`` every hook is a no-op, so untraced runs
pay nothing.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import sys
import threading
import time
import uuid
from collections import defaultdict

# Operator entry points the batch queries reach, as (module, function).
# ``_safe_prefix`` runs once per BPE training round, so its call count is
# the round count.
OPERATORS = (
    ("bpe", "bpe_train"),
    ("bpe", "_safe_prefix"),
)
PACKAGE = "nomad_event_streamer_spark"


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self.op_calls: dict[str, int] = defaultdict(int)
        self.op_seconds: dict[str, float] = defaultdict(float)
        # Open spans per thread: transports run on the streaming query's
        # callback thread while the main thread waits in its own span.
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "run": self.run_id,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "thread": threading.get_ident(),
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            rec["end"] = t1
            stack.pop()
            with self._lock:
                self.overhead_s += (rec["start"] - t0) + (time.perf_counter() - t1)

    @contextlib.contextmanager
    def overhead(self):
        """Charge the enclosed work, done only for tracing, to the
        overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            with self._lock:
                self.overhead_s += time.perf_counter() - t0

    def wrap_operators(self) -> None:
        """Replace each operator entry point, in its module and wherever
        the package bound it by name, with a span-recording wrapper."""
        if not self.enabled:
            return
        for mod_name, fn_name in OPERATORS:
            module = importlib.import_module(f"{PACKAGE}.operators.{mod_name}")
            original = getattr(module, fn_name, None)
            if original is None:
                print(f"# trace: {mod_name}.{fn_name} not found", file=sys.stderr)
                continue
            key = f"{mod_name}.{fn_name}"

            @functools.wraps(original)
            def wrapped(*args, __key=key, __fn=original, **kwargs):
                with self.span(f"operators.{__key}"):
                    t0 = time.perf_counter()
                    try:
                        return __fn(*args, **kwargs)
                    finally:
                        t1 = time.perf_counter()
                        self.op_seconds[__key] += t1 - t0
                        self.op_calls[__key] += 1
                        with self._lock:
                            self.overhead_s += time.perf_counter() - t1

            for loaded in list(sys.modules.values()):
                if getattr(loaded, "__name__", "").startswith(PACKAGE):
                    for attr, value in list(vars(loaded).items()):
                        if value is original:
                            setattr(loaded, attr, wrapped)

    def operator_metrics(self) -> dict[str, float]:
        out = {}
        for mod_name, fn_name in OPERATORS:
            key = f"{mod_name}.{fn_name}"
            out[f"operators.{key}_s"] = self.op_seconds.get(key, 0.0)
            out[f"operators.{key}_calls"] = self.op_calls.get(key, 0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


def job_group_counts(spark, group: str) -> tuple[int, int]:
    """``(jobs, tasks)`` Spark ran under job group ``group``, from the
    status tracker."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for job_id in jobs:
        info = tracker.getJobInfo(job_id)
        for stage_id in info.stageIds if info else ():
            stage = tracker.getStageInfo(stage_id)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks
