"""Seeded Nomad event-stream traffic for the benchmark.

Built on ``sources.synthetic``'s ``task_event``, ``allocation`` and
``envelope`` so the wire shape is the one the pipeline's schema models.
The shape follows the reference's fixture capture (``FIXTURES.md`` A: one
``AllocationUpdated`` whose two tasks, one of them a connect-proxy
sidecar, re-send 5 and 7 task events, 2 of the 5 deny-listed).

Each task walks a lifecycle: every run is a set-up phase of deny-listed
events (Received, Task Setup), then Started, an ending event (Terminated
or Restart Signaled) and Killing.  The first ``allocations`` lines
register every allocation with a pre-aged history of fixture depth, its
events timed before ``base_ns``; after them every ``AllocationUpdated``
adds one lifecycle event to one task and re-sends the allocation's full
cumulative ``TaskStates`` (each task's last ``TASK_EVENT_CAP`` events), as
Nomad does.  That re-send is why the reference deduplicates on
``(task_identifier, Time)`` (app.rb:157-167).

Each new task event's ``Time`` is its envelope's due time (``base_ns``
plus its tick offset), and its ``DisplayMessage`` ends in a unique
``#<uid>`` token so a webhook receiver can map a delivered payload back
to the event that caused it.  No wall-clock value enters the output: the
same ``TrafficSpec`` always produces byte-identical lines.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

from nomad_event_streamer_spark.sources.synthetic import (
    BASE_NS,
    allocation,
    envelope,
    task_event,
)

# Nomad keeps the last 10 events per task (structs.TaskState, maxEvents).
TASK_EVENT_CAP = 10
# The set-up events the benchmark's deny-list removes (app.rb:169-173).
DENY_TYPES = ("Received", "Task Setup")
# Kept events of one run after its set-up phase; the ending event picks
# a classification branch (app.rb:195-209).
RUN_TAIL = 3  # Started, the ending event, Killing
ENDINGS = ("Terminated", "Restart Signaled")
OTHER_TOPICS = ("Node", "Job", "Evaluation", "Deployment")
NAMESPACES = ("default", "batch", "ops")
TASKS_PER_ALLOCATION = 2  # the fixture allocation's task count
PRE_AGED_DEPTH = (5, 7)  # the fixture tasks' history depths


@dataclass(frozen=True)
class TrafficSpec:
    """Generator inputs.  The defaults are the values the benchmark uses;
    the reason for each is next to it."""

    seed: int
    envelopes: int  # traffic envelopes, after the registration lines
    # Distinct allocations (key cardinality), two tasks each.  40 keep
    # every task busy: a 15 s window at 20 envelopes/s adds about 6
    # events per task, so histories stay at the fixture's depth (5-10
    # events) and most exploded rows are re-sends.
    allocations: int = 40
    # Share of events on other topics (Node, Job, ...), which the pipeline
    # drops after parsing (app.rb:128).  A Nomad event stream subscribed
    # to all topics carries several topics at once.
    other_topic_share: float = 0.2
    # Share of lines that are ``{}`` heartbeats (app.rb:110-117).  Nomad
    # sends one every 10 s when idle; here they exercise the split.
    heartbeat_share: float = 0.05
    # Share of tasks that are Consul Connect sidecars, which the pipeline
    # drops (app.rb:141): 1 of the fixture allocation's 2 tasks.
    proxy_share: float = 0.5
    # Share of lifecycle events whose type is deny-listed: 2 of the
    # fixture task's 5.  Sets the mean set-up phase length of a run.
    deny_share: float = 0.4
    # Due-time spacing between envelopes: 50 ms is 20 envelopes/s.  Every
    # capture spans well under the pipeline's 1 h watermark, so no first
    # occurrence is ever late.
    interval_ns: int = 50_000_000
    base_ns: int = BASE_NS


def _details(rng: random.Random, etype: str) -> dict:
    if etype == "Terminated":
        roll = rng.random()
        if roll < 0.15:
            return {"exit_code": "137", "oom_killed": "true"}
        return {"exit_code": "0" if roll < 0.7 else "1", "oom_killed": "false"}
    if etype == "Restart Signaled":
        reason = "task is unhealthy" if rng.random() < 0.5 else "config changed"
        return {"restart_reason": f"Restart within policy: {reason}"}
    return {}


class _Task:
    """One task's lifecycle and its last ``TASK_EVENT_CAP`` events."""

    def __init__(self, rng: random.Random, spec: TrafficSpec) -> None:
        self.rng = rng
        # Mean set-up phase length that makes deny_share of the events
        # deny-listed: L / (L + RUN_TAIL) = deny_share.
        self.setup_mean = RUN_TAIL * spec.deny_share / (1.0 - spec.deny_share)
        self.pending: list[str] = []
        self.history: list[dict] = []

    def _next_type(self) -> str:
        if not self.pending:
            whole = int(self.setup_mean)
            n = whole + (self.rng.random() < self.setup_mean - whole)
            setup = [DENY_TYPES[i % len(DENY_TYPES)] for i in range(n)]
            self.pending = setup + ["Started", self.rng.choice(ENDINGS), "Killing"]
        return self.pending.pop(0)

    def advance(self, time_ns: int, uid: int) -> None:
        etype = self._next_type()
        ev = task_event(etype, time_ns, _details(self.rng, etype))
        ev["DisplayMessage"] = f"{etype} event #{uid}"
        self.history.append(ev)
        del self.history[:-TASK_EVENT_CAP]


def generate(spec: TrafficSpec) -> list[tuple[int, str]]:
    """Return ``(due_ns, line)`` pairs, one per NDJSON line, in due order:
    ``spec.allocations`` registration lines, then ``spec.envelopes``
    traffic lines."""
    rng = random.Random(spec.seed)
    uid = 0
    allocs = []
    for a in range(spec.allocations):
        names = [
            f"connect-proxy-svc{a}-{t}" if rng.random() < spec.proxy_share else f"task{t}"
            for t in range(TASKS_PER_ALLOCATION)
        ]
        tasks = {name: _Task(rng, spec) for name in names}
        for t_i, task in enumerate(tasks.values()):
            depth = rng.randint(*PRE_AGED_DEPTH)
            for k in range(depth):
                uid += 1
                # Seconds before base_ns, distinct per allocation and task.
                ago_ns = ((depth - k) * 1000 + a * 10 + t_i) * 1_000_000
                task.advance(spec.base_ns - ago_ns, uid)
        allocs.append(
            {
                "namespace": rng.choice(NAMESPACES),
                "job_id": f"svc{a}",
                "node": f"node{a % 16}",
                "tasks": tasks,
            }
        )

    def updated(alloc: dict) -> dict:
        return allocation(
            alloc["namespace"],
            alloc["job_id"],
            alloc["node"],
            {name: list(task.history) for name, task in alloc["tasks"].items()},
        )

    out: list[tuple[int, str]] = []
    index = 0
    for tick in range(spec.allocations + spec.envelopes):
        due_ns = spec.base_ns + tick * spec.interval_ns
        if tick < spec.allocations:
            index += 1
            env = envelope(index, [updated(allocs[tick])])
            out.append((due_ns, json.dumps(env, separators=(",", ":"))))
            continue
        if rng.random() < spec.heartbeat_share:
            out.append((due_ns, "{}"))
            continue
        index += 1
        # Nomad groups the events of one Raft index into one envelope.
        allocations, others = [], []
        for slot in range(rng.randint(1, 3)):
            if rng.random() < spec.other_topic_share:
                topic = rng.choice(OTHER_TOPICS)
                others.append(
                    {
                        "Topic": topic,
                        "Type": f"{topic}Updated",
                        "Key": f"{topic.lower()}-{index}-{slot}",
                        "Namespace": "default",
                        "FilterKeys": None,
                        "Index": index,
                        "Payload": {topic: {"ID": f"{topic.lower()}{slot}"}},
                    }
                )
                continue
            alloc = allocs[rng.randrange(len(allocs))]
            uid += 1
            rng.choice(list(alloc["tasks"].values())).advance(due_ns + slot, uid)
            allocations.append(updated(alloc))
        env = envelope(index, allocations)
        env["Events"].extend(others)
        out.append((due_ns, json.dumps(env, separators=(",", ":"))))
    return out


def write_files(lines: list[tuple[int, str]], out_dir: str, per_file: int) -> list[str]:
    """Write ``per_file`` lines per NDJSON file, named so that their
    lexical order is their due order.  Returns the file paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for start in range(0, len(lines), per_file):
        path = os.path.join(out_dir, f"part-{start // per_file:06d}.ndjson")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("\n".join(line for _, line in lines[start : start + per_file]))
            fh.write("\n")
        paths.append(path)
    return paths
