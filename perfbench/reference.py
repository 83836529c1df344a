"""Independent pure-Python reference for the Nomad pipeline's deliveries.

Reads the generated NDJSON lines with ``json`` and applies the
reference's rules (app.rb:106-209) directly, sharing no code with the
Spark plan: heartbeats and replayed indexes are skipped, only the
Allocation topic is read, connect-proxy tasks are dropped, the deny and
allow lists apply, the first occurrence of each ``(task_identifier,
Time)`` is kept, and the event is classified.  Each kept event becomes
one expected delivery per destination, keyed by the ``#<uid>`` token the
generator puts in ``DisplayMessage``.
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterable

DESTINATIONS = ("discord", "slack")
_UID = re.compile(r"#(\d+)$")


def task_identifier(namespace: str, job_id: str, task_id: str) -> str:
    prefix = "" if namespace == "default" else f"{namespace}/"
    return f"{prefix}{job_id}.{task_id}"


def classify(etype: str, details: dict) -> str | None:
    if etype == "Restart Signaled" and "unhealthy" in (details.get("restart_reason") or ""):
        return "failure"
    if etype == "Terminated":
        if details.get("oom_killed") == "true":
            return "failure"
        return "success" if details.get("exit_code") == "0" else "failure"
    return None


def event_uid(display_message: str) -> int:
    return int(_UID.search(display_message).group(1))


def expected_events(
    lines: Iterable[str],
    denylist: Iterable[str] = (),
    allowlist: Iterable[str] = (),
    starting_index: int = 0,
) -> dict[int, dict]:
    """``uid -> {"subject", "state", "time_ns"}`` for every event the
    pipeline must deliver, in first-occurrence order."""
    deny, allow = set(denylist), set(allowlist)
    seen: set[tuple[str, int]] = set()
    out: dict[int, dict] = {}
    for line in lines:
        env = json.loads(line)
        if env.get("Index") is None and env.get("Events") is None:
            continue  # heartbeat
        if env["Index"] <= starting_index:
            continue
        for event in env["Events"]:
            if event["Topic"] != "Allocation":
                continue
            alloc = event["Payload"]["Allocation"]
            for task_id, state in (alloc.get("TaskStates") or {}).items():
                if "connect-proxy" in task_id:
                    continue
                tid = task_identifier(alloc["Namespace"], alloc["JobID"], task_id)
                for te in state.get("Events") or []:
                    etype = te["Type"]
                    if etype in deny or (allow and etype not in allow):
                        continue
                    key = (tid, te["Time"])
                    if key in seen:
                        continue
                    seen.add(key)
                    out[event_uid(te["DisplayMessage"])] = {
                        "subject": f"Task {tid} {etype.lower()}",
                        "state": classify(etype, te.get("Details") or {}),
                        "time_ns": te["Time"],
                    }
    return out


_DISCORD_STATE = {15158332: "failure", 3066993: "success", None: None}
_SLACK_STATE = {"#e74c3c": "failure", "#2ecc71": "success", None: None}


def decode_delivery(destination: str, body: bytes) -> tuple[int, str, str | None]:
    """A webhook POST body -> ``(uid, subject, state)``."""
    doc = json.loads(body)
    if destination == "discord":
        embed = doc["embeds"][0]
        text, subject = embed["description"], doc["content"]
        state = _DISCORD_STATE.get(embed.get("color"), "?")
    else:
        att = doc["attachments"][0]
        text, subject = att["text"], att["pretext"]
        state = _SLACK_STATE.get(att.get("color"), "?")
    # description = "**subject**\n<DisplayMessage>\n<details json>"
    return event_uid(text.split("\n")[1]), subject, state


def score(
    expected: dict[int, dict],
    delivered: Iterable[tuple[str, int, str, str | None]],
    required: Iterable[int] | None = None,
) -> dict:
    """Compare ``(destination, uid, subject, state)`` deliveries with the
    expectation.  Each (destination, uid) of a ``required`` event (all
    expected events by default) is one attempt, failed when it is missing,
    duplicated or wrong.  A delivery of any other expected event fails
    only when duplicated or wrong; a delivery nobody expected fails too."""
    got: dict[tuple[str, int], list[tuple[str, str | None]]] = {}
    for dest, uid, subject, state in delivered:
        got.setdefault((dest, uid), []).append((subject, state))
    required = set(expected if required is None else required)
    missing = sum(1 for uid in required for dest in DESTINATIONS if (dest, uid) not in got)
    duplicate = wrong = unexpected = 0
    for (dest, uid), rows in got.items():
        exp = expected.get(uid)
        if exp is None:
            unexpected += 1
        elif len(rows) > 1:
            duplicate += 1
        elif rows[0] != (exp["subject"], exp["state"]):
            wrong += 1
    checked = required | {uid for _, uid in got}
    return {
        "attempted": len(checked) * len(DESTINATIONS),
        "failed": missing + duplicate + wrong + unexpected,
        "missing": missing,
        "duplicate": duplicate,
        "wrong": wrong,
        "unexpected": unexpected,
    }
