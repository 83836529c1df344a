"""Heartbeat watchdog (app.rb:48-49,87-104) as a StreamingQueryListener.

The reference runs a side thread that force-exits the process when no
heartbeat arrived within HEARTBEAT_UNDETECTED_EXIT_THRESHOLD seconds.
In Spark the equivalent liveness signal is query progress: every
micro-batch (including empty ones under a processingTime trigger)
reports progress; silence beyond the threshold means the source is
stalled, and the supervisor stops the query (the driver script can then
exit non-zero, matching the reference's `exit 1`)."""

from __future__ import annotations

import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class HeartbeatWatchdog(StreamingQueryListener):
    """Tracks progress wall-clock; ``stalled()`` flips when the threshold
    elapses with no progress (the app.rb:96-103 condition)."""

    def __init__(self, threshold_seconds: float) -> None:
        self.threshold_seconds = threshold_seconds
        self._last_progress = time.monotonic()
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self._last_progress = time.monotonic()

    def onQueryProgress(self, event) -> None:
        with self._lock:
            self._last_progress = time.monotonic()

    def onQueryIdle(self, event) -> None:
        # An idle tick is a heartbeat: the source was polled and is alive
        # (the reference treats `{}` frames exactly this way, app.rb:110-117).
        with self._lock:
            self._last_progress = time.monotonic()

    def onQueryTerminated(self, event) -> None:
        pass

    def seconds_since_progress(self) -> float:
        with self._lock:
            return time.monotonic() - self._last_progress

    def stalled(self) -> bool:
        return self.seconds_since_progress() > self.threshold_seconds


def supervise(spark, query, watchdog: HeartbeatWatchdog, poll_seconds: float = 1.0) -> int:
    """Driver-side supervisor loop: returns 0 on clean termination, 1 on
    watchdog-triggered stop (the reference's exit 1, app.rb:99-102) or
    when the query terminated with an error (e.g. a failed webhook POST
    raised in ``foreachBatch``)."""
    while query.isActive:
        if watchdog.stalled():
            query.stop()
            return 1
        time.sleep(poll_seconds)
    return 0 if query.exception() is None else 1
