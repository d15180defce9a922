"""F11 periodic metrics reporter + F13 hung-batch watchdog.

Reference parity:
- The reference's scheduler merges task Communication counters and reports
  them on a fixed interval (core/src/main/java/com/alibaba/datax/core/job/
  scheduler/AbstractScheduler.java:216-311 reportIntervalInMillSec loop;
  CommunicationTool.java:16-111 counter names). ``PeriodicReporter`` is the
  Spark-driver equivalent: a daemon thread snapshots a counter dict every
  interval and hands a CommunicationTool-style line to a sink callback.
- TaskMonitor declares a task hung when its counters stop moving past a
  timeout and fails it (core/src/main/java/com/alibaba/datax/core/taskgroup/
  TaskMonitor.java:43-90). On Spark the unit of cancellation is the job
  group: ``HungTaskGuard`` arms a wall-clock timer that cancels the batch's
  job group (interrupting running tasks), so a wedged micro-batch fails fast
  with ``BatchTimeout`` instead of hanging the job silently.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from collections.abc import Callable


class BatchTimeout(RuntimeError):
    """A micro-batch exceeded its wall-clock budget and was cancelled."""


class HungTaskGuard:
    """Context manager: cancel the enclosed Spark actions after ``timeout_s``.

    All actions issued inside the guard (from this thread) run under one job
    group; a daemon timer cancels the group with interruptOnCancel=True when
    the budget expires, and the resulting Spark exception is re-raised as
    ``BatchTimeout``.
    """

    def __init__(self, spark, timeout_s: float, group: str,
                 late_cancel_sink: Callable[[str], None] = print):
        self.spark = spark
        self.timeout_s = timeout_s
        self.group = group
        self._fired = False
        self._timer: threading.Timer | None = None
        self._t0: float | None = None
        self.late_cancel_sink = late_cancel_sink

    def _cancel(self) -> None:
        self._fired = True
        try:
            self.spark.sparkContext.cancelJobGroup(self.group)
        except Exception:  # noqa: BLE001 — cancellation is best-effort
            pass

    def __enter__(self) -> "HungTaskGuard":
        self.spark.sparkContext.setJobGroup(
            self.group, f"watchdog budget {self.timeout_s}s", interruptOnCancel=True
        )
        self._t0 = time.monotonic()
        self._timer = threading.Timer(self.timeout_s, self._cancel)
        self._timer.daemon = True
        self._timer.start()
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        if self._timer is not None:
            self._timer.cancel()
        try:
            self.spark.sparkContext.setJobGroup("", "")
        except Exception:  # noqa: BLE001
            pass
        if self._fired and exc is not None:
            # a genuinely wedged batch: the cancellation interrupted a running
            # Spark action, which raised — surface it as the watchdog verdict
            raise BatchTimeout(
                f"job group {self.group!r} cancelled after {self.timeout_s}s"
            ) from exc
        if self._fired:
            # RACE WINDOW (not a failure): the timer fired after the guarded
            # block's LAST Spark action completed (possibly after its
            # checkpoint was written) but before this __exit__ cancelled it.
            # The batch succeeded — raising here would fail a committed batch
            # (and the whole pool). Log and return.
            elapsed = time.monotonic() - (self._t0 or 0.0)
            self.late_cancel_sink(
                f"[watchdog] late cancellation of {self.group!r} ignored: block "
                f"completed without error in {elapsed:.1f}s (budget {self.timeout_s}s)"
            )
        return False


class PeriodicReporter:
    """Interval counter reporter (daemon thread).

    ``update(**deltas)`` adds to named counters (thread-safe); every
    ``interval_s`` the sink receives a formatted totals+rates line — the
    CommunicationTool "Total N records, B bytes | Speed ..." shape. A final
    report is emitted on stop().
    """

    def __init__(self, interval_s: float, sink: Callable[[str], None] = print):
        self.interval_s = interval_s
        self.sink = sink
        self._counters: dict[str, int] = defaultdict(int)
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._t0 = time.monotonic()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def update(self, **deltas: int) -> None:
        with self._lock:
            for k, v in deltas.items():
                self._counters[k] += int(v)

    def _format(self) -> str:
        with self._lock:
            snap = dict(self._counters)
        elapsed = max(time.monotonic() - self._t0, 1e-9)
        read = snap.get("events_read", 0)
        parts = [f"{k}={v}" for k, v in sorted(snap.items())]
        return (
            f"[reporter] elapsed={elapsed:.1f}s speed={read / elapsed:.0f}rec/s "
            + " ".join(parts)
        )

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sink(self._format())

    def start(self) -> "PeriodicReporter":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
        self.sink(self._format())
