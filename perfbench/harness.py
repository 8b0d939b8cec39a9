"""Pieces every workload shares: the Spark session's life, the readers of the
telemetry bus and of Spark's streaming listener, and small statistics."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time


def quantile(values, q: float) -> float:
    """Linearly interpolated quantile (numpy's default), 0.0 when empty."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    if lo == pos:
        return xs[lo]
    return xs[lo] + (xs[lo + 1] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return quantile(values, 0.5)


# -- Spark session -----------------------------------------------------------


def start_spark():
    from flume_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children(pid: int) -> list[int]:
    """Every live descendant of `pid`."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(name)] = int(fields[1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def _wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    return alive


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers it forked, and
    wait for every one of them to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    descendants = _children(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    # the JVM exits when the pipe to its stdin closes
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    for pid in _wait_gone(descendants, 15):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _wait_gone(descendants, 15)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb() -> float:
    """VmHWM of this Python process plus the JVM it launched."""
    total_kb = 0
    for pid in ("self", jvm_pid()):
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


# -- readers of the program's own signals ------------------------------------


class BusRecorder:
    """Telemetry handler keeping every event with its wall time and thread.

    `on_event`, if set, is called inside the handler (the tracer uses it to
    tag an event with the trigger that emitted it)."""

    def __init__(self, on_event=None):
        self.events: list[dict] = []
        self.on_event = on_event
        self._lock = threading.Lock()

    def __call__(self, event, measurements, metadata) -> None:
        rec = {
            "event": event,
            "t": time.time(),
            "m": dict(measurements),
            "thread": threading.current_thread().name,
        }
        if self.on_event is not None:
            self.on_event(rec)
        with self._lock:
            self.events.append(rec)

    def of(self, *event: str) -> list[dict]:
        with self._lock:
            return [e for e in self.events if e["event"] == event]


def stream_watch(spark):
    """A StreamingQueryListener that keeps each progress report's timings and
    every termination with its exception (a query that dies must fail the
    run even though the poll thread would keep acking jobs)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Watch(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self.terminated: list[str | None] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append(
                {"t": time.time(), "rows": p.numInputRows, "ms": dict(p.durationMs)}
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated.append(event.exception)

        def failures(self) -> list[str]:
            return [e for e in self.terminated if e]

    watch = Watch()
    spark.streams.addListener(watch)
    return watch
