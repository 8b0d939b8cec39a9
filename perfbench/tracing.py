"""Spans recorded from outside the program, by wrapping its public calls.

A span is ``{id, name, parent, trace, thread, caller, start, end}`` with
wall-clock seconds, plus ``result`` when the call returns a number, a flag or
a dict (``run_many``'s stats, ``maybe_compact``'s ran-or-not).  The trace id is the trigger for the queue workloads (each
``run_many`` call opens one) and the job for curation (each
``curate_corpus`` call opens one); spans below inherit it.  Spans stay in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import itertools
import os
import sys
import threading
import time

from perfbench.harness import median, quantile


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = True
        self._ids = itertools.count(1)
        self._traces = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._installed: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def tag_event(self, rec: dict) -> None:
        """Telemetry hook: stamp an event with the trace open on its thread."""
        stack = self._stack()
        rec["trace"] = stack[-1]["trace"] if stack else None

    def wrap(self, owner, attr: str, name: str, new_trace=False, within=None):
        """Replace ``owner.attr`` by a recording wrapper.  `within` names a
        span that must be open on this thread for the call to be recorded;
        `new_trace` starts a trace id at this span."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            stack = tracer._stack()
            if not tracer.enabled or (
                within and not any(s["name"] == within for s in stack)
            ):
                return orig(*args, **kwargs)
            parent = stack[-1] if stack else None
            trace = next(tracer._traces) if new_trace else (parent or {}).get("trace")
            span = {
                "id": next(tracer._ids),
                "name": name,
                "parent": parent["id"] if parent else None,
                "trace": trace,
                "thread": threading.current_thread().name,
                "caller": sys._getframe(1).f_code.co_name,
                "start": time.time(),
            }
            stack.append(span)
            try:
                result = orig(*args, **kwargs)
                if isinstance(result, (bool, int, float, dict)):
                    span["result"] = result
                return result
            finally:
                stack.pop()
                span["end"] = time.time()
                with tracer._lock:
                    tracer.spans.append(span)

        setattr(owner, attr, wrapper)
        self._installed.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._installed):
            setattr(owner, attr, orig)
        self._installed.clear()

    def named(self, name: str, t0: float = float("-inf"), t1: float = float("inf")):
        """Spans called `name` that started in [t0, t1)."""
        with self._lock:
            return [
                s for s in self.spans if s["name"] == name and t0 <= s["start"] < t1
            ]

    def self_time(self, span: dict) -> float:
        """Span duration minus the part its direct children cover."""
        kids = sorted(
            (max(k["start"], span["start"]), min(k["end"], span["end"]))
            for k in self.spans
            if k["parent"] == span["id"]
        )
        covered, edge = 0.0, span["start"]
        for a, b in kids:
            a = max(a, edge)
            if b > a:
                covered += b - a
                edge = b
        return (span["end"] - span["start"]) - covered


def install(tracer: Tracer) -> None:
    """Wrap the program's layer boundaries (see the module docstring)."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    import flume_spark.app as app
    import flume_spark.curation as curation
    import flume_spark.session as session
    from flume_spark.queue.manager import QueueManager
    from flume_spark.queue.store import JobStore

    tracer.wrap(session, "get_spark", "get_spark")
    tracer.wrap(app, "from_config", "from_config")
    tracer.wrap(app.FlumeApp, "start", "app_start")
    tracer.wrap(QueueManager, "bulk_enqueue", "bulk_enqueue")
    tracer.wrap(QueueManager, "run_many", "run_many", new_trace=True)
    for method in ("publish", "read_rows", "append_rows", "maybe_compact"):
        tracer.wrap(JobStore, method, method)
    tracer.wrap(curation, "curate_corpus", "curate_corpus", new_trace=True)
    tracer.wrap(DataFrame, "count", "count", within="curate_corpus")
    tracer.wrap(DataFrameWriter, "parquet", "write", within="curate_corpus")


def _dur(spans) -> list[float]:
    return [s["end"] - s["start"] for s in spans]


def queue_layers(tracer: Tracer, bus, t0: float, t1: float) -> dict:
    """manager / store / workers metrics over the spans and telemetry events
    of the traced window [t0, t1)."""
    triggers = tracer.named("run_many", t0, t1)
    stats = [s.get("result") or {} for s in triggers]
    claimed = [st.get("claimed", 0) for st in stats]
    compacts = tracer.named("maybe_compact", t0, t1)
    ran = [s for s in compacts if s.get("result") is True]
    in_window = [e for e in bus.events if t0 <= e["t"] < t1]
    dequeues = [e["m"] for e in in_window if e["event"] == ("queue", "dequeue")]
    worker = [e["m"] for e in in_window if e["event"] == ("pipeline", "worker")]
    jobs = sum(m["jobs"] for m in worker)
    n = len(triggers)
    return {
        "manager.triggers": n,
        "manager.trigger_s_p50": median(_dur(triggers)),
        "manager.trigger_s_p90": quantile(_dur(triggers), 0.9),
        "manager.trigger_self_s_p50": median([tracer.self_time(s) for s in triggers]),
        "manager.jobs_per_trigger": sum(claimed) / n if n else 0.0,
        "manager.empty_trigger_frac": claimed.count(0) / n if n else 0.0,
        "manager.claim_ms_p50": median([m["latency_ms"] for m in dequeues]),
        "manager.enqueue_s_p50": median(_dur(tracer.named("bulk_enqueue", t0, t1))),
        "manager.retried": sum(st.get("retried", 0) for st in stats),
        "manager.dead": sum(st.get("dead", 0) for st in stats),
        "store.publish_s_p50": median(_dur(tracer.named("publish", t0, t1))),
        "store.read_rows_s_p50": median(_dur(tracer.named("read_rows", t0, t1))),
        "store.append_rows_s_p50": median(_dur(tracer.named("append_rows", t0, t1))),
        "store.append_calls": len(tracer.named("append_rows", t0, t1)),
        "store.compactions": len(ran),
        "store.compact_s_total": sum(_dur(ran)),
        "workers.jobs": jobs,
        "workers.busy_ms_per_job": sum(m["duration_ms"] for m in worker) / jobs
        if jobs
        else 0.0,
    }


def store_state(store) -> dict:
    files = [
        os.path.join(store.path, name)
        for name in os.listdir(store.path)
        if name.endswith(".parquet")
    ]
    return {
        "store.files_end": len(files),
        "store.log_rows_end": store.count_rows(files),
    }


def setup_layers(tracer: Tracer) -> dict:
    return {
        "session.start_s": sum(_dur(tracer.named("get_spark"))),
        "app.start_s": sum(_dur(tracer.named("from_config")))
        + sum(_dur(tracer.named("app_start"))),
    }
