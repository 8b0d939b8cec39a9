"""queue_drain: a worker fleet catching up on a backlog.

Twenty pipelines on one QueueManager, the shape of the reference's
``redis_benchmark``: ten use single dispatch (max_demand 500), ten use bulk
dispatch (batch_size 50, max_demand 10), so one trigger claims up to 10,000
jobs.  ``bulk_enqueue`` seeds the backlog during set-up; then one thread
calls ``run_many`` back to back (closed loop).  A seeded 0.2% of jobs fail
once; a failed bulk chunk retries all 50 members.

``throughput_per_s`` is jobs acked divided by the summed duration of the
triggers started in the window (a drain-to-empty time is too noisy: the
retry-backoff tail and the few triggers per drain quantise its end).
``latency_p50_s`` / ``latency_p90_s`` are over the ``run_many`` calls.
``ok_frac`` is the share of claimed jobs that ended ``succeeded`` with the
``retry_count`` their failures call for; a job whose retry falls due after
the last trigger has not ended, and is only checked for its ``retry_count``.

The claim plan scans the whole log on every trigger, so store, claim and
dispatch work dominate and the streaming runner is absent.  Against
queue_stream the store is used the other way round: few large appends and
reads over a big log, rather than many small appends beside claims on a
small log.
"""

from __future__ import annotations

import os
import random
import time

from perfbench import jobs as J
from perfbench.harness import BusRecorder, median, quantile
from perfbench.tracing import store_state

SINGLE_QUEUES = [f"single{i}" for i in range(10)]
BULK_QUEUES = [f"bulk{i}" for i in range(10)]
FAIL_RATE = 0.002
# Warm-up is fixed work: one trigger over WARMUP_PER_QUEUE jobs a queue (the
# first trigger of a session pays ~8 s of one-time cost, which on a small log
# does not also pay for a big scan), then one trigger over the seeded backlog.
WARMUP_PER_QUEUE = 20


def backlog_per_queue(seconds: float) -> int:
    """Jobs seeded per queue for a window of `seconds`: 1.4 times what warm-up
    and the window claim at this commit (500 a queue a trigger, 2.5 s a
    trigger or more).  A run that empties a queue says so on stderr; its last
    triggers claim less than full demand."""
    return int(500 * (1 + seconds / 2.5) * 1.4)


def run(ctx) -> dict:
    from flume_spark.queue.instrumentation import Telemetry
    from flume_spark.queue.manager import Pipeline, QueueManager
    from flume_spark.queue.store import JobStore
    from flume_spark.queue.workers import WorkerRegistry
    from pyspark.sql import functions as F

    spark, tracer = ctx.spark, ctx.tracer
    rng = random.Random(ctx.seed)
    marker_dir = os.path.join(ctx.work, "markers")
    failed_dir = os.path.join(ctx.work, "failed-chunks")
    os.makedirs(marker_dir)
    os.makedirs(failed_dir)
    registry = WorkerRegistry()
    registry.register(J.WORKER, J.SingleWorker(marker_dir))
    registry.register(J.BULK_WORKER, J.BulkWorker(marker_dir, failed_dir))
    pipelines = [Pipeline(name=q, queue=q, max_demand=500) for q in SINGLE_QUEUES]
    pipelines += [
        Pipeline(name=q, queue=q, max_demand=10, batch_size=50) for q in BULK_QUEUES
    ]
    names = [p.name for p in pipelines]
    bus = BusRecorder(on_event=tracer.tag_event if tracer else None)
    telemetry = Telemetry()
    telemetry.attach(bus)
    store = JobStore(spark, os.path.join(ctx.work, "jobs"))
    manager = QueueManager(spark, store, registry, pipelines, telemetry=telemetry)

    fail_once = {}

    def seed(prefix: str, n: int) -> None:
        for q in SINGLE_QUEUES + BULK_QUEUES:
            cls = J.WORKER if q in SINGLE_QUEUES else J.BULK_WORKER
            batch = J.make_jobs(rng, f"{q}-{prefix}", n, FAIL_RATE, cls)
            fail_once.update((a[0], a[1]) for _, _, a in batch)
            manager.bulk_enqueue(q, batch)

    seed("w", WARMUP_PER_QUEUE)
    manager.run_many(names)
    backlog = backlog_per_queue(ctx.seconds)
    seed("", backlog)
    manager.run_many(names)

    if tracer:
        tracer.enabled = False
    triggers = []  # (start, end, stats)
    t0 = time.time()
    ctx.setup_done = t0
    half = t0 + ctx.seconds / 2
    while time.time() - t0 < ctx.seconds:
        if tracer and time.time() >= half:
            tracer.enabled = True
        start = time.time()
        stats = manager.run_many(names)
        triggers.append((start, time.time(), stats))
    t1 = time.time()

    rows = (
        manager.current()
        .filter(F.col("status") != "pending")
        .select(
            F.get_json_object("args", "$[0]").alias("token"),
            "queue",
            "status",
            "retry_count",
            "error_message",
        )
        .toPandas()
    )
    chunk_failures = J.failed_chunks(failed_dir)
    problems, notes = [], {}
    ok = bad = attempts = 0
    for token, queue, status, rc, err in rows.itertuples(index=False):
        if queue in BULK_QUEUES:
            expected = chunk_failures.get(token, 0)
        else:
            expected = int(fail_once[token])
        if status == "succeeded" and rc == expected:
            ok += 1
            attempts += rc + 1
        elif status == "retry" and rc == expected and (err or "").endswith(J.INJECTED):
            attempts += rc  # in flight: its retry falls due after the last trigger
        else:
            bad += 1
            if len(problems) < 10:
                problems.append(f"job {token} ended {status} after {rc} retries")
    dispatched = sum(e["m"]["jobs"] for e in bus.of("pipeline", "worker"))
    if bad:
        problems.append(f"{bad} claimed jobs ended wrong")
    elif dispatched != attempts:
        problems.append(f"{dispatched} dispatches acked for {attempts} attempts")
    claimed = rows["queue"].value_counts()
    if claimed.max() >= WARMUP_PER_QUEUE + backlog:
        notes["backlog"] = "a queue's backlog emptied within the window"

    def e2e(a, b):
        ts = [t for t in triggers if a <= t[0] < b]
        busy = sum(end - start for start, end, _ in ts)
        return {
            "throughput_per_s": sum(st["succeeded"] for _, _, st in ts) / busy,
            "latency_p50_s": median([end - start for start, end, _ in ts]),
            "latency_p90_s": quantile([end - start for start, end, _ in ts], 0.9),
            "ok_frac": ok / (ok + bad),
            "_n": ok + bad,
            "_failed": bad,
        }

    out = {"problems": problems, "notes": notes, "bus": bus}
    if tracer is None:
        out["e2e"] = e2e(t0, t1)
        return out
    out["e2e"] = e2e(half, t1)
    out["e2e_untraced"] = e2e(t0, half)
    out["layer_window"] = (half, t1)
    out["layers"] = store_state(store)
    return out
