"""queue_stream: real-time job serving through the streaming path.

One pipeline booted by ``app.from_config`` with product defaults (max_demand
500, 2 s trigger, poll at the trigger interval), i.e. one PipelineRunner
streaming query over the job log.  Open loop from one generator thread:
``bulk_enqueue`` of 20 jobs every 100 ms (200 jobs/s, ~0.4 kB args); a seeded
1% of jobs raise on their first attempt only, so retry and backoff run.

A job's latency runs from its scheduled send time to the wall time of the
``("pipeline", "worker")`` telemetry event of the trigger that acked it; that
event is emitted right after the ack append.  ``_run_trigger`` stamps
``finished_at`` with the trigger's start time and triggers of one runner do
not overlap, so the ack event of a job is the first worker event at or after
its ``finished_at``.  A job not acked within 10 s of its due time counts as
failed.
"""

from __future__ import annotations

import bisect
import os
import random
import threading
import time

from perfbench import jobs as J
from perfbench.harness import BusRecorder, median, quantile, stream_watch
from perfbench.tracing import store_state

QUEUE = "stream"
BATCH = 20
PERIOD_S = 0.1
FAIL_RATE = 0.01
LIMIT_S = 10.0
# a failed job counts in the latency percentiles with this latency
FAILED_LATENCY_S = 2 * LIMIT_S
# Warm-up is fixed work, closed loop and then open loop.  Closed loop first:
# FILL_FILES one-job appends, waiting until every job is acked and the store
# has compacted.  The first trigger of a fresh session takes ~7 s (under
# open-loop load that stall leaves a backlog that takes ~15 s to drain), and
# the appends take the log past the store's 256-file auto-compaction
# threshold.  This load reaches the threshold again ~20 s later and each
# compaction stalls a trigger for ~2.5 s, so a 30 s window that opens at a
# fixed offset after the warm-up compaction holds exactly one, well inside
# it; a window placed by the clock alone would catch the stall at its edge
# in some runs and not in others.  Then WARMUP_S of the open-loop load.
FILL_FILES = 260
COMPACTED_FILES = 50  # fewer files than this: the warm-up compaction is done
WARMUP_S = 1.0


def run(ctx) -> dict:
    import flume_spark.app as app
    from flume_spark.queue.workers import WorkerRegistry

    spark, tracer = ctx.spark, ctx.tracer
    rng = random.Random(ctx.seed)
    marker_dir = os.path.join(ctx.work, "markers")
    os.makedirs(marker_dir)
    registry = WorkerRegistry()
    registry.register(J.WORKER, J.SingleWorker(marker_dir))
    n_warm = int(round(WARMUP_S / PERIOD_S))
    n_window = int(round(ctx.seconds / PERIOD_S))
    fill = [J.make_jobs(rng, f"f{i}-", 1, 0.0) for i in range(FILL_FILES)]
    batches = [
        J.make_jobs(rng, f"b{i}-", BATCH, FAIL_RATE) for i in range(n_warm + n_window)
    ]

    bus = BusRecorder(on_event=tracer.tag_event if tracer else None)
    watch = stream_watch(spark)
    flume = app.from_config(
        spark,
        {
            "store_path": os.path.join(ctx.work, "jobs"),
            "pipelines": [{"name": QUEUE, "queue": QUEUE}],
        },
        registry,
    )
    flume.telemetry.attach(bus)
    flume.start()
    if tracer:
        tracer.enabled = False  # warm-up and the untraced half go unrecorded

    manager = flume.manager

    def dispatched() -> int:
        return sum(e["m"]["jobs"] for e in bus.of("pipeline", "worker"))

    for batch in fill:
        manager.bulk_enqueue(QUEUE, batch)
    give_up = time.time() + 60
    while dispatched() < FILL_FILES and time.time() < give_up and not watch.failures():
        time.sleep(0.01)
    while manager.store.n_files() >= COMPACTED_FILES and time.time() < give_up:
        time.sleep(0.01)

    half = n_warm + n_window // 2
    sent: list[tuple[list[str], float, float]] = []  # (jids, due, sent_at)
    base = time.time() + 0.05
    window = {}

    def generate():
        for k, batch in enumerate(batches):
            due = base + k * PERIOD_S
            if k == n_warm:
                window["t0"] = due
            if tracer and k == half:
                window["half"] = due
                tracer.enabled = True
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            sent_at = time.time()
            sent.append((manager.bulk_enqueue(QUEUE, batch), due, sent_at))
        window["t1"] = base + len(batches) * PERIOD_S

    gen = threading.Thread(target=generate, name="perfbench-generator")
    gen.start()
    while "t0" not in window and gen.is_alive():
        time.sleep(0.005)
    ctx.setup_done = window.get("t0", time.time())
    gen.join()

    # every job is dispatched once, fail-once jobs twice
    expected = FILL_FILES + sum(1 + a[1] for batch in batches for _, _, a in batch)
    deadline = window["t1"] + LIMIT_S + 2.5
    while dispatched() < expected and time.time() < deadline and not watch.failures():
        time.sleep(0.05)
    t_done = time.time()
    flume.stop()

    rows = {
        r["jid"]: r
        for r in manager.current()
        .selectExpr("jid", "status", "retry_count", "cast(finished_at as double) f")
        .collect()
    }
    acks = sorted(e["t"] for e in bus.of("pipeline", "worker"))
    ack_trace = {e["t"]: e.get("trace") for e in bus.of("pipeline", "worker")}

    records = []
    problems = [f"stream terminated: {e.splitlines()[0]}" for e in watch.failures()]
    for (jids, due, sent_at), batch in zip(sent, batches):
        for jid, (_, _, args) in zip(jids, batch):
            r = rows.get(jid)
            rec = {"due": due, "sent": sent_at, "fail_once": args[1], "ok": False}
            records.append(rec)
            state = r and (r["status"], r["retry_count"])
            if state != ("succeeded", int(args[1])):
                problems.append(f"job {args[0]} ended as (status, retries) {state}")
                continue
            i = bisect.bisect_left(acks, r["f"] - 1e-6)
            if i == len(acks):
                problems.append(f"job {args[0]} has no ack event")
                continue
            rec.update(
                start=r["f"],
                ack=acks[i],
                trace=ack_trace[acks[i]],
                latency=acks[i] - due,
            )
            rec["ok"] = rec["latency"] <= LIMIT_S

    attempts = sum(r["retry_count"] + 1 for r in rows.values())
    if dispatched() != attempts:
        problems.append(f"{dispatched()} dispatches acked for {attempts} attempts")

    def e2e(t0, t1):
        recs = [r for r in records if t0 <= r["due"] < t1]
        lat = [r["latency"] if r["ok"] else FAILED_LATENCY_S for r in recs]
        sends = [r["sent"] for r in recs]
        good = sum(r["ok"] for r in recs)
        return {
            "throughput_per_s": good / (max(sends) + PERIOD_S - t0),
            "latency_p50_s": median(lat),
            "latency_p90_s": quantile(lat, 0.9),
            "ok_frac": good / len(recs),
            "_n": len(recs),
            "_failed": len(recs) - good,
        }

    out = {"problems": problems, "records": records, "bus": bus}
    if tracer is None:
        out["e2e"] = e2e(window["t0"], window["t1"])
        return out
    t0, th, t1 = window["t0"], window["half"], window["t1"]
    out["e2e"] = e2e(th, t1)
    out["e2e_untraced"] = e2e(t0, th)
    traced = [r for r in records if th <= r["due"] < t1 and r["ok"]]
    progress = [
        p["ms"]["triggerExecution"] - p["ms"]["addBatch"]
        for p in watch.progress
        if th <= p["t"] < t_done and "addBatch" in p["ms"]
    ]
    triggers = tracer.named("run_many", th, t_done)
    out["layers"] = {
        "streaming.wait_s_p50": median([r["start"] - r["due"] for r in traced]),
        "streaming.wait_s_p90": quantile([r["start"] - r["due"] for r in traced], 0.9),
        "streaming.service_s_p50": median([r["ack"] - r["start"] for r in traced]),
        "streaming.stream_batches": sum(
            1 for s in triggers if not s["thread"].startswith("flume-poll")
        ),
        "streaming.poll_batches": sum(
            1 for s in triggers if s["thread"].startswith("flume-poll")
        ),
        "streaming.overhead_ms_p50": median(progress),
        "generator.late_s_max": max(
            r["sent"] - r["due"] for r in records if th <= r["due"] < t1
        ),
        **store_state(manager.store),
    }
    out["layer_window"] = (th, t_done)
    return out
