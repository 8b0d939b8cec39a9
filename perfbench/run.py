"""Benchmark of flume_spark's three kinds of user.

    python3 perfbench/run.py --workload queue_stream --seed 1 --seconds 30 --trace 0

Run from the root of a source checkout.  One process starts Spark, makes the
workload's inputs from the seed, warms up on fixed work, measures for
``--seconds``, checks the outputs and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` wraps the program's layer boundaries, keeps
spans in memory, writes them to ``perfbench/out/`` at the end and reports the
per-layer metrics.  In a traced run the first half of the window runs with
the wrappers switched off and the second half with them on;
``trace.overhead_frac`` is the relative change of ``latency_p50_s`` between
the halves.

Workloads: queue_stream (queue_stream.py), queue_drain (queue_drain.py),
corpus_curate (corpus_curate.py); each module says what it runs and why.
BENCHMARK.json gates queue_stream and corpus_curate; queue_drain runs the
same way but is left out of it because its run-to-run spread on a shared
4-core host exceeded the bounds.
"""

import time

T_IMPORT = time.time()

import argparse  # noqa: E402 — the clock above starts first
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "perfbench", "out")
WORKLOADS = ("queue_stream", "queue_drain", "corpus_curate")

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "ok_frac": "frac",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "app.start_s": "s",
    "manager.triggers": "count",
    "manager.trigger_s_p50": "s",
    "manager.trigger_s_p90": "s",
    "manager.trigger_self_s_p50": "s",
    "manager.jobs_per_trigger": "count",
    "manager.empty_trigger_frac": "frac",
    "manager.claim_ms_p50": "ms",
    "manager.enqueue_s_p50": "s",
    "manager.retried": "count",
    "manager.dead": "count",
    "store.publish_s_p50": "s",
    "store.read_rows_s_p50": "s",
    "store.append_rows_s_p50": "s",
    "store.append_calls": "count",
    "store.compactions": "count",
    "store.compact_s_total": "s",
    "store.files_end": "count",
    "store.log_rows_end": "count",
    "workers.jobs": "count",
    "workers.busy_ms_per_job": "ms",
    "streaming.wait_s_p50": "s",
    "streaming.wait_s_p90": "s",
    "streaming.service_s_p50": "s",
    "streaming.stream_batches": "count",
    "streaming.poll_batches": "count",
    "streaming.overhead_ms_p50": "ms",
    "generator.late_s_max": "s",
    "curation.stage_s.quality_gate": "s",
    "curation.stage_s.exact_dedup": "s",
    "curation.stage_s.near_dup": "s",
    "curation.stage_s.decontaminated": "s",
    "curation.stage_s.packed": "s",
    "curation.stage_s.write": "s",
    "curation.spark_jobs": "count",
    "curation.spark_stages": "count",
    "curation.spark_tasks": "count",
    "curation.yield.exact_dedup": "frac",
    "curation.yield.near_dup": "frac",
    "trace.overhead_frac": "frac",
}

# Why a layer reads 0 on a workload: it is not on that workload's path.
NOT_ON_PATH = {
    "queue_stream": ("curation.",),
    "queue_drain": ("app.", "streaming.", "generator.", "curation."),
    "corpus_curate": (
        "app.", "manager.", "store.", "workers.", "streaming.", "generator."
    ),
}


def process_age_s() -> float:
    """Seconds this process existed before `T_IMPORT` (interpreter start-up)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    age_now = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return max(0.0, age_now - (time.time() - T_IMPORT))


def pin_environment(work: str) -> None:
    """Size Spark to this host and keep every file it writes in `work`.

    ``get_spark`` defaults to local[32] and a 48g driver; the executors'
    Python workers import ``flume_spark`` and ``perfbench`` by name, so the
    checkout root must be on their PYTHONPATH (without it the streaming
    query dies on its first micro-batch)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{min(4096, mem_mb // 4)}m",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # -XX:-UsePerfData: no hsperfdata file under /tmp
        SPARK_SUBMIT_OPTS=" ".join(
            [os.environ.get("SPARK_SUBMIT_OPTS", ""), f"-Djava.io.tmpdir={tmp}"]
            + ["-XX:-UsePerfData"]
        ).strip(),
    )
    sys.path.insert(0, ROOT)


class Context:
    """What a workload gets: the session, its inputs' seed, the window length,
    a work directory and the tracer (None when untraced).  The workload sets
    `setup_done` to the wall time its measured window opens."""

    def __init__(self, spark, seed, seconds, work, tracer):
        self.spark, self.seed, self.seconds = spark, seed, seconds
        self.work, self.tracer = work, tracer
        self.setup_done: float | None = None


def layer_metrics(workload, res, tracer, rss_mb) -> tuple[dict, dict]:
    """Every PER_LAYER metric, in order, and a note for each one that reads 0
    because it could not be measured."""
    from perfbench import tracing

    values = {"session.peak_rss_mb": rss_mb, **tracing.setup_layers(tracer)}
    if "layer_window" in res:
        values.update(tracing.queue_layers(tracer, res["bus"], *res["layer_window"]))
    values.update(res.get("layers", {}))
    base = res["e2e_untraced"]["latency_p50_s"]
    traced = res["e2e"]["latency_p50_s"]
    values["trace.overhead_frac"] = traced / base - 1.0 if base else 0.0
    notes = {
        "session.peak_rss_mb": "driver Python and JVM only: the executors' Python "
        "workers fork from one daemon and share its pages, so adding theirs "
        "would count those pages many times"
    }
    for name in PER_LAYER:
        if name not in values:
            values[name] = 0.0
            if name.startswith(NOT_ON_PATH[workload]):
                notes[name] = f"0: this layer is not on the {workload} path"
            else:
                notes[name] = "0: no span or event of this layer in the traced half"
    return {name: values[name] for name in PER_LAYER}, notes


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_process = T_IMPORT - process_age_s()

    work = os.path.join(OUT, f"work-{args.workload}-{os.getpid()}")
    pin_environment(work)
    try:
        try:
            importlib.import_module("flume_spark")
        except ImportError as exc:
            print(f"cannot import the program from {ROOT}: {exc}", file=sys.stderr)
            return 2
        from perfbench import harness, tracing

        workload = importlib.import_module(f"perfbench.{args.workload}")
        tracer = None
        if args.trace:
            tracer = tracing.Tracer()
            tracing.install(tracer)
        spark = harness.start_spark()
        try:
            ctx = Context(spark, args.seed, args.seconds, work, tracer)
            res = workload.run(ctx)
            rss = harness.peak_rss_mb()
            t_ran = time.time()
        finally:
            harness.stop_spark(spark)
            if tracer:
                tracer.uninstall()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(
        f"set-up {ctx.setup_done - t_process:.1f} s, window and checks "
        f"{t_ran - ctx.setup_done:.1f} s, teardown {time.time() - t_ran:.1f} s",
        file=sys.stderr,
    )

    e2e = res["e2e"]
    metrics = {"setup_s": ctx.setup_done - t_process}
    metrics.update({k: e2e[k] for k in END_TO_END if k != "setup_s"})
    units = END_TO_END
    if tracer:
        metrics, notes = layer_metrics(args.workload, res, tracer, rss)
        units = PER_LAYER
        path = os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "metrics": metrics,
                    "notes": notes,
                    "end_to_end_traced_half": e2e,
                    "end_to_end_untraced_half": res["e2e_untraced"],
                    "spans": tracer.spans,
                    "telemetry": res.get("bus").events if res.get("bus") else [],
                    "records": res.get("records", []),
                },
                f,
                default=str,
            )
        for name, note in notes.items():
            print(f"{name}: {note}", file=sys.stderr)
        print(f"trace written to {os.path.relpath(path, ROOT)}", file=sys.stderr)
    for note in res.get("notes", {}).values():
        print(f"note: {note}", file=sys.stderr)
    for p in res["problems"][:20]:
        print(f"check failed: {p}", file=sys.stderr)
    result = {
        "correct": not res["problems"],
        "attempted": e2e["_n"],
        "failed": e2e["_failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
