"""Structured Streaming pipeline tests (SURVEY.md §2.8 ST1/ST5/ST6).

Mirrors the reference's end-to-end pipeline tests (test/flume_test.exs):
enqueued jobs get picked up by the running stream, processed, and acked;
a paused pipeline admits nothing until resumed.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from flume_spark.queue import JobStore, QueueManager, WorkerRegistry
from flume_spark.queue.manager import Pipeline
from flume_spark.streaming.pipeline import PipelineRunner


@pytest.fixture(params=["parquet_log", "optimistic_commit"])
def runner_env(request, spark, tmp_path):
    # the streaming pull loop (ST1) must run unchanged on BOTH storage
    # backends — the file-arrival wake-up watches store.path (data files
    # land there under either model) and every state read/write goes
    # through the LogBackend API
    from flume_spark.queue import OptimisticLogStore

    make = {
        "parquet_log": JobStore,
        "optimistic_commit": OptimisticLogStore,
    }[request.param]
    registry = WorkerRegistry()
    registry.register("NoopWorker", lambda *args: None)
    store = make(spark, str(tmp_path / "jobs"))
    pipeline = Pipeline(name="stream", queue="sq", max_demand=500)
    manager = QueueManager(spark, store, registry, pipelines=[pipeline])
    runner = PipelineRunner(
        spark,
        manager,
        pipeline,
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_seconds=0.25,
    )
    yield manager, runner
    runner.stop()


def _status_counts(manager):
    rows = manager.current().groupBy("status").count().collect()
    return {r["status"]: r["count"] for r in rows}


def test_stream_processes_enqueued_jobs(runner_env):
    manager, runner = runner_env
    manager.bulk_enqueue("sq", [("NoopWorker", "perform", [i]) for i in range(5)])
    runner.start()
    runner.await_idle()
    assert _status_counts(manager) == {"succeeded": 5}
    assert runner.batches_run >= 1


def test_stream_picks_up_late_arrivals(runner_env):
    manager, runner = runner_env
    runner.start()
    runner.await_idle()  # stream running, nothing to do yet
    manager.enqueue("sq", "NoopWorker", ["late"])
    runner.await_idle()
    assert _status_counts(manager) == {"succeeded": 1}


def test_stream_pause_gate(runner_env):
    manager, runner = runner_env
    manager.pause("stream")
    manager.bulk_enqueue("sq", [("NoopWorker", "perform", [i]) for i in range(3)])
    runner.start()
    runner.await_idle()
    # paused: arrivals seen, nothing admitted (producer.ex:111-115)
    assert _status_counts(manager) == {"pending": 3}

    manager.resume("stream")
    manager.enqueue("sq", "NoopWorker", ["wake"])  # new arrival wakes the stream
    runner.await_idle()
    assert _status_counts(manager) == {"succeeded": 4}


def test_streaming_listener_bridges_progress(runner_env, spark):
    from flume_spark.queue.instrumentation import Telemetry, attach_streaming_listener

    manager, runner = runner_env
    bus = Telemetry(keep_events=True)
    listener = attach_streaming_listener(spark, bus)
    try:
        manager.enqueue("sq", "NoopWorker", [1])
        runner.start()
        runner.await_idle()
        names = {e[0] for e in bus.events}
        assert ("pipeline", "started") in names
        assert ("pipeline", "progress") in names
    finally:
        spark.streams.removeListener(listener)


def test_streaming_window_agg_matches_batch(spark, tmp_path):
    """ST8/ST9: the same tumbling-window plan under readStream (with
    watermark) converges to the batch answer once all files are processed."""
    import shutil

    from pyspark.sql import functions as F

    from flume_spark.streaming.windows import streaming_tumbling_counts

    src = tmp_path / "events_stream"
    src.mkdir()
    # build two small event files arriving separately
    from datetime import datetime

    rows1 = [(i, datetime(2024, 1, 1, h, 5), "click") for i, h in enumerate([0, 0, 1])]
    rows2 = [(10 + i, datetime(2024, 1, 1, h, 40), "view") for i, h in enumerate([0, 2])]
    schema = "event_id long, ts timestamp, event_type string"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(
        str(src)
    )
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(
        str(src)
    )

    stream = streaming_tumbling_counts(
        spark, str(src), schema, window="1 hour", max_files_per_trigger=1
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_w"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["window_start"].hour, r["event_type"]): r["n_events"]
            for r in spark.sql("SELECT * FROM win_counts").collect()
        }
    finally:
        q.stop()
    expected = (
        spark.read.schema(schema).parquet(str(src))
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .count()
        .collect()
    )
    exp = {(r["window"]["start"].hour, r["event_type"]): r["count"] for r in expected}
    assert got == exp == {(0, "click"): 2, (1, "click"): 1, (0, "view"): 1, (2, "view"): 1}


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-key totals accumulate across separately
    arriving files (micro-batches), surviving in the state store."""
    from pyspark.sql import functions as F

    from flume_spark.streaming.stateful import running_totals

    src = tmp_path / "kv_stream"
    src.mkdir()
    schema = "key string, value double"
    spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 10.0)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = running_totals(stream.groupBy("key"))
    q = (
        out.writeStream.format("memory")
        .queryName("running_totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_s"))
        .start()
    )
    try:
        q.processAllAvailable()
        # second batch arrives later: totals must ACCUMULATE, not reset
        spark.createDataFrame(
            [("a", 4.0), ("c", 7.0)], schema
        ).coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT key, max(n_events) AS n, max(total) AS t "
            "FROM running_totals GROUP BY key"
        ).collect()
        got = {r["key"]: (r["n"], r["t"]) for r in rows}
    finally:
        q.stop()
    assert got == {"a": (3, 7.0), "b": (1, 10.0), "c": (1, 7.0)}


def test_stream_respects_rate_limit_across_triggers(spark, tmp_path):
    """ST7 under the live stream: with a 3-per-minute limit, a burst of 10
    jobs admits exactly 3 — the governor holds across micro-batches."""
    registry = WorkerRegistry()
    registry.register("NoopWorker", lambda *a: None)
    store = JobStore(spark, str(tmp_path / "jobs_rl"))
    pipeline = Pipeline(
        name="rl", queue="rlq", max_demand=500,
        rate_limit_count=3, rate_limit_scale=60_000,
    )
    manager = QueueManager(spark, store, registry, pipelines=[pipeline])
    runner = PipelineRunner(
        spark, manager, pipeline,
        checkpoint_dir=str(tmp_path / "ckpt_rl"), trigger_seconds=0.25,
    )
    try:
        manager.bulk_enqueue("rlq", [("NoopWorker", "perform", [i]) for i in range(10)])
        runner.start()
        runner.await_idle()
        counts = _status_counts(manager)
        assert counts.get("succeeded", 0) == 3
        assert counts.get("pending", 0) == 7
    finally:
        runner.stop()


def test_streaming_dedup_drops_rearrivals(spark, tmp_path):
    """Streaming exact dedup: a duplicate text arriving in a LATER
    micro-batch (within the watermark) is dropped; first-seen rows pass."""
    from flume_spark.streaming.dedup import streaming_exact_dedup

    src = tmp_path / "docs_stream"
    src.mkdir()
    schema = "doc_id long, ts timestamp, text string"
    from datetime import datetime

    t = datetime(2024, 1, 1, 0, 0)
    spark.createDataFrame(
        [(1, t, "alpha"), (2, t, "beta")], schema
    ).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = streaming_exact_dedup(stream, "text", "ts", watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_d"))
        .start()
    )
    try:
        q.processAllAvailable()
        # later batch: one duplicate ('alpha'), one new ('gamma')
        spark.createDataFrame(
            [(3, datetime(2024, 1, 1, 0, 30), "alpha"),
             (4, datetime(2024, 1, 1, 0, 30), "gamma")], schema
        ).coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
        rows = spark.sql("SELECT doc_id, text FROM dedup_stream").collect()
    finally:
        q.stop()
    got = {(r["doc_id"], r["text"]) for r in rows}
    assert got == {(1, "alpha"), (2, "beta"), (4, "gamma")}


def test_stream_stream_interval_join(spark, tmp_path):
    """Clicks join their user's view within 1 hour; a click outside the
    interval and a view with no click produce nothing (inner join)."""
    from datetime import datetime

    from flume_spark.streaming.joins import interval_join

    vsrc, csrc = tmp_path / "views", tmp_path / "clicks"
    vsrc.mkdir(); csrc.mkdir()
    vschema = "user_id long, view_ts timestamp, page string"
    cschema = "user_id long, click_ts timestamp, target string"
    t0 = datetime(2024, 1, 1, 10, 0)
    spark.createDataFrame(
        [(1, t0, "home"), (2, t0, "search"), (3, t0, "home")], vschema
    ).coalesce(1).write.mode("append").parquet(str(vsrc))
    spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 10, 20), "buy"),     # in window
         (2, datetime(2024, 1, 1, 12, 0), "late")],    # outside 1h window
        cschema,
    ).coalesce(1).write.mode("append").parquet(str(csrc))

    views = spark.readStream.schema(vschema).parquet(str(vsrc))
    clicks = spark.readStream.schema(cschema).parquet(str(csrc))
    joined = interval_join(
        views, clicks, key="user_id",
        left_ts="view_ts", right_ts="click_ts",
        within="1 hour", left_watermark="2 hours", right_watermark="2 hours",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("vc_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_j"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT user_id, page, target FROM vc_join").collect()
    finally:
        q.stop()
    assert [(r["user_id"], r["page"], r["target"]) for r in rows] == [(1, "home", "buy")]


def test_streaming_curation_filters_and_dedups(spark, tmp_path):
    """Composed streaming curation: low-quality docs rejected BEFORE dedup
    state; duplicates of admitted docs dropped; survivors carry quality."""
    from datetime import datetime

    from flume_spark.streaming.dedup import streaming_curation

    src = tmp_path / "cur_stream"
    src.mkdir()
    schema = "doc_id long, ts timestamp, text string"
    t = datetime(2024, 1, 1, 0, 0)
    good = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the wide green field of tall grass and old trees"
    )
    spark.createDataFrame(
        [(1, t, good), (2, t, "x")], schema  # doc 2: one token, no stopwords
    ).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(
        [(3, datetime(2024, 1, 1, 0, 10), good)], schema  # duplicate of 1
    ).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = streaming_curation(
        stream, "text", "ts", watermark="1 hour", min_quality=0.3
    )
    q = (
        out.writeStream.format("memory")
        .queryName("curated")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_c"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT doc_id, quality FROM curated").collect()
    finally:
        q.stop()
    assert [r["doc_id"] for r in rows] == [1]
    assert rows[0]["quality"] >= 0.3


def test_idempotent_sink_skips_replayed_batch(spark, tmp_path):
    """A replayed (batch_id, data) pair — the at-least-once crash case —
    must not double-append; a NEW batch_id still writes."""
    from flume_spark.streaming.sink import idempotent_foreach_batch

    out = tmp_path / "sink_out"
    out.mkdir()
    writes = []

    def write_fn(df, batch_id):
        rows = df.collect()
        writes.append((batch_id, len(rows)))
        with open(out / f"part-{batch_id}-{len(writes)}", "w") as fh:
            fh.write("\n".join(str(r["id"]) for r in rows))

    wrapped = idempotent_foreach_batch(write_fn, str(tmp_path / "ledger"))
    df = spark.range(3)
    wrapped(df, 0)
    wrapped(df, 0)  # replay after simulated crash-before-checkpoint
    wrapped(df, 1)
    assert writes == [(0, 3), (1, 3)]  # batch 0 ran once, batch 1 ran
    assert len(list(out.iterdir())) == 2


def test_idempotent_sink_in_live_stream(spark, tmp_path):
    """Wired into a real writeStream.foreachBatch: every input row lands
    exactly once across micro-batches."""
    from flume_spark.streaming.sink import idempotent_foreach_batch

    src = tmp_path / "sink_src"
    src.mkdir()
    schema = "id long"
    spark.createDataFrame([(1,), (2,)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    spark.createDataFrame([(3,)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))

    seen: list[int] = []
    wrapped = idempotent_foreach_batch(
        lambda df, bid: seen.extend(r["id"] for r in df.collect()),
        str(tmp_path / "ledger2"),
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(wrapped)
        .option("checkpointLocation", str(tmp_path / "ckpt_fb"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(seen) == [1, 2, 3]


def test_two_runners_share_one_store(spark, tmp_path):
    """Two live PipelineRunners (separate pipelines/queues) on ONE job log:
    concurrent trigger-time claims and acks must not lose or double-run
    jobs — the single-store multi-pipeline deployment shape."""
    registry = WorkerRegistry()
    journal = str(tmp_path / "journal2r.jsonl")

    def track(tag):
        # dispatch runs in executor python workers: journal to a file, the
        # only cross-process-observable channel (same pattern as test_queue)
        with open(journal, "a") as fh:
            fh.write(tag + "\n")

    registry.register("TrackWorker", track)
    store = JobStore(spark, str(tmp_path / "jobs2r"))
    p1 = Pipeline(name="r1", queue="qa", max_demand=100)
    p2 = Pipeline(name="r2", queue="qb", max_demand=100)
    manager = QueueManager(spark, store, registry, pipelines=[p1, p2])
    r1 = PipelineRunner(
        spark, manager, p1,
        checkpoint_dir=str(tmp_path / "ck1"), trigger_seconds=0.2,
    )
    r2 = PipelineRunner(
        spark, manager, p2,
        checkpoint_dir=str(tmp_path / "ck2"), trigger_seconds=0.2,
    )
    try:
        manager.bulk_enqueue("qa", [("TrackWorker", "perform", [f"a{i}"]) for i in range(20)])
        manager.bulk_enqueue("qb", [("TrackWorker", "perform", [f"b{i}"]) for i in range(20)])
        r1.start()
        r2.start()
        r1.await_idle()
        r2.await_idle()
        # late arrivals while both streams run
        manager.bulk_enqueue("qa", [("TrackWorker", "perform", ["a-late"])])
        manager.bulk_enqueue("qb", [("TrackWorker", "perform", ["b-late"])])
        r1.await_idle()
        r2.await_idle()
    finally:
        r1.stop()
        r2.stop()
    counts = _status_counts(manager)
    assert counts == {"succeeded": 42}
    processed = open(journal).read().split()
    assert sorted(processed) == sorted(
        [f"a{i}" for i in range(20)] + [f"b{i}" for i in range(20)] + ["a-late", "b-late"]
    )


def test_interval_join_same_ts_column_names(spark, tmp_path):
    """Both streams naming their event-time column 'ts' (the common case)
    must not hit an ambiguous-reference analysis error."""
    from datetime import datetime

    from flume_spark.streaming.joins import interval_join

    asrc, bsrc = tmp_path / "ija", tmp_path / "ijb"
    asrc.mkdir(); bsrc.mkdir()
    schema = "user_id long, ts timestamp, tag string"
    t0 = datetime(2024, 1, 1, 10, 0)
    spark.createDataFrame([(1, t0, "left")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(asrc))
    spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 10, 30), "right")], schema
    ).coalesce(1).write.mode("append").parquet(str(bsrc))

    left = spark.readStream.schema(schema).parquet(str(asrc))
    right = (
        spark.readStream.schema(schema)
        .parquet(str(bsrc))
        .withColumnRenamed("tag", "rtag")
        .withColumnRenamed("ts", "rts")
    )
    # same-name case: rename back to 'ts' to exercise ambiguity handling
    right = right.withColumnRenamed("rts", "ts")
    joined = interval_join(
        left, right, key="user_id", left_ts="ts", right_ts="ts",
        within="1 hour", left_watermark="2 hours", right_watermark="2 hours",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ij_same")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ij"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT tag, rtag FROM ij_same").collect()
    finally:
        q.stop()
    assert [(r["tag"], r["rtag"]) for r in rows] == [("left", "right")]


def test_streaming_session_window_matches_batch(spark, tmp_path):
    """ST9 session windows under readStream: events arriving in separate
    micro-batches merge into the same session in the state store, and the
    final sessions equal the batch session_window answer."""
    from datetime import datetime

    from flume_spark.streaming.windows import streaming_session_counts

    src = tmp_path / "sess_stream"
    src.mkdir()
    schema = "event_id long, ts timestamp, user_id long"
    # user 1: two events 1h apart (one session with 4h gap), then one 10h
    # later (second session); user 2: single event
    spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0, 0), 1), (2, datetime(2024, 1, 1, 1, 0), 1)],
        schema,
    ).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(
        [(3, datetime(2024, 1, 1, 11, 0), 1), (4, datetime(2024, 1, 1, 0, 30), 2)],
        schema,
    ).coalesce(1).write.mode("append").parquet(str(src))

    stream = streaming_session_counts(
        spark, str(src), schema, key_col="user_id", gap="4 hours"
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("sess_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["user_id"], r["session_start"].hour): r["n_events"]
            for r in spark.sql("SELECT * FROM sess_counts").collect()
        }
    finally:
        q.stop()
    from pyspark.sql import functions as F

    batch = (
        spark.read.schema(schema).parquet(str(src))
        .groupBy(F.session_window("ts", "4 hours").alias("w"), "user_id")
        .count()
        .collect()
    )
    exp = {(r["user_id"], r["w"]["start"].hour): r["count"] for r in batch}
    assert got == exp == {(1, 0): 2, (1, 11): 1, (2, 0): 1}


def test_from_config_boots_two_pipelines(spark, tmp_path):
    """Config-driven boot (supervisor.ex:17-41 / support/pipelines.ex:11-27):
    the whole topology from one dict; jobs enqueued into both pipelines'
    queues get processed by their own streaming runners."""
    import flume_spark

    journal = str(tmp_path / "boot.jsonl")
    registry = WorkerRegistry()

    def work(*args):
        with open(journal, "a") as f:
            f.write("1\n")

    registry.register("W", work)

    def bulk_work(args_list):
        with open(journal, "a") as f:
            f.write("\n".join("1" for _ in args_list) + "\n")

    registry.register("BW", bulk_work)

    app = flume_spark.from_config(
        spark,
        {
            "store_path": str(tmp_path / "jobs_cfg"),
            "checkpoint_dir": str(tmp_path / "ckpt_cfg"),
            "max_retries": 2,
            "trigger_seconds": 0.25,
            "pipelines": [
                {"name": "plain", "queue": "qa", "max_demand": 100},
                {"name": "bulky", "queue": "qb", "batch_size": 2},
            ],
        },
        registry,
    )
    assert set(app.runners) == {"plain", "bulky"}
    assert app.manager.pipelines["bulky"].batch_size == 2
    # >1 runner sharing the store: compaction must default to a grace so one
    # pipeline's compact never unlinks a sibling's in-flight claim files
    assert app.manager.compact_grace_s == 30.0
    app.manager.bulk_enqueue("qa", [("W", "perform", [i]) for i in range(3)])
    app.manager.bulk_enqueue("qb", [("BW", "perform", [i]) for i in range(4)])
    app.start()
    try:
        app.await_idle()
        counts = {
            r["status"]: r["count"]
            for r in app.manager.current().groupBy("status").count().collect()
        }
        assert counts == {"succeeded": 7}
        with open(journal) as f:
            assert sum(1 for line in f if line.strip()) == 7
    finally:
        app.stop()


def test_from_config_rejects_bad_pipeline_keys(spark, tmp_path):
    import flume_spark

    with pytest.raises(ValueError, match="unknown pipeline config keys"):
        flume_spark.from_config(
            spark,
            {
                "store_path": str(tmp_path / "jx"),
                "pipelines": [{"name": "p", "queue": "q", "rate_limit": 5}],
            },
        )


def test_named_instrumentation_handler_attach_detach(spark, tmp_path):
    """Per-pipeline pluggable handler (pipeline/event.ex:6-28 +
    instrumentation/event_handler.ex): an attached handler receives
    [queue,:dequeue] with count+latency and its config; detaching by
    pipeline name stops delivery; instrument=False pipelines never attach
    (mirrors worker_test.exs telemetry assertions)."""
    from flume_spark.queue.instrumentation import (
        Telemetry,
        attach_pipeline_instrumentation,
    )

    seen = []

    def handler(event, measurements, metadata, config):
        seen.append((event, measurements, metadata, config))

    registry = WorkerRegistry()
    registry.register("NoopWorker", lambda *a: None)
    telemetry = Telemetry()
    pipes = [
        Pipeline(name="obs", queue="qo"),
        Pipeline(name="other", queue="qx"),
        Pipeline(name="quiet", queue="qq", instrument=False),
    ]
    assert attach_pipeline_instrumentation(
        telemetry, pipes[0], handler, config={"app_name": "t"}
    )
    assert not attach_pipeline_instrumentation(telemetry, pipes[2], handler)
    # duplicate id -> not re-attached (:telemetry already_exists semantics)
    assert not attach_pipeline_instrumentation(telemetry, pipes[0], handler)

    store = JobStore(spark, str(tmp_path / "jobs_instr"))
    m = QueueManager(spark, store, registry, pipelines=pipes, telemetry=telemetry)
    m.enqueue("qo", "NoopWorker", [])
    # 2 jobs on ANOTHER instrumented queue in the same trigger: obs's
    # handler must see ITS count (1), not the trigger total (3)
    m.enqueue("qx", "NoopWorker", [])
    m.enqueue("qx", "NoopWorker", [])
    m.enqueue("qq", "NoopWorker", [])
    m.run_many(["obs", "other", "quiet"])

    dequeues = [s for s in seen if s[0] == ("queue", "dequeue")]
    assert dequeues, "handler never saw [queue,:dequeue]"
    ev, meas, meta, config = dequeues[0]
    assert meas["count"] == 1, "handler got trigger-wide count, not its own"
    assert meas["latency_ms"] > 0
    assert config == {"app_name": "t"}
    assert "qo" in meta["queues"]
    workers = [s for s in seen if s[0] == ("pipeline", "worker")]
    assert workers and workers[0][1]["jobs"] == 1

    telemetry.detach("obs")
    n = len(seen)
    m.enqueue("qo", "NoopWorker", [])
    m.run_once("obs")
    assert len(seen) == n, "detached handler still receiving events"


def test_resume_drains_without_new_arrivals(runner_env):
    """Liveness (reference producer polls every 2s regardless of arrivals):
    jobs enqueued while paused must be processed after resume WITHOUT any
    new enqueue — the poll timer, not a fresh file, drives the drain."""
    manager, runner = runner_env
    manager.pause("stream")
    manager.bulk_enqueue("sq", [("NoopWorker", "perform", [i]) for i in range(3)])
    runner.start()
    runner.await_idle()
    assert _status_counts(manager) == {"pending": 3}
    manager.resume("stream")
    deadline = time.time() + 20
    while time.time() < deadline:
        if _status_counts(manager).get("succeeded") == 3:
            break
        time.sleep(0.2)
    assert _status_counts(manager) == {"succeeded": 3}


def test_runner_retriggers_while_claims_find_work(spark, tmp_path):
    """Demand replenishment (producer.ex:117-152,180-191): a trigger that
    claims work is followed at once by the next, so a backlog of
    3 x max_demand drains in consecutive triggers within seconds, not one
    claim per 30 s trigger/poll interval."""
    registry = WorkerRegistry()
    registry.register("NoopWorker", lambda *a: None)
    store = JobStore(spark, str(tmp_path / "jobs_rt"))
    pipeline = Pipeline(name="rt", queue="rtq", max_demand=5)
    manager = QueueManager(spark, store, registry, pipelines=[pipeline])
    runner = PipelineRunner(
        spark, manager, pipeline,
        checkpoint_dir=str(tmp_path / "ckpt_rt"),
        trigger_seconds=30.0, poll_seconds=30.0,
    )
    manager.bulk_enqueue("rtq", [("NoopWorker", "perform", [i]) for i in range(15)])
    try:
        runner.start()
        deadline = time.time() + 15
        while time.time() < deadline:
            if _status_counts(manager).get("succeeded") == 15:
                break
            time.sleep(0.2)
        assert _status_counts(manager) == {"succeeded": 15}
        assert runner.batches_run >= 3
    finally:
        runner.stop()


def test_paused_runner_does_not_spin(runner_env):
    """A paused tick claims nothing, so the poll loop waits poll_seconds
    after it instead of re-triggering: the tick count stays bounded."""
    manager, runner = runner_env
    ticks = []
    real_is_paused = manager.is_paused

    def is_paused(p):
        ticks.append(time.time())
        return real_is_paused(p)

    manager.is_paused = is_paused
    manager.pause("stream")
    manager.bulk_enqueue("sq", [("NoopWorker", "perform", [i]) for i in range(3)])
    runner.start()
    runner.await_idle()
    n0 = len(ticks)
    time.sleep(2.0)
    # ~8 polls at 0.25 s; a spinning loop would tick thousands of times
    assert len(ticks) - n0 <= 16
    assert _status_counts(manager) == {"pending": 3}


def test_poll_thread_survives_failed_trigger(runner_env):
    """A poll trigger that raises is logged and the loop keeps polling: a
    scheduled job (no file arrives when it becomes due, so only the poll
    loop can claim it) still drains."""
    import threading

    from flume_spark.queue.logger import RecordingLogger

    manager, runner = runner_env
    manager.logger = RecordingLogger()
    real_run_once = manager.run_once
    failed = []

    def flaky(pipeline, now=None):
        if not failed and threading.current_thread().name.startswith("flume-poll"):
            failed.append(time.time())
            raise RuntimeError("transient store outage")
        return real_run_once(pipeline, now=now)

    manager.run_once = flaky
    manager.enqueue_in("sq", 1.5, "NoopWorker", ["later"])
    runner.start()
    deadline = time.time() + 20
    while time.time() < deadline:
        if _status_counts(manager).get("succeeded") == 1:
            break
        time.sleep(0.2)
    assert failed, "the poll loop never ran a trigger"
    assert _status_counts(manager) == {"succeeded": 1}
    errors = [m for level, m, _ in manager.logger.lines if level == "error"]
    assert any("transient store outage" in m for m in errors), errors


def test_two_busy_runners_still_compact(spark, tmp_path):
    """Compaction needs a moment with no trigger in flight on the manager;
    two runners re-triggering back to back must not starve it — it runs
    while both backlogs are still draining."""
    journal = str(tmp_path / "journal_cmp.txt")

    def track(tag):
        with open(journal, "a") as fh:
            fh.write(tag + "\n")

    def done():
        try:
            with open(journal) as fh:
                return sum(1 for _ in fh)
        except FileNotFoundError:
            return 0

    registry = WorkerRegistry()
    registry.register("TrackWorker", track)
    store = JobStore(spark, str(tmp_path / "jobs_cmp"))
    p1 = Pipeline(name="c1", queue="ca", max_demand=2)
    p2 = Pipeline(name="c2", queue="cb", max_demand=2)
    manager = QueueManager(
        spark, store, registry, pipelines=[p1, p2], compact_max_files=8
    )
    compacted_at = []
    real_compact = store.compact

    def compact(**kwargs):
        compacted_at.append(done())
        return real_compact(**kwargs)

    store.compact = compact
    runners = [
        PipelineRunner(
            spark, manager, p,
            checkpoint_dir=str(tmp_path / f"ck_{p.name}"), trigger_seconds=0.2,
        )
        for p in (p1, p2)
    ]
    manager.bulk_enqueue("ca", [("TrackWorker", "perform", [f"a{i}"]) for i in range(20)])
    manager.bulk_enqueue("cb", [("TrackWorker", "perform", [f"b{i}"]) for i in range(20)])
    try:
        for r in runners:
            r.start()
        deadline = time.time() + 60
        while done() < 40 and time.time() < deadline:
            time.sleep(0.2)
    finally:
        for r in runners:
            r.stop()
    assert _status_counts(manager) == {"succeeded": 40}
    assert compacted_at and min(compacted_at) < 40, compacted_at


def test_scheduled_job_runs_when_due_without_arrivals(runner_env):
    """A job scheduled for the future becomes due with NO new file arriving;
    the poll timer must claim it (≙ the reference scheduler loop)."""
    manager, runner = runner_env
    manager.enqueue_in("sq", 2.0, "NoopWorker", ["later"])
    runner.start()
    runner.await_idle()  # arrival processed, but the job is not yet due
    assert _status_counts(manager) == {"pending": 1}
    deadline = time.time() + 20
    while time.time() < deadline:
        if _status_counts(manager).get("succeeded") == 1:
            break
        time.sleep(0.2)
    assert _status_counts(manager) == {"succeeded": 1}


def test_stream_interval_join_outer_keeps_right_key(spark, tmp_path):
    """Outer stream-stream interval join: an unmatched right row must keep
    its key (coalesced output column), not emit key=NULL."""
    from datetime import datetime

    from flume_spark.streaming.joins import interval_join

    schema = "user_id long, ts timestamp, v string"
    src_l = tmp_path / "lhs"
    src_r = tmp_path / "rhs"
    spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0, 0), "L1")], schema
    ).coalesce(1).write.parquet(str(src_l))
    spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 30), "R1"),   # joins L1
            (7, datetime(2024, 1, 1, 0, 10), "Rx"),   # no left match
        ],
        schema,
    ).coalesce(1).write.parquet(str(src_r))
    lhs = spark.readStream.schema(schema).parquet(str(src_l)).withColumnRenamed("v", "lv")
    rhs = (
        spark.readStream.schema(schema)
        .parquet(str(src_r))
        .withColumnRenamed("v", "rv")
        .withColumnRenamed("ts", "rts")
    )
    out = interval_join(
        lhs, rhs, "user_id", "ts", "rts",
        within="1 hour", left_watermark="2 hours", right_watermark="2 hours",
        how="full_outer",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ivj")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ivj"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {
            (r["user_id"], r["rv"])
            for r in spark.sql("SELECT user_id, rv FROM ivj").collect()
        }
    finally:
        q.stop()
    assert (1, "R1") in rows
    # outer-join completeness for unmatched rows needs the watermark to
    # advance past them; at minimum the matched row must carry its key and
    # no row may have a NULL key
    assert all(k is not None for k, _ in rows)


def test_streaming_passage_dedup_first_seen_chunks(spark, tmp_path):
    """Streaming passage dedup: a later doc re-using an earlier doc's
    passage keeps only its NOVEL chunks; the first-seen doc keeps all."""
    from datetime import datetime

    from flume_spark.streaming.dedup import streaming_passage_dedup

    src = tmp_path / "passage_stream"
    src.mkdir()
    schema = "doc_id long, ts timestamp, text string"
    block = " ".join(f"b{i}" for i in range(16))
    fresh = " ".join(f"n{i}" for i in range(16))
    t = datetime(2024, 1, 1, 0, 0)
    spark.createDataFrame([(1, t, block)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = streaming_passage_dedup(
        stream, "doc_id", "text", "ts", chunk_tokens=16, watermark="1 hour"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("passage_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_p"))
        .start()
    )
    try:
        q.processAllAvailable()
        # doc 2 = copied block + a fresh chunk, arriving 30 min later
        spark.createDataFrame(
            [(2, datetime(2024, 1, 1, 0, 30), block + " " + fresh)], schema
        ).coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT doc_id, chunk_idx FROM passage_stream"
        ).collect()
    finally:
        q.stop()
    got = {(r["doc_id"], r["chunk_idx"]) for r in rows}
    # doc 1's single chunk survives; doc 2 keeps only its novel chunk 1
    assert got == {(1, 0), (2, 1)}


def test_streaming_lsh_ingest_links_across_batches(spark, tmp_path):
    """LshIngestor: a near-dup arriving in a LATER micro-batch is linked to
    the earlier doc via the persisted band index; history is probed, never
    re-paired."""
    from flume_spark.streaming.dedup import LshIngestor

    src = tmp_path / "lsh_stream"
    src.mkdir()
    schema = "doc_id long, text string"
    base = " ".join(f"w{i}" for i in range(40))
    other = " ".join(f"z{i}" for i in range(40))
    variant = base.replace("w3 ", "w3x ")
    spark.createDataFrame([(1, base), (2, other)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))

    ing = LshIngestor(
        spark,
        index_dir=str(tmp_path / "lsh_index"),
        pairs_dir=str(tmp_path / "lsh_pairs"),
        ledger_dir=str(tmp_path / "lsh_ledger"),
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(ing.process)
        .option("checkpointLocation", str(tmp_path / "ckpt_lsh"))
        .start()
    )
    try:
        q.processAllAvailable()
        first = ing.candidate_pairs()
        assert first is None or first.count() == 0  # batch 1: no near-dups yet
        spark.createDataFrame([(10, variant)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        q.processAllAvailable()
        pairs = {
            (r.doc_new, r.doc_match) for r in ing.candidate_pairs().collect()
        }
    finally:
        q.stop()
    assert (10, 1) in pairs
    assert all(n == 10 for n, _ in pairs)  # only the new batch probes
    # the index now carries signatures for every ingested doc
    idx_ids = {r.id for r in spark.read.parquet(str(tmp_path / "lsh_index")).collect()}
    assert idx_ids == {1, 2, 10}


def test_streaming_lsh_ingest_replay_converges(spark, tmp_path):
    """Crash-replay safety: re-running a batch whose index write landed but
    whose ledger marker did not must converge to the SAME pairs — no
    reversed duplicates from reading the batch's own signatures as
    history."""
    from flume_spark.streaming.dedup import LshIngestor

    base = " ".join(f"w{i}" for i in range(40))
    variant = base.replace("w3 ", "w3x ")
    batch = spark.createDataFrame(
        [(10, base), (11, variant)], "doc_id long, text string"
    )
    ing = LshIngestor(
        spark,
        index_dir=str(tmp_path / "idx"),
        pairs_dir=str(tmp_path / "pairs"),
        ledger_dir=str(tmp_path / "ledger"),
    )
    ing._process(batch, batch_id=0)
    first = {(r.doc_new, r.doc_match) for r in ing.candidate_pairs().collect()}
    # simulate the crash window: index + pairs written, marker never
    # committed -> the wrapper would re-invoke _process with the same id
    ing._process(batch, batch_id=0)
    replay = {(r.doc_new, r.doc_match) for r in ing.candidate_pairs().collect()}
    assert first == replay == {(10, 11)}


# -- stream-static dimension enrichment (streaming/joins.enrich_stream) ------


def test_enrich_stream_dim_snapshot_per_query(spark, tmp_path):
    """Stream-static enrichment semantics, both halves of the classic trap:
    (a) unmatched stream rows survive with NULL enrichment (left join);
    (b) the dim is SNAPSHOTTED for the query lifetime — files added to
    the dim dir stay invisible (even after refreshByPath); a restarted
    query re-lists and sees them."""
    from flume_spark.streaming.joins import enrich_stream

    src, dim = tmp_path / "ev_src", tmp_path / "dim"
    src.mkdir(); dim.mkdir()
    eschema = "user_id long, action string"
    dschema = "user_id long, tier string"
    spark.createDataFrame([(1, "gold")], dschema).coalesce(1).write.mode(
        "append"
    ).parquet(str(dim))

    stream = spark.readStream.schema(eschema).parquet(str(src))
    enriched = enrich_stream(
        stream, spark.read.schema(dschema).parquet(str(dim)), key="user_id"
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched_ev")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
        .start()
    )
    try:
        spark.createDataFrame([(1, "click"), (2, "view")], eschema).coalesce(
            1
        ).write.mode("append").parquet(str(src))
        q.processAllAvailable()
        # user 2 has no dim row yet -> NULL tier, row NOT dropped
        got = {
            (r.user_id, r.action, r.tier)
            for r in spark.sql("SELECT * FROM enriched_ev").collect()
        }
        assert got == {(1, "click", "gold"), (2, "view", None)}
        # dim grows between triggers: WITHOUT a refresh the cached file
        # listing hides the new file from the next batch (the trap)
        spark.createDataFrame([(2, "silver")], dschema).coalesce(1).write.mode(
            "append"
        ).parquet(str(dim))
        spark.createDataFrame([(2, "buy")], eschema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        q.processAllAvailable()
        got2 = {
            (r.user_id, r.action, r.tier)
            for r in spark.sql("SELECT * FROM enriched_ev").collect()
        }
        assert (2, "buy", None) in got2  # stale snapshot — documented
        # even an explicit refresh does not reach the RUNNING query's plan
        spark.catalog.refreshByPath(str(dim))
        spark.createDataFrame([(2, "pay")], eschema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        q.processAllAvailable()
        got3 = {
            (r.user_id, r.action, r.tier)
            for r in spark.sql("SELECT * FROM enriched_ev").collect()
        }
        assert (2, "pay", None) in got3
    finally:
        q.stop()
    # a RESTARTED query builds a fresh plan -> new listing, dim visible
    enriched2 = enrich_stream(
        stream, spark.read.schema(dschema).parquet(str(dim)), key="user_id"
    )
    q2 = (
        enriched2.writeStream.format("memory")
        .queryName("enriched_ev2")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_enrich2"))
        .start()
    )
    try:
        spark.createDataFrame([(2, "renew")], eschema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        q2.processAllAvailable()
        got4 = {
            (r.user_id, r.action, r.tier)
            for r in spark.sql("SELECT * FROM enriched_ev2").collect()
        }
        assert (2, "renew", "silver") in got4
    finally:
        q2.stop()


# -- streaming count-min sketches (streaming/sketch.CmsIngestor) -------------


def test_cms_ingestor_merged_equals_batch_sketch(spark, tmp_path):
    """Per-batch sketches merged across triggers == the sketch of all
    events at once; replaying a batch converges (overwrite partition);
    estimates never under-count."""
    from flume_spark.operators import skew
    from flume_spark.streaming.sketch import CmsIngestor

    b1 = spark.createDataFrame([(f"u{i % 5}",) for i in range(200)], "user_id string")
    b2 = spark.createDataFrame([(f"u{i % 9}",) for i in range(150)], "user_id string")
    ing = CmsIngestor(
        spark, str(tmp_path / "cms"), str(tmp_path / "cms_ledger"), "user_id"
    )
    assert ing.merged() is None  # before any batch
    ing.process(b1, 0)
    ing.process(b2, 1)
    whole = skew.countmin_table(b1.unionByName(b2), "user_id")
    as_map = lambda df: {(r["row"], r.bucket): r.counter for r in df.collect()}
    assert as_map(ing.merged()) == as_map(whole)
    # ledger makes the replay a no-op; a direct _process replay converges too
    ing.process(b2, 1)
    ing._process(b2, 1)
    assert as_map(ing.merged()) == as_map(whole)
    # estimates >= true counts
    true = {
        r.user_id: r.n
        for r in b1.unionByName(b2).groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    est = {
        r.user_id: r.freq_estimate
        for r in ing.estimate(
            b1.unionByName(b2).select("user_id").distinct()
        ).collect()
    }
    assert all(est[k] >= v for k, v in true.items())


# -- streaming exact-substring ingest (streaming/dedup.SubstrIngestor) -------


def test_streaming_substr_ingest_profiles_across_batches(spark, tmp_path):
    """SubstrIngestor: a later-arriving doc sharing a verbatim 8-word span
    with an earlier doc is flagged via the persisted window index; each
    doc's stats reflect the corpus AS OF its own ingest time."""
    from flume_spark.streaming.dedup import SubstrIngestor

    src = tmp_path / "sub_stream"
    src.mkdir()
    schema = "doc_id long, text string"
    span = "alpha bravo charlie delta echo foxtrot golf hotel"
    first = f"intro {span} outro one"
    other = "entirely different words with no shared span at all here"
    later = f"new frame around {span} closing"
    spark.createDataFrame([(1, first), (2, other)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))

    ing = SubstrIngestor(
        spark,
        index_dir=str(tmp_path / "sub_index"),
        stats_dir=str(tmp_path / "sub_stats"),
        ledger_dir=str(tmp_path / "sub_ledger"),
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(ing.process)
        .option("checkpointLocation", str(tmp_path / "ckpt_sub"))
        .start()
    )
    try:
        q.processAllAvailable()
        batch1 = {r["doc_id"]: r["n_dup_windows"] for r in ing.dup_stats().collect()}
        assert batch1 == {1: 0, 2: 0}  # nothing duplicated yet
        spark.createDataFrame([(10, later)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        q.processAllAvailable()
        stats = {r["doc_id"]: r["n_dup_windows"] for r in ing.dup_stats().collect()}
    finally:
        q.stop()
    # doc 10's SPAN window matched history through the index; docs 1/2
    # keep their at-ingest-time profile (history is never re-profiled)
    assert stats[10] == 1
    assert stats[1] == 0 and stats[2] == 0
    idx_ids = {
        r["id"] for r in spark.read.parquet(str(tmp_path / "sub_index")).collect()
    }
    assert idx_ids == {1, 2, 10}


def test_streaming_substr_ingest_replay_converges(spark, tmp_path):
    """Crash-replay safety: re-running a batch whose index write landed but
    whose ledger marker did not converges to the SAME stats — the batch's
    own partition is excluded from its replay probe."""
    from flume_spark.streaming.dedup import SubstrIngestor

    span = "alpha bravo charlie delta echo foxtrot golf hotel"
    batch = spark.createDataFrame(
        [(10, f"one {span} two"), (11, f"other {span} tail words")],
        "doc_id long, text string",
    )
    ing = SubstrIngestor(
        spark,
        index_dir=str(tmp_path / "idx"),
        stats_dir=str(tmp_path / "stats"),
        ledger_dir=str(tmp_path / "ledger"),
    )
    ing._process(batch, batch_id=0)
    first = {tuple(r) for r in ing.dup_stats().collect()}
    ing._process(batch, batch_id=0)  # simulated crash-window replay
    replay = {tuple(r) for r in ing.dup_stats().collect()}
    assert first == replay
    # within-batch: each doc's SPAN occurrence matched the other doc
    dup = {r["doc_id"]: r["n_dup_windows"] for r in ing.dup_stats().collect()}
    assert dup == {10: 1, 11: 1}


def test_streaming_substr_ingest_bucketed_table_mode(spark, tmp_path):
    """Table mode engages the bucketed window index and — unlike the LSH
    pairs path — even a DUPLICATED index partition (crash between index
    append and ledger marker) cannot change any count: the history leg is
    a left-semi join, existence only."""
    from flume_spark.operators.dedup import substring_windows
    from flume_spark.streaming.dedup import SubstrIngestor

    span = "alpha bravo charlie delta echo foxtrot golf hotel"
    b1 = spark.createDataFrame(
        [(1, f"intro {span} outro one")], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(10, f"later frame {span} here")], "doc_id long, text string"
    )
    ing = SubstrIngestor(
        spark,
        index_dir=str(tmp_path / "idx"),
        stats_dir=str(tmp_path / "stats"),
        ledger_dir=str(tmp_path / "ledger"),
        index_table="r8_sub_ing_idx",
        index_buckets=4,
    )
    try:
        ing._process(b1, batch_id=0)
        # crash window: batch 0's index append replays (duplicate rows)
        ing._write_index(substring_windows(b1, "doc_id", "text", k=8), batch_id=0)
        ing._process(b2, batch_id=1)
        stats = {r["doc_id"]: r["n_dup_windows"] for r in ing.dup_stats().collect()}
        assert stats == {1: 0, 10: 1}
    finally:
        spark.sql("DROP TABLE IF EXISTS r8_sub_ing_idx")


def test_streaming_substr_ingest_compaction_preserves_results(spark, tmp_path):
    """compact_index collapses per-batch partitions (file-count maintenance;
    the window index can never go stale) and later ingests still profile
    correctly against the compacted history."""
    from flume_spark.streaming.dedup import SubstrIngestor

    span = "alpha bravo charlie delta echo foxtrot golf hotel"
    ing = SubstrIngestor(
        spark,
        index_dir=str(tmp_path / "idx"),
        stats_dir=str(tmp_path / "stats"),
        ledger_dir=str(tmp_path / "ledger"),
        index_table="r8_sub_compact_idx",
        index_buckets=4,
    )
    schema = "doc_id long, text string"
    try:
        ing._process(
            spark.createDataFrame([(1, f"one {span} two")], schema), batch_id=0
        )
        ing._process(
            spark.createDataFrame(
                [(2, "totally different unshared words here all nine ten")], schema
            ),
            batch_id=1,
        )
        n_files = ing.compact_index()
        assert n_files <= 4  # one file per bucket after the collapse
        ing._process(
            spark.createDataFrame([(10, f"later {span} arrival")], schema),
            batch_id=2,
        )
        stats = {r["doc_id"]: r["n_dup_windows"] for r in ing.dup_stats().collect()}
        assert stats == {1: 0, 2: 0, 10: 1}
    finally:
        spark.sql("DROP TABLE IF EXISTS r8_sub_compact_idx")


# -- streaming semantic dedup (streaming/dedup.SemanticIngestor) --------------


def _sem_ing(spark, tmp_path, centroids):
    from flume_spark.streaming.dedup import SemanticIngestor

    return SemanticIngestor(
        spark,
        centroids,
        index_dir=str(tmp_path / "sem_idx"),
        marks_dir=str(tmp_path / "sem_marks"),
        ledger_dir=str(tmp_path / "sem_ledger"),
        threshold=0.9,
    )


def test_streaming_semantic_ingest_marks_across_batches(spark, tmp_path):
    """A later-arriving near-duplicate is marked against the persisted
    cluster index (dup_of = the EARLIER id even though it is numerically
    larger than nothing forces); earlier vectors keep their at-ingest-time
    verdicts."""
    schema = "vec_id long, embedding array<double>"
    ing = _sem_ing(spark, tmp_path, centroids=[[1.0, 0.0], [0.0, 1.0]])
    b1 = spark.createDataFrame([(7, [1.0, 0.0]), (8, [0.0, 1.0])], schema)
    b2 = spark.createDataFrame([(3, [0.999, 0.01])], schema)  # near-dup of 7
    ing._process(b1, batch_id=0)
    first = {r["vec_id"]: r["dup_of"] for r in ing.dup_marks().collect()}
    assert first == {7: None, 8: None}
    ing._process(b2, batch_id=1)
    marks = {r["vec_id"]: r["dup_of"] for r in ing.dup_marks().collect()}
    # id 3 < 7, but 7 arrived FIRST: seniority is arrival order, not id
    assert marks == {7: None, 8: None, 3: 7}


def test_streaming_semantic_ingest_replay_converges(spark, tmp_path):
    """Crash-window replay (index written, marker missing, no later batches
    yet) re-marks identically: the batch's own partition is excluded from
    its probe."""
    schema = "vec_id long, embedding array<double>"
    ing = _sem_ing(spark, tmp_path, centroids=[[1.0, 0.0], [0.0, 1.0]])
    batch = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.998, 0.02]), (12, [0.0, 1.0])], schema
    )
    ing._process(batch, batch_id=0)
    first = {tuple(r) for r in ing.dup_marks().collect()}
    ing._process(batch, batch_id=0)
    replay = {tuple(r) for r in ing.dup_marks().collect()}
    assert first == replay
    marks = {r["vec_id"]: r["dup_of"] for r in ing.dup_marks().collect()}
    assert marks == {10: None, 11: 10, 12: None}


def _sem_ing_capped(spark, tmp_path, centroids, cap):
    from flume_spark.streaming.dedup import SemanticIngestor

    return SemanticIngestor(
        spark,
        centroids,
        index_dir=str(tmp_path / "sem_idx"),
        marks_dir=str(tmp_path / "sem_marks"),
        ledger_dir=str(tmp_path / "sem_ledger"),
        threshold=0.9,
        per_cluster_cap=cap,
    )


_SEM_SCHEMA = "vec_id long, embedding array<double>"


def _axis_vecs(ids, dim=8):
    """One unit vector per id on axis id % dim: same-axis ids are exact
    dups (cosine 1), cross-axis cosine 0 — verdicts are geometry-obvious."""
    return [
        (i, [1.0 if j == i % dim else 0.0 for j in range(dim)]) for i in ids
    ]


def test_semantic_ingestor_epoch_rolls_and_pins_old_marks(spark, tmp_path):
    """Crossing the population cap rolls an epoch: k grows, centroids are
    re-drawn, the index is reassigned — and every already-written mark is
    byte-identical (verdicts are pinned to their ingest epoch)."""
    ing = _sem_ing_capped(
        spark, tmp_path, centroids=[v for _, v in _axis_vecs([0, 1])], cap=2
    )
    b0 = spark.createDataFrame(_axis_vecs([0, 1, 2, 3, 4, 5]), _SEM_SCHEMA)
    ing._process(b0, batch_id=0)
    assert ing.epoch == 0
    before = {tuple(r) for r in ing.dup_marks().collect()}
    # 6 vectors / k=2 -> mean pop 3 > cap 2: the next batch rolls first
    b1 = spark.createDataFrame(_axis_vecs([10]), _SEM_SCHEMA)  # dup of id 2
    ing._process(b1, batch_id=1)
    assert ing.epoch == 1
    assert len(ing.centroids) > 2  # k grew with the corpus
    after = {tuple(r) for r in ing.dup_marks().collect()}
    assert before <= after  # old verdicts never revisited
    marks = {r["vec_id"]: r["dup_of"] for r in ing.dup_marks().collect()}
    # 10 and 2 share an axis (exact dup): the roll must not lose history
    assert marks[10] == 2


def test_semantic_ingestor_epoch_survives_restart(spark, tmp_path):
    """A restarted ingestor (same dirs, SEED centroids passed again) must
    resume the persisted epoch's centroid table, not the seed."""
    ing = _sem_ing_capped(
        spark, tmp_path, centroids=[v for _, v in _axis_vecs([0, 1])], cap=2
    )
    ing._process(
        spark.createDataFrame(_axis_vecs(range(6)), _SEM_SCHEMA), batch_id=0
    )
    ing._process(
        spark.createDataFrame(_axis_vecs([10]), _SEM_SCHEMA), batch_id=1
    )
    assert ing.epoch == 1
    re = _sem_ing_capped(
        spark, tmp_path, centroids=[v for _, v in _axis_vecs([0, 1])], cap=2
    )
    assert re.epoch == 1
    assert re.centroids == ing.centroids
    re._process(
        spark.createDataFrame(_axis_vecs([13]), _SEM_SCHEMA), batch_id=2
    )
    marks = {r["vec_id"]: r["dup_of"] for r in re.dup_marks().collect()}
    assert marks[13] == 5  # axis 5: dup of pre-restart, pre-roll id 5


def test_semantic_ingestor_crash_window_replay_across_roll(spark, tmp_path):
    """Raw crash-window replay of the batch that TRIGGERED a roll (marker
    deleted, _process re-run) must converge: the roll trigger and the probe
    both exclude the batch's own rows via src_batch, so the decision, the
    carried index, and the re-marks are identical — and the epoch does not
    roll twice."""
    ing = _sem_ing_capped(
        spark, tmp_path, centroids=[v for _, v in _axis_vecs([0, 1])], cap=2
    )
    ing._process(
        spark.createDataFrame(_axis_vecs(range(6)), _SEM_SCHEMA), batch_id=0
    )
    b1 = spark.createDataFrame(_axis_vecs([10, 11]), _SEM_SCHEMA)
    ing._process(b1, batch_id=1)  # rolls, then marks
    assert ing.epoch == 1
    first = {tuple(r) for r in ing.dup_marks().collect()}
    ing._process(b1, batch_id=1)  # crash-window replay
    assert ing.epoch == 1  # no double roll
    replay = {tuple(r) for r in ing.dup_marks().collect()}
    assert first == replay
    # and a later batch still probes a clean index (no duplicate-row drift)
    ing._process(
        spark.createDataFrame(_axis_vecs([18]), _SEM_SCHEMA), batch_id=2
    )
    marks = {r["vec_id"]: r["dup_of"] for r in ing.dup_marks().collect()}
    assert marks[18] == 2  # axis 2: the senior occupant wins


def test_semantic_ingestor_index_reads_prune_cluster_buckets(spark, tmp_path):
    """Index writes are partitioned by cbucket = cluster % index_buckets;
    a bucket-scoped read must carry a parquet PartitionFilter on cbucket,
    so a probing batch lists only its touched directories — and the
    pruned read still returns exactly the requested clusters' rows."""
    ing = _sem_ing_capped(
        spark, tmp_path, centroids=[v for _, v in _axis_vecs([0, 1])], cap=None
    )
    ing._process(
        spark.createDataFrame(_axis_vecs(range(8)), _SEM_SCHEMA), batch_id=0
    )
    full = ing._read_index(exclude_batch_id=-1)
    some = ing._read_index(exclude_batch_id=-1, buckets=[0])
    plan = some._jdf.queryExecution().executedPlan().toString()
    assert "cbucket" in plan and "PartitionFilters" in plan
    got = {r["cluster"] % ing.index_buckets for r in some.collect()}
    assert got == {0}
    assert some.count() < full.count()


def test_semantic_ingestor_vacuum_epochs(spark, tmp_path):
    """vacuum_epochs removes rolled-past index trees (reads only touch the
    current epoch) and their superseded centroid tables, leaves marks and
    the live epoch intact, and restart recovery still works after."""
    import os

    ing = _sem_ing_capped(
        spark, tmp_path, centroids=[v for _, v in _axis_vecs([0, 1])], cap=2
    )
    ing._process(
        spark.createDataFrame(_axis_vecs(range(6)), _SEM_SCHEMA), batch_id=0
    )
    ing._process(
        spark.createDataFrame(_axis_vecs([10]), _SEM_SCHEMA), batch_id=1
    )  # rolls to epoch 1
    assert ing.epoch == 1
    idx = str(tmp_path / "sem_idx")
    assert os.path.isdir(os.path.join(idx, "epoch=0"))
    before = {tuple(r) for r in ing.dup_marks().collect()}
    assert ing.vacuum_epochs() == 1
    assert not os.path.isdir(os.path.join(idx, "epoch=0"))
    assert os.path.isdir(os.path.join(idx, "epoch=1"))
    assert {tuple(r) for r in ing.dup_marks().collect()} == before
    # the live index still probes correctly after the vacuum
    ing._process(
        spark.createDataFrame(_axis_vecs([18]), _SEM_SCHEMA), batch_id=2
    )
    marks = {r["vec_id"]: r["dup_of"] for r in ing.dup_marks().collect()}
    assert marks[18] == 2  # axis-2 senior survived the vacuum
    # restart recovery: only the live centroid table remains, and it loads
    re = _sem_ing_capped(
        spark, tmp_path, centroids=[v for _, v in _axis_vecs([0, 1])], cap=2
    )
    assert re.epoch == 1 and re.centroids == ing.centroids
