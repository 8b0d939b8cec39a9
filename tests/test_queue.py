"""Queue engine tests mirroring the reference's manager/pipeline test matrix
(SURVEY.md §5: test/flume/queue/manager_test.exs, test/flume_test.exs).

A controllable `now` is threaded through every operation so scheduled /
retry / visibility-timeout semantics are asserted deterministically.
"""

from __future__ import annotations

import json

import pytest

from flume_spark.queue import JobStore, QueueManager, WorkerRegistry
from flume_spark.queue.backoff import backoff_ms
from flume_spark.queue.manager import Pipeline

T0 = 1_700_000_000.0  # fixed epoch base for deterministic clocks

# Workers run in executor Python processes, so the call journal is a file
# (O_APPEND writes are atomic at this size).
JOURNAL = None


def _record(kind, payload):
    with open(JOURNAL, "a") as f:
        f.write(json.dumps({"kind": kind, "payload": payload}) + "\n")


def calls():
    out = []
    try:
        with open(JOURNAL) as f:
            for line in f:
                rec = json.loads(line)
                out.append((rec["kind"], rec["payload"]))
    except FileNotFoundError:
        pass
    return out


@pytest.fixture()
def engine(spark, tmp_path):
    global JOURNAL
    JOURNAL = str(tmp_path / "journal.jsonl")
    journal = JOURNAL
    registry = WorkerRegistry()

    @registry.register("EchoWorker")
    def echo(*args):
        with open(journal, "a") as f:
            f.write(json.dumps({"kind": "echo", "payload": list(args)}) + "\n")

    @registry.register("FailWorker")
    def fail(*args):
        raise ValueError("boom")

    @registry.register("BulkWorker")
    def bulk(args_list):
        with open(journal, "a") as f:
            f.write(json.dumps({"kind": "bulk", "payload": args_list}) + "\n")

    @registry.register("BulkFailWorker")
    def bulk_fail(args_list):
        raise RuntimeError("bulk boom")

    store = JobStore(spark, str(tmp_path / "jobs"))
    manager = QueueManager(
        spark,
        store,
        registry,
        pipelines=[
            Pipeline(name="default", queue="default", max_demand=500),
            Pipeline(name="batch", queue="batch", max_demand=500, batch_size=2),
            Pipeline(
                name="limited",
                queue="limited",
                max_demand=500,
                rate_limit_count=2,
                rate_limit_scale=1000,
            ),
        ],
    )
    return manager


# -- enqueue (manager_test.exs:17-21) ---------------------------------------


def test_enqueue_creates_pending_row(engine):
    jid = engine.enqueue("default", "EchoWorker", [1], now=T0)
    row = engine.current().collect()[0]
    assert row["jid"] == jid
    assert row["status"] == "pending"
    assert row["retry_count"] == 0
    assert json.loads(row["args"]) == [1]
    assert engine.job_counts(["default", "other"]) == {"default": 1, "other": 0}


def test_bulk_enqueue(engine):
    jids = engine.bulk_enqueue(
        "default", [("EchoWorker", "perform", [i]) for i in range(5)], now=T0
    )
    assert len(set(jids)) == 5
    assert engine.job_counts(["default"]) == {"default": 5}


def test_object_args_rejected(engine):
    """Reference rejects JSON-object args -> [] (event.ex:88-89)."""
    engine.enqueue("default", "EchoWorker", {"a": 1}, now=T0)
    row = engine.current().collect()[0]
    assert json.loads(row["args"]) == []


# -- run_once happy path ----------------------------------------------------


def test_run_once_executes_and_acks(engine):
    engine.enqueue("default", "EchoWorker", ["x", 42], now=T0)
    stats = engine.run_once("default", now=T0 + 1)
    assert stats == {"claimed": 1, "succeeded": 1, "retried": 0, "dead": 0}
    assert calls() == [("echo", ["x", 42])]
    row = engine.current().collect()[0]
    assert row["status"] == "succeeded"
    assert row["finished_at"] is not None
    assert engine.job_counts(["default"]) == {"default": 0}


# -- scheduled jobs (manager_test.exs:33-37, 194-277) -----------------------


def test_enqueue_in_not_due_until_schedule(engine):
    engine.enqueue_in("default", 60, "EchoWorker", [1], now=T0)
    assert engine.run_once("default", now=T0 + 30)["claimed"] == 0
    assert engine.run_once("default", now=T0 + 61)["claimed"] == 1
    assert calls() == [("echo", [1])]


# -- retry with backoff then DLQ (manager_test.exs:108-163) -----------------


def test_retry_backoff_then_dead(engine):
    engine.enqueue("default", "FailWorker", [], now=T0)
    now = T0
    for attempt in range(1, 6):
        stats = engine.run_once("default", now=now)
        assert stats["claimed"] == 1, f"attempt {attempt}"
        assert stats["retried"] == 1
        row = engine.current().collect()[0]
        assert row["status"] == "retry"
        assert row["retry_count"] == attempt
        assert "ValueError: boom" in row["error_message"]
        expected_backoff = backoff_ms(attempt) / 1000.0
        delta = (row["retry_at"] - row["failed_at"]).total_seconds()
        assert abs(delta - expected_backoff) <= 1.0
        # not due again before retry_at
        assert engine.run_once("default", now=now)["claimed"] == 0
        now += 30
    stats = engine.run_once("default", now=now)
    assert stats["dead"] == 1
    row = engine.current().collect()[0]
    assert row["status"] == "dead"
    assert row["retry_count"] == 6


# -- visibility timeout reclaim (ST2) ---------------------------------------


def test_visibility_timeout_reclaim(engine, spark):
    """A claimed-but-never-acked job is reclaimable after the timeout."""
    engine.enqueue("default", "EchoWorker", [1], now=T0)
    # simulate a crashed claim: append a processing record with no ack
    from pyspark.sql import functions as F

    claimed = engine.due_jobs("default", T0 + 1).limit(1)
    from flume_spark.queue.manager import _ts

    engine.store.append(
        claimed.withColumn("status", F.lit("processing"))
        .withColumn("leased_at", F.lit(_ts(T0 + 1)))
        .withColumn("seq", F.lit(engine.store.next_seq()))
    )
    assert engine.run_once("default", now=T0 + 2)["claimed"] == 0  # leased
    stats = engine.run_once("default", now=T0 + 602)  # > 600s timeout
    assert stats == {"claimed": 1, "succeeded": 1, "retried": 0, "dead": 0}


# -- batch pipelines (producer_consumer_test.exs:57-61) ---------------------


def test_bulk_dispatch_nesting(engine):
    """Bulk worker receives [[args1, args2]] — exact reference nesting."""
    engine.bulk_enqueue("batch", [("BulkWorker", "perform", [i]) for i in range(4)], now=T0)
    stats = engine.run_once("batch", now=T0 + 1)
    assert stats["succeeded"] == 4
    recorded = calls()
    assert len(recorded) == 2  # 4 jobs / batch_size 2
    for name, args_list in recorded:
        assert name == "bulk"
        assert isinstance(args_list, list)
        assert all(isinstance(a, list) for a in args_list)
        assert len(args_list) == 2


def test_bulk_all_or_nothing_failure(engine):
    engine.bulk_enqueue("batch", [("BulkFailWorker", "perform", [i]) for i in range(2)], now=T0)
    stats = engine.run_once("batch", now=T0 + 1)
    assert stats["retried"] == 2
    rows = engine.current().collect()
    assert all(r["status"] == "retry" for r in rows)
    assert all("bulk boom" in r["error_message"] for r in rows)


# -- per-job isolation (worker.ex rescue semantics) -------------------------


def test_one_bad_job_does_not_fail_batch(engine):
    engine.enqueue("default", "FailWorker", [], now=T0)
    engine.enqueue("default", "EchoWorker", [7], now=T0)
    stats = engine.run_once("default", now=T0 + 1)
    assert stats["claimed"] == 2
    assert stats["succeeded"] == 1
    assert stats["retried"] == 1


# -- rate limiting (manager_test.exs:39-78, flume_test.exs slow section) ----


def test_rate_limit_admits_at_most_count_per_window(engine):
    engine.bulk_enqueue(
        "limited", [("EchoWorker", "perform", [i]) for i in range(10)], now=T0
    )
    done = 0
    now = T0 + 1
    for _ in range(5):  # 5 windows x 2 per window
        s1 = engine.run_once("limited", now=now)
        s2 = engine.run_once("limited", now=now + 0.2)  # same window: nothing
        assert s1["claimed"] <= 2
        assert s1["claimed"] + s2["claimed"] <= 2
        done += s1["claimed"] + s2["claimed"]
        now += 1.001  # next window
    assert done == 10


def test_rate_limit_shared_key(engine):
    """ST7 — pipelines sharing rate_limit_key share one ledger."""
    p1 = Pipeline(
        name="l1", queue="q1", rate_limit_count=3, rate_limit_scale=1000,
        rate_limit_key="shared",
    )
    p2 = Pipeline(
        name="l2", queue="q2", rate_limit_count=3, rate_limit_scale=1000,
        rate_limit_key="shared",
    )
    engine.pipelines.update({"l1": p1, "l2": p2})
    engine.bulk_enqueue("q1", [("EchoWorker", "perform", [i]) for i in range(3)], now=T0)
    engine.bulk_enqueue("q2", [("EchoWorker", "perform", [i]) for i in range(3)], now=T0)
    s1 = engine.run_once("l1", now=T0 + 1)
    s2 = engine.run_once("l2", now=T0 + 1.1)  # same window — budget consumed
    assert s1["claimed"] == 3
    assert s2["claimed"] == 0
    s3 = engine.run_once("l2", now=T0 + 2.2)  # new window
    assert s3["claimed"] == 3


# -- pause/resume (ST6) -----------------------------------------------------


def test_pause_resume(engine):
    engine.enqueue("default", "EchoWorker", [1], now=T0)
    engine.pause("default")
    assert engine.run_once("default", now=T0 + 1)["claimed"] == 0
    engine.resume("default")
    assert engine.run_once("default", now=T0 + 2)["claimed"] == 1


def test_pause_decision_snapshotted_once_per_trigger(engine):
    """The pause state is read exactly ONCE per pipeline per trigger, before
    any claim_lock is acquired (round-4 ADVICE medium): is_paused() consults
    a durable flag another instance can flip at any moment, so a second read
    inside the locked span could admit a queue whose claim_lock this trigger
    never took — reopening the double-claim window.  Counting calls pins the
    snapshot contract structurally."""
    engine.enqueue("default", "EchoWorker", [1], now=T0)
    reads: list[str] = []
    orig = engine.is_paused

    def counting(p):
        reads.append(p.name)
        return orig(p)

    engine.is_paused = counting
    try:
        assert engine.run_once("default", now=T0 + 1)["claimed"] == 1
    finally:
        engine.is_paused = orig
    assert reads == ["default"], f"pause flag read {len(reads)}x: {reads}"


# -- context propagation (U3) -----------------------------------------------


def test_context_propagation(engine):
    registry = engine.registry
    journal = JOURNAL

    @registry.register("CtxWorker")
    def ctx_worker(*args):
        from flume_spark.queue.workers import current_context

        with open(journal, "a") as f:
            f.write(json.dumps({"kind": "ctx", "payload": dict(current_context() or {})}) + "\n")

    engine.enqueue("default", "CtxWorker", [], context={"request_id": "123"}, now=T0)
    engine.run_once("default", now=T0 + 1)
    assert calls() == [("ctx", {"request_id": "123"})]


# -- FIFO ordering (W1) -----------------------------------------------------


def test_fifo_dequeue_order(engine):
    for i in range(5):
        engine.enqueue("default", "EchoWorker", [i], now=T0 + i)
    p = Pipeline(name="one", queue="default", max_demand=1)
    engine.pipelines["one"] = p
    for i in range(5):
        engine.run_once("one", now=T0 + 10 + i)
    assert [c[1][0] for c in calls()] == [0, 1, 2, 3, 4]


def test_claim_two_phase_matches_global_rank(spark, tmp_path):
    """The salted two-phase top-K (claim_plan phase 1+2) must claim exactly
    the global FIFO head of each queue — same set, same jobs — for any salt
    count, including salts > demand and salts = 1 (degenerate single-phase).
    Backlog 200 vs demand 7 exercises the containment argument: the global
    top-7 is inside the union of per-salt top-7s."""
    store = JobStore(spark, str(tmp_path / "jobs"))
    mgr0 = QueueManager(spark, store)
    # interleaved enqueue times so arrival order != jid order; bulk per
    # distinct time to keep the test fast (each bulk_enqueue is one append)
    by_time: dict[float, list] = {}
    for i in range(200):
        by_time.setdefault(T0 + (i * 37) % 200, []).append(("W", "perform", [i]))
    for t, jobs in by_time.items():
        mgr0.bulk_enqueue("hot", jobs, now=t)
    for i in range(3):
        mgr0.enqueue("cold", "W", [i], now=T0 + i)
    expected = {
        q: [
            r["jid"]
            for r in sorted(
                store.current(prefilter=None)
                .filter(f"queue = '{q}'")
                .select("jid", "enqueued_at")
                .collect(),
                key=lambda r: (r["enqueued_at"], r["jid"]),
            )[:d]
        ]
        for q, d in (("hot", 7), ("cold", 7))
    }
    for salts in (1, 3, 16):
        mgr = QueueManager(spark, store, claim_salts=salts)
        got = mgr.claim_plan({"hot": 7, "cold": 7}, T0 + 1000, 99).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r["queue"], []).append(r["jid"])
        assert {
            q: sorted(v) for q, v in by_q.items()
        } == {q: sorted(v) for q, v in expected.items()}, f"salts={salts}"


# -- telemetry (O1: instrumentation.ex:1-40 event points) -------------------


def test_telemetry_events_emitted(engine):
    engine.telemetry.keep_events = True
    engine.enqueue("default", "EchoWorker", [1])
    engine.run_once("default", now=T0)
    names = [e[0] for e in engine.telemetry.events]
    assert ("queue", "enqueue") in names
    assert ("queue", "dequeue") in names
    assert ("pipeline", "worker") in names
    enq = next(e for e in engine.telemetry.events if e[0] == ("queue", "enqueue"))
    assert enq[1]["count"] == 1 and enq[1]["payload_size"] > 0
    wrk = next(e for e in engine.telemetry.events if e[0] == ("pipeline", "worker"))
    assert wrk[1]["jobs"] == 1 and wrk[1]["duration_ms"] >= 0


def test_telemetry_handler_isolation(engine):
    seen = []

    def bad_handler(event, m, meta):
        raise RuntimeError("handler boom")

    engine.telemetry.attach(bad_handler)
    engine.telemetry.attach(lambda e, m, meta: seen.append(e))
    engine.enqueue("default", "EchoWorker", [1])  # must not raise
    assert ("queue", "enqueue") in seen


# -- mock mode (U4: queue/mock_api.ex) --------------------------------------


def test_mock_mode_records_instead_of_writing(engine):
    from flume_spark.queue.mock import mock

    with mock(engine) as recorder:
        engine.enqueue("default", "EchoWorker", ["mocked"])
        recorder.assert_enqueued("default", "EchoWorker", [["mocked"]][0])
    # nothing landed in the store while mocked
    assert engine.job_counts(["default"])["default"] == 0
    # real path restored
    engine.enqueue("default", "EchoWorker", ["real"])
    assert engine.job_counts(["default"])["default"] == 1


def test_mock_rejects_object_args(engine):
    from flume_spark.queue.mock import mock

    with mock(engine) as recorder:
        engine.enqueue("default", "EchoWorker", {"k": "v"})
        recorder.assert_enqueued("default", "EchoWorker", [])


# -- compaction (bounds per-trigger scan cost) ------------------------------


def test_auto_compaction_bounds_log_files(engine):
    engine.compact_max_files = 4
    now = T0
    for i in range(6):
        engine.enqueue("default", "EchoWorker", [i], now=now)
        engine.run_once("default", now=now)
        now += 1
    # Bounded, not exact: a trigger writes up to 3 files (enqueue, claim,
    # ack) and a file whose mtime lands a hair past the compact cutoff can
    # survive one extra round, so the steady-state bound is cap + one
    # trigger's worth — what matters is that growth STOPS there.
    assert engine.store.n_files() <= engine.compact_max_files + 3
    # state survived compaction: every job exactly once, all succeeded
    rows = engine.current().collect()
    assert len(rows) == 6
    assert all(r["status"] == "succeeded" for r in rows)


def test_claim_committed_under_lock_without_spark_write(engine, monkeypatch):
    """The trigger collects its claim plan under the per-queue claim_lock
    and commits it through append_rows before the lock is released; it
    issues no Spark write and does not read the claim back."""
    from contextlib import contextmanager

    from pyspark.sql.readwriter import DataFrameWriter

    engine.bulk_enqueue(
        "default", [("EchoWorker", "perform", [i]) for i in range(3)], now=T0
    )
    store = engine.store
    held: set[str] = set()
    events = []
    real_lock, real_append = store.claim_lock, store.append_rows
    real_plan = engine.claim_plan

    @contextmanager
    def claim_lock(queue):
        with real_lock(queue):
            held.add(queue)
            try:
                yield
            finally:
                held.discard(queue)

    def append_rows(rows):
        events.append(("append", {r["status"] for r in rows}, "default" in held))
        return real_append(rows)

    def claim_plan(*args, **kwargs):
        events.append(("plan", None, "default" in held))
        return real_plan(*args, **kwargs)

    def no_write(*args, **kwargs):
        raise AssertionError("the trigger issued a Spark write")

    def no_read_back(paths):
        raise AssertionError("the trigger read its claim back")

    monkeypatch.setattr(store, "claim_lock", claim_lock)
    monkeypatch.setattr(store, "append_rows", append_rows)
    monkeypatch.setattr(store, "read_rows", no_read_back)
    monkeypatch.setattr(engine, "claim_plan", claim_plan)
    monkeypatch.setattr(DataFrameWriter, "parquet", no_write)
    assert engine.run_once("default", now=T0 + 1)["succeeded"] == 3
    assert events == [
        ("plan", None, True),
        ("append", {"processing"}, True),
        ("append", {"succeeded"}, False),
    ]


def test_claim_durable_before_dispatch(spark, tmp_path):
    """The claim is committed before any worker runs: a worker, running on
    the executor, finds its own `processing` record in a committed log
    file."""
    store_path = str(tmp_path / "jobs_durable")
    journal = str(tmp_path / "durable.jsonl")
    registry = WorkerRegistry()

    @registry.register("Check")
    def check(token):
        import os

        import pyarrow.parquet as pq

        found = False
        for name in os.listdir(store_path):
            if name.endswith(".parquet") and not name.startswith("."):
                recs = pq.read_table(
                    os.path.join(store_path, name), columns=["args", "status"]
                ).to_pylist()
                found = found or any(
                    r["status"] == "processing" and json.loads(r["args"]) == [token]
                    for r in recs
                )
        with open(journal, "a") as f:
            f.write(json.dumps([token, found]) + "\n")

    mgr = QueueManager(
        spark,
        JobStore(spark, store_path),
        registry,
        pipelines=[Pipeline(name="p", queue="q")],
    )
    mgr.bulk_enqueue("q", [("Check", "perform", [f"t{i}"]) for i in range(3)], now=T0)
    assert mgr.run_once("p", now=T0 + 1)["succeeded"] == 3
    with open(journal) as f:
        seen = sorted(json.loads(line) for line in f)
    assert seen == [[f"t{i}", True] for i in range(3)]


def test_fetch_all(engine):
    engine.enqueue("default", "EchoWorker", [1], now=T0)
    engine.enqueue("default", "FailWorker", [], now=T0)
    engine.enqueue("other", "EchoWorker", [2], now=T0)
    engine.run_once("default", now=T0)
    rows = engine.fetch_all("default").collect()
    assert len(rows) == 2  # only this queue
    retry = engine.fetch_all("default", status="retry").collect()
    assert len(retry) == 1 and retry[0]["class"] == "FailWorker"


def test_unknown_worker_class_is_isolated_and_retried(engine):
    """A job naming an unregistered class fails that job only (KeyError in
    the dispatch isolation boundary) and enters the retry/backoff path."""
    engine.enqueue("default", "NoSuchWorker", [1], now=T0)
    engine.enqueue("default", "EchoWorker", [2], now=T0)
    stats = engine.run_once("default", now=T0)
    assert stats == {"claimed": 2, "succeeded": 1, "retried": 1, "dead": 0}
    bad = engine.fetch_all("default", status="retry").collect()[0]
    assert "KeyError" in bad["error_message"]


# -- property tests (hypothesis) --------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@given(count=st.integers(min_value=1, max_value=100))
@settings(max_examples=30, deadline=None)
def test_backoff_monotone_and_capped(count):
    from flume_spark.queue.backoff import DEFAULT_MAX_MS, backoff_ms

    b = backoff_ms(count)
    assert 0 < b <= DEFAULT_MAX_MS
    assert b >= backoff_ms(count - 1) or count == 1


@given(
    events=st.lists(
        st.tuples(
            st.floats(min_value=0, max_value=10, allow_nan=False),  # time offset
            st.integers(min_value=1, max_value=20),  # batch size
        ),
        max_size=30,
    ),
    max_count=st.integers(min_value=1, max_value=50),
    scale_ms=st.integers(min_value=100, max_value=5000),
)
@settings(max_examples=50, deadline=None)
def test_rate_limiter_never_exceeds_window(events, max_count, scale_ms):
    """INVARIANT (README.md:264-265 of the reference): at no instant do more
    than max_count admitted events fall inside any trailing window."""
    from flume_spark.queue.ratelimit import SlidingWindowLimiter

    lim = SlidingWindowLimiter()
    admitted: list[float] = []
    t = 1_000_000.0
    for offset, want in sorted(events):
        now = t + offset
        grant = min(want, lim.remaining("k", max_count, scale_ms, now))
        assert grant >= 0
        if grant:
            lim.record("k", grant, now)
            admitted.extend([now] * grant)
        in_window = sum(1 for a in admitted if a > now - scale_ms / 1000.0)
        assert in_window <= max_count


# -- args round-trip (SURVEY §7 hard part 4: arbitrary JSON survives) -------

json_values = st.recursive(
    st.none()
    | st.booleans()
    | st.integers(min_value=-(2**31), max_value=2**31)
    | st.floats(allow_nan=False, allow_infinity=False)
    | st.text(max_size=20),
    lambda children: st.lists(children, max_size=4),
    max_leaves=10,
)


@given(args=st.lists(json_values, max_size=4))
@settings(max_examples=50, deadline=None)
def test_args_encoding_contract(args):
    """The args column encoding (raw JSON text) is lossless for any
    JSON-encodable positional args (reference keeps original_json for the
    same guarantee, event.ex:57)."""
    import json as _json

    assert _json.loads(_json.dumps(args)) == args


def test_args_roundtrip_through_engine(engine):
    """Nasty args arrive at the worker EXACTLY as enqueued: nesting,
    unicode, floats, null, empty containers."""
    nasty = [
        [1, [2, [3, None]]],
        "unicodé ✓ \n\t",
        3.141592653589793,
        -0.0,
        [],
        True,
    ]
    engine.enqueue("default", "EchoWorker", nasty, now=T0)
    engine.run_once("default", now=T0)
    kinds = [payload for kind, payload in calls() if kind == "echo"]
    assert kinds == [nasty]


def test_run_many_mixed_dispatch_modes(engine):
    """One trigger over single-mode AND bulk-mode pipelines: each queue's
    jobs dispatch in its pipeline's mode, one pass per mode."""
    engine.bulk_enqueue("default", [("EchoWorker", "perform", [[i]]) for i in range(3)], now=T0)
    engine.bulk_enqueue("batch", [("BulkWorker", "perform", [i]) for i in range(4)], now=T0)
    stats = engine.run_many(["default", "batch"], now=T0)
    assert stats["claimed"] == 7 and stats["succeeded"] == 7
    got = calls()
    echoes = [p for k, p in got if k == "echo"]
    bulks = [p for k, p in got if k == "bulk"]
    assert len(echoes) == 3
    # batch_size=2 over 4 jobs -> two bulk calls, [[args...]] nesting
    assert len(bulks) == 2
    assert sorted(len(b) for b in bulks) == [2, 2]


def test_compaction_archives_succeeded(engine):
    """archive_succeeded: the live log keeps only in-flight/dead/pending
    state (reference: ack REMOVES the job, manager.ex:184-193); succeeded
    history stays queryable in the archive."""
    engine.compact_max_files = 1
    engine.archive_succeeded = True
    engine.enqueue("default", "EchoWorker", [1], now=T0)
    engine.enqueue("default", "FailWorker", [], now=T0)
    engine.run_once("default", now=T0)  # 1 success, 1 retry; then compacts
    live = {r["class"]: r["status"] for r in engine.current().collect()}
    assert live == {"FailWorker": "retry"}
    archived = engine.store.archive().collect()
    assert len(archived) == 1 and archived[0]["status"] == "succeeded"


def test_enqueue_from_dataframe(engine, spark):
    """Distributed enqueue: jobs derived from a query result on executors,
    then claimable/processable like any other."""
    src = spark.range(0, 50).selectExpr("id", "array(cast(id AS string)) AS payload")
    n = engine.enqueue_from(src, "default", "EchoWorker", "payload", now=T0)
    assert n == 50
    assert engine.job_counts(["default"]) == {"default": 50}
    stats = engine.run_once("default", now=T0 + 1)
    assert stats["succeeded"] == 50
    echoed = sorted(p[0] for k, p in calls() if k == "echo")
    assert echoed == sorted(str(i) for i in range(50))


def test_time_travel_as_of(engine):
    """Snapshot-as-of-seq: the job's state history is queryable."""
    engine.enqueue("default", "EchoWorker", [1], now=T0)
    seq_after_enqueue = engine.store.next_seq()
    engine.run_once("default", now=T0)
    # now: succeeded; as-of the enqueue: still pending
    assert engine.current().collect()[0]["status"] == "succeeded"
    past = engine.store.as_of(seq_after_enqueue).collect()
    assert len(past) == 1 and past[0]["status"] == "pending"


# -- ADVICE round-1 regressions ---------------------------------------------


def test_call_with_timeout_bounds_wall_clock():
    """A hung worker must not block dispatch past the timeout (the old pool
    context manager waited for the worker in shutdown(wait=True))."""
    import time as _time

    from flume_spark.queue.workers import _call_with_timeout

    t0 = _time.perf_counter()
    with pytest.raises(TimeoutError):
        _call_with_timeout(lambda: _time.sleep(30), [], timeout_s=0.5)
    assert _time.perf_counter() - t0 < 5

    # fast calls still return their value and propagate errors
    assert _call_with_timeout(lambda x: x + 1, [41], timeout_s=5) == 42
    with pytest.raises(ValueError):
        _call_with_timeout(lambda: (_ for _ in ()).throw(ValueError("x")), [], 5)


def test_dispatch_timeout_marks_job_failed(spark, tmp_path):
    """End-to-end: a sleeping worker times out, the batch completes within
    bounded wall-clock, and the job enters the retry path."""
    import time as _time

    registry = WorkerRegistry()

    @registry.register("SlowWorker")
    def slow(*args):
        _time.sleep(300)

    store = JobStore(spark, str(tmp_path / "jobs_slow"))
    m = QueueManager(
        spark,
        store,
        registry,
        pipelines=[Pipeline(name="slow", queue="slow")],
        dispatch_timeout_s=1.0,
    )
    m.enqueue("slow", "SlowWorker", [], now=T0)
    t0 = _time.perf_counter()
    stats = m.run_once("slow", now=T0 + 1)
    # far below the 300 s sleep: the timeout, not the worker, bounds the batch
    assert _time.perf_counter() - t0 < 60
    assert stats["retried"] == 1
    row = m.fetch_all("slow", status="retry").collect()[0]
    assert "worker exceeded" in row["error_message"]


def test_rate_limit_shared_key_single_trigger(engine):
    """Pipelines sharing a rate_limit_key must split ONE window budget even
    within a single run_many trigger (admission previously read remaining()
    for both before recording either)."""
    p1 = Pipeline(
        name="l1", queue="q1", rate_limit_count=3, rate_limit_scale=1000,
        rate_limit_key="shared1t",
    )
    p2 = Pipeline(
        name="l2", queue="q2", rate_limit_count=3, rate_limit_scale=1000,
        rate_limit_key="shared1t",
    )
    engine.pipelines.update({"l1": p1, "l2": p2})
    engine.bulk_enqueue("q1", [("EchoWorker", "perform", [i]) for i in range(3)], now=T0)
    engine.bulk_enqueue("q2", [("EchoWorker", "perform", [i]) for i in range(3)], now=T0)
    stats = engine.run_many(["l1", "l2"], now=T0 + 1)
    assert stats["claimed"] <= 3  # joint budget, not 3 per pipeline
    # the remaining jobs drain in the next window
    stats2 = engine.run_many(["l1", "l2"], now=T0 + 2.1)
    assert stats["claimed"] + stats2["claimed"] == 6


def test_compact_preserves_concurrent_append(engine):
    """A file appended after compaction snapshots its input list must
    survive (the old implementation swapped the whole dir and deleted it)."""
    store = engine.store
    for i in range(4):
        engine.enqueue("default", "EchoWorker", [i], now=T0)
    engine.run_once("default", now=T0 + 1)

    orig_publish = store.publish
    raced_jid = []

    def publish_then_race(df, tag):
        paths = orig_publish(df, tag)
        if tag.startswith("compact-") and not raced_jid:
            # concurrent enqueue lands between publish and input deletion
            raced_jid.append(engine.enqueue("default", "EchoWorker", ["late"], now=T0 + 2))
        return paths

    store.publish = publish_then_race
    try:
        store.compact()
    finally:
        store.publish = orig_publish
    jids = {r["jid"] for r in engine.current().collect()}
    assert raced_jid[0] in jids, "concurrently-appended job lost by compact"
    assert len(jids) == 5


def test_subsecond_backoff_not_immediately_due(engine):
    """retry_at must not truncate `now` to whole seconds: with a 500 ms
    initial backoff the first retry would otherwise be due immediately."""
    engine.enqueue("default", "FailWorker", [], now=T0)
    engine.run_once("default", now=T0 + 0.9)  # fails -> retry in 750 ms
    # still inside the backoff window
    assert engine.run_once("default", now=T0 + 0.95)["claimed"] == 0
    # due after the backoff elapses
    assert engine.run_once("default", now=T0 + 1.7)["claimed"] == 1


def test_simhash_rejects_wide_bits(spark):
    from flume_spark.operators import dedup

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(AssertionError):
        dedup.simhash_fingerprint(df, "doc_id", "text", bits=64)


# -- persistent pause (ST6, temporary: false) --------------------------------


def test_pause_persistent_survives_restart(engine, spark, tmp_path):
    """pause(temporary=False) persists a control flag on the store: a NEW
    manager over the same store (≙ app restart / another instance) stays
    paused until a durable resume (pipeline/event.ex:41-55,69-70)."""
    engine.enqueue("default", "EchoWorker", [1], now=T0)
    engine.pause("default", temporary=False)
    assert engine.run_once("default", now=T0 + 1)["claimed"] == 0

    # "restart": fresh manager + pipeline objects, same store path
    m2 = QueueManager(
        spark,
        JobStore(spark, engine.store.path),
        engine.registry,
        pipelines=[Pipeline(name="default", queue="default")],
    )
    assert m2.run_once("default", now=T0 + 2)["claimed"] == 0
    # a temporary resume on the restarted node does not clear the flag …
    m2.resume("default", temporary=True)
    assert not m2.pipelines["default"].paused
    assert m2.is_paused(m2.pipelines["default"])  # durable flag still wins
    # … a durable resume does
    m2.resume("default", temporary=False)
    assert m2.run_once("default", now=T0 + 3)["claimed"] == 1


def test_pause_temporary_is_node_local(engine, spark):
    """Default pause stays in-memory: a second manager on the same store is
    unaffected (reference temporary: true semantics)."""
    engine.enqueue("default", "EchoWorker", [1], now=T0)
    engine.pause("default")  # temporary
    m2 = QueueManager(
        spark,
        JobStore(spark, engine.store.path),
        engine.registry,
        pipelines=[Pipeline(name="default", queue="default")],
    )
    assert m2.run_once("default", now=T0 + 1)["claimed"] == 1


# -- multi-instance shared rate-limit ledger ---------------------------------


def test_shared_ledger_across_manager_instances(spark, tmp_path):
    """Two QueueManager instances sharing one SharedLedgerLimiter admit at
    most `count` per window JOINTLY (manager_test.exs:54-78 'across app
    instances')."""
    from flume_spark.queue.ratelimit import SharedLedgerLimiter

    registry = WorkerRegistry()

    @registry.register("EchoWorker")
    def echo(*args):
        pass

    pipes = [
        Pipeline(
            name="lim", queue="lim", rate_limit_count=3, rate_limit_scale=1000
        )
    ]
    store_path = str(tmp_path / "jobs_shared")
    ledger_path = str(tmp_path / "ledger")
    m1 = QueueManager(
        spark, JobStore(spark, store_path), registry, pipelines=pipes,
        limiter=SharedLedgerLimiter(ledger_path),
    )
    m2 = QueueManager(
        spark, JobStore(spark, store_path), registry, pipelines=pipes,
        limiter=SharedLedgerLimiter(ledger_path),
    )
    m1.bulk_enqueue("lim", [("EchoWorker", "perform", [i]) for i in range(8)], now=T0)
    s1 = m1.run_once("lim", now=T0 + 1)
    s2 = m2.run_once("lim", now=T0 + 1.2)  # same window, other instance
    assert s1["claimed"] == 3
    assert s2["claimed"] == 0  # joint budget already spent by m1
    s3 = m2.run_once("lim", now=T0 + 2.2)  # next window
    assert s3["claimed"] == 3
    s4 = m1.run_once("lim", now=T0 + 3.3)
    assert s4["claimed"] == 2  # drained


def test_shared_ledger_prunes_expired_entries(tmp_path):
    from flume_spark.queue.ratelimit import SharedLedgerLimiter

    lim = SharedLedgerLimiter(str(tmp_path / "ledger2"))
    lim.record("k", 5, now=T0)
    assert lim.in_window("k", 1000, now=T0 + 0.5) == 5
    assert lim.remaining("k", 8, 1000, now=T0 + 0.5) == 3
    # window slides past the entries -> pruned from disk
    assert lim.remaining("k", 8, 1000, now=T0 + 2) == 8
    assert lim.in_window("k", 1000, now=T0 + 2) == 0


# -- jid idempotence (SURVEY hard part 2) ------------------------------------


def test_idempotent_redelivery_skips_worker(spark, tmp_path):
    """With idempotence on, a visibility-timeout redelivery of a job whose
    dispatch completed (crash between dispatch and ack) does NOT re-invoke
    the worker; the job is acked succeeded from the marker."""
    journal = str(tmp_path / "idem.jsonl")
    registry = WorkerRegistry()

    @registry.register("SideEffectWorker")
    def side_effect(*args):
        with open(journal, "a") as f:
            f.write("invoked\n")

    store = JobStore(spark, str(tmp_path / "jobs_idem"))
    m = QueueManager(
        spark,
        store,
        registry,
        pipelines=[Pipeline(name="p", queue="p")],
        idempotence=True,
    )
    jid = m.enqueue("p", "SideEffectWorker", [], now=T0)

    # simulate the crash: job claimed (processing row, no ack) and the
    # dispatch-completed marker written — exactly the state run_many leaves
    # if the driver dies after dispatch but before append_rows(ack)
    from pyspark.sql import functions as F
    from flume_spark.queue.manager import _ts

    claimed = m.due_jobs("p", T0 + 1).limit(1)
    store.append(
        claimed.withColumn("status", F.lit("processing"))
        .withColumn("leased_at", F.lit(_ts(T0 + 1)))
        .withColumn("seq", F.lit(store.next_seq()))
    )
    store.set_flag(f"processed/{jid}")

    stats = m.run_once("p", now=T0 + 700)  # past the 600 s visibility timeout
    assert stats == {"claimed": 1, "succeeded": 1, "retried": 0, "dead": 0}
    import os

    assert not os.path.exists(journal), "worker side effects ran twice"
    assert not store.has_flag(f"processed/{jid}")  # cleared after durable ack
    # and a fresh job still dispatches normally
    m.enqueue("p", "SideEffectWorker", [], now=T0 + 701)
    assert m.run_once("p", now=T0 + 702)["succeeded"] == 1
    assert os.path.exists(journal)


# -- real-codec multimodal decode --------------------------------------------


def _tiny_png(w=3, h=2):
    """A minimal valid PNG built from the published spec with stdlib only."""
    import struct as st
    import zlib

    def chunk(typ, data):
        c = st.pack(">I", len(data)) + typ + data
        return c + st.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)

    ihdr = st.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = b"".join(b"\x00" + b"\x10\x20\x30" * w for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_probe_media_real_formats():
    from flume_spark.operators.multimodal import probe_media

    assert probe_media(_tiny_png(3, 2)) == ("image/png", 3, 2)
    gif = b"GIF89a" + bytes([7, 0, 5, 0]) + b"\x00" * 10
    assert probe_media(gif) == ("image/gif", 7, 5)
    # JPEG: SOI + APP0 stub + SOF0 (h=4, w=6)
    jpeg = (
        b"\xff\xd8"
        # APP0: declared length 16 = 2 (length field) + 14 data bytes
        + b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
        + b"\xff\xc0" + (11).to_bytes(2, "big") + b"\x08"
        + (4).to_bytes(2, "big") + (6).to_bytes(2, "big") + b"\x01" + b"\x00" * 3
    )
    assert probe_media(jpeg) == ("image/jpeg", 6, 4)
    assert probe_media(b"just some text") is None
    assert probe_media(b"") is None


def test_decode_media_meta_real_codec_path(spark):
    """A real PNG flows through the same mapInPandas contract as the stub
    payloads and comes back with its true dimensions + detected type."""
    from flume_spark.operators import multimodal

    png = _tiny_png(5, 4)
    df = spark.createDataFrame(
        [(1, bytearray(png), len(png), "application/octet-stream"),
         (2, bytearray(b"plain text"), 10, "application/octet-stream")],
        "id long, payload binary, n_bytes int, media_type string",
    )
    rows = {r["id"]: r for r in multimodal.decode_media_meta(df).collect()}
    assert rows[1]["media_type"] == "image/png"
    assert (rows[1]["width"], rows[1]["height"]) == (5, 4)
    # unrecognized payloads keep the caller's type + stub dims
    assert rows[2]["media_type"] == "application/octet-stream"
    assert rows[2]["width"] == 10 % 1920 + 1


@pytest.mark.skipif(
    not __import__("importlib.util", fromlist=["util"]).find_spec("PIL"),
    reason="PIL not installed",
)
def test_decode_media_meta_pil_path():
    from flume_spark.operators.multimodal import probe_media

    # PIL decodes the same tiny PNG through the full decoder
    assert probe_media(_tiny_png(9, 7)) == ("image/png", 9, 7)


# -- instrument opt-out + byte-exact raw payloads ----------------------------


def test_instrument_opt_out(engine):
    """Pipeline(instrument=False) suppresses its dequeue/worker telemetry
    (lib/flume/pipeline.ex:7-18); instrumented pipelines still emit."""
    engine.telemetry.keep_events = True
    quiet = Pipeline(name="quiet", queue="quietq", instrument=False)
    engine.pipelines["quiet"] = quiet
    engine.enqueue("quietq", "EchoWorker", [1], now=T0)
    engine.run_once("quiet", now=T0 + 1)
    names = [e[0] for e in engine.telemetry.events]
    assert ("queue", "dequeue") not in names
    assert ("pipeline", "worker") not in names
    # an instrumented pipeline in the same trigger still reports (its queue only)
    engine.enqueue("quietq", "EchoWorker", [2], now=T0 + 2)
    engine.enqueue("default", "EchoWorker", [3], now=T0 + 2)
    engine.run_many(["quiet", "default"], now=T0 + 3)
    deq = next(e for e in engine.telemetry.events if e[0] == ("queue", "dequeue"))
    assert deq[2]["queues"] == ["default"]
    assert deq[1]["count"] == 1
    # the worker event must not leak the opted-out pipeline's jobs/durations
    wrk = next(e for e in engine.telemetry.events if e[0] == ("pipeline", "worker"))
    assert wrk[2]["queues"] == ["default"]
    assert wrk[1]["jobs"] == 1


def test_raw_args_stored_byte_exact(engine):
    """A pre-serialized JSON-array string is stored verbatim (original_json
    parity, event.ex:57,86-100); objects/garbage get the rejection -> []."""
    raw = '[1,   2,\t"x" ]'
    jid = engine.enqueue("default", "EchoWorker", raw, now=T0)
    row = next(r for r in engine.current().collect() if r["jid"] == jid)
    assert row["args"] == raw  # byte-exact, not re-serialized
    engine.run_once("default", now=T0 + 1)
    assert ("echo", [1, 2, "x"]) in calls()  # worker still gets parsed args

    j2 = engine.enqueue("default", "EchoWorker", '{"a": 1}', now=T0 + 2)
    j3 = engine.enqueue("default", "EchoWorker", "not json", now=T0 + 2)
    rows = {r["jid"]: r for r in engine.current().collect()}
    assert rows[j2]["args"] == "[]"
    assert rows[j3]["args"] == "[]"


def test_probe_media_jpeg_with_fill_bytes():
    """JPEG spec permits 0xFF fill bytes before markers and standalone
    markers with no length field — the scanner must step over both and
    still find the real SOF0."""
    import struct as st

    from flume_spark.operators.multimodal import probe_media

    sof0 = b"\xff\xc0" + st.pack(">H", 17) + b"\x08" + st.pack(">HH", 7, 9) + b"\x03" + b"\x00" * 9
    jpeg = (
        b"\xff\xd8"                       # SOI
        + b"\xff\xe0" + st.pack(">H", 4) + b"\x00\x00"  # APP0, len 4
        + b"\xff\xff"                     # fill byte run before next marker
        + b"\xff\x01"                     # TEM standalone (no length)
        + sof0                            # SOF0: height 7, width 9
        + b"\xff\xd9"                     # EOI
    )
    assert probe_media(jpeg) == ("image/jpeg", 9, 7)


def test_compact_grace_spares_young_files(spark, tmp_path):
    """maybe_compact must not unlink files another instance may still be
    lazily reading: files younger than min_age_s survive; older files
    compact; state is unchanged either way."""
    import os
    import time as _time

    store = JobStore(spark, str(tmp_path / "jobs_grace"))
    registry = WorkerRegistry()
    registry.register("NoopWorker", lambda *a: None)
    manager = QueueManager(
        spark, store, registry,
        pipelines=[Pipeline(name="g", queue="gq")],
    )
    for i in range(4):
        manager.enqueue("gq", "NoopWorker", [i], now=T0 + i)
    files = sorted(
        f for f in os.listdir(store.path) if f.endswith(".parquet")
    )
    assert len(files) == 4
    # age the first two files past the grace horizon
    for f in files[:2]:
        p = os.path.join(store.path, f)
        os.utime(p, (_time.time() - 120, _time.time() - 120))
    assert store.maybe_compact(max_files=1, min_age_s=60)
    remaining = sorted(
        f for f in os.listdir(store.path) if f.endswith(".parquet")
    )
    # two young files survive + one compacted snapshot; old two gone
    assert files[2] in remaining and files[3] in remaining
    assert files[0] not in remaining and files[1] not in remaining
    assert manager.current().count() == 4  # state intact


# -- pause_all / resume_all / pending_jobs_count (flume.ex:63-83) ------------


def test_pause_all_and_resume_all(engine):
    engine.enqueue("default", "EchoWorker", [1], now=T0)
    engine.enqueue("batch", "BulkWorker", [2], now=T0)
    engine.pause_all()
    assert all(p.paused for p in engine.pipelines.values())
    stats = engine.run_many(["default", "batch"], now=T0 + 1)
    assert stats["claimed"] == 0
    engine.resume_all()
    assert not any(p.paused for p in engine.pipelines.values())
    stats = engine.run_many(["default", "batch"], now=T0 + 2)
    assert stats["claimed"] == 2


def test_pause_all_persistent_sets_flags(engine):
    engine.pause_all(temporary=False)
    for name in engine.pipelines:
        assert engine.store.has_flag(f"paused/{name}")
    engine.resume_all(temporary=False)
    for name in engine.pipelines:
        assert not engine.store.has_flag(f"paused/{name}")


def test_pending_jobs_count(spark, tmp_path):
    """flume.ex:80-83: in-flight (worker-held) jobs across pipelines.  Here:
    'processing' rows with a live lease; expired leases are redelivery-due
    (the reference's worker process is gone) and count 0; unknown pipeline
    names count 0 like the job_counts example."""
    from pyspark.sql import functions as F

    from flume_spark.queue.manager import _ts

    registry = WorkerRegistry()
    registry.register("EchoWorker", lambda *a: None)
    store = JobStore(spark, str(tmp_path / "jobs_pend"))
    m = QueueManager(
        spark,
        store,
        registry,
        pipelines=[
            Pipeline(name="p1", queue="q1"),
            Pipeline(name="p2", queue="q2"),
        ],
    )
    m.bulk_enqueue("q1", [("EchoWorker", "perform", [i]) for i in range(3)], now=T0)
    m.enqueue("q2", "EchoWorker", [], now=T0)
    assert m.pending_jobs_count(now=T0 + 1) == 0  # nothing claimed yet

    # claim two q1 jobs + the q2 job into processing with a live lease
    claimed = m.due_jobs("q1", T0 + 1).limit(2).unionByName(
        m.due_jobs("q2", T0 + 1).limit(1)
    )
    store.append(
        claimed.withColumn("status", F.lit("processing"))
        .withColumn("leased_at", F.lit(_ts(T0 + 1)))
        .withColumn("seq", F.lit(store.next_seq()))
    )
    assert m.pending_jobs_count(now=T0 + 2) == 3
    assert m.pending_jobs_count(["p1"], now=T0 + 2) == 2
    assert m.pending_jobs_count(["p2"], now=T0 + 2) == 1
    assert m.pending_jobs_count(["p1", "not-a-pipeline"], now=T0 + 2) == 2
    assert m.pending_jobs_count(["not-a-pipeline"], now=T0 + 2) == 0
    # lease expiry: the worker is gone, so the job is no longer in flight
    assert m.pending_jobs_count(now=T0 + 700) == 0


# -- shared seq counter (round-2 ADVICE: cross-instance write ordering) ------


def test_seq_shared_across_store_instances(spark, tmp_path):
    """seq must order by WRITE time across instances sharing a store, not by
    instance start time: interleaved allocations from two stores (created at
    different times) are strictly increasing in allocation order."""
    path = str(tmp_path / "jobs_seq")
    s1 = JobStore(spark, path)
    import time as _time

    _time.sleep(0.01)
    s2 = JobStore(spark, path)  # started later
    a = s1.next_seq()
    b = s2.next_seq()
    c = s1.next_seq(5)  # the EARLIER-started instance allocates after s2
    d = s2.next_seq()
    assert a < b < c < d
    assert d >= c + 5  # block allocation reserved the whole range


# -- executor-side idempotence markers (round-2 ADVICE) ----------------------


def test_dispatch_writes_marker_at_completion_time(spark, tmp_path):
    """Markers are written from the executor when the worker completes —
    BEFORE the result row reaches the driver — so a crash mid-collect still
    leaves them.  Failed jobs must not write markers."""
    import os

    from flume_spark.queue.workers import dispatch_single

    registry = WorkerRegistry()
    registry.register("OkWorker", lambda *a: None)

    def boom(*a):
        raise ValueError("no")

    registry.register("BadWorker", boom)
    claimed = spark.createDataFrame(
        [
            ("j-ok", "OkWorker", "perform", "[]", None),
            ("j-bad", "BadWorker", "perform", "[]", None),
        ],
        "jid string, class string, function string, args string, "
        "context map<string,string>",
    )
    mdir = str(tmp_path / "markers")
    rows = {r["jid"]: r for r in dispatch_single(
        claimed, registry, None, marker_dir=mdir
    ).collect()}
    assert rows["j-ok"]["ok"] and not rows["j-bad"]["ok"]
    assert os.path.exists(os.path.join(mdir, "j-ok"))
    assert not os.path.exists(os.path.join(mdir, "j-bad"))


def test_marker_gc_on_compact(spark, tmp_path):
    """A marker orphaned by a crash between ack and clear_flag is removed at
    the next compaction; a marker whose job is still un-acked survives."""
    registry = WorkerRegistry()
    registry.register("EchoWorker", lambda *a: None)
    store = JobStore(spark, str(tmp_path / "jobs_gc"))
    m = QueueManager(
        spark, store, registry,
        pipelines=[Pipeline(name="p", queue="p")],
        idempotence=True,
    )
    done = m.enqueue("p", "EchoWorker", [], now=T0)
    m.run_once("p", now=T0 + 1)  # acked succeeded; its marker already cleared
    live = m.enqueue("p", "EchoWorker", [], now=T0 + 2)
    # simulate the crash window: ack landed for `done` but clear_flag didn't
    store.set_flag(f"processed/{done}")
    # and a completed-but-unacked job (dispatch done, driver died pre-ack)
    store.set_flag(f"processed/{live}")
    store.compact()
    assert not store.has_flag(f"processed/{done}"), "succeeded marker not GC'd"
    assert store.has_flag(f"processed/{live}"), "active marker must survive GC"


# -- class.function dispatch (worker.ex:81-87) -------------------------------


def test_function_dispatch_routes_to_named_function(spark, tmp_path):
    """apply(class, function, args) parity: a job's `function` selects the
    registered "Cls.func" callable; an unregistered function FAILS the job
    (never silently runs the wrong routine); default stays "perform"."""
    journal = str(tmp_path / "fn.jsonl")
    registry = WorkerRegistry()

    def perform(*a):
        with open(journal, "a") as f:
            f.write("perform\n")

    def cleanup(*a):
        with open(journal, "a") as f:
            f.write("cleanup\n")

    registry.register("Reports", perform)
    registry.register("Reports.cleanup", cleanup)
    store = JobStore(spark, str(tmp_path / "jobs_fn"))
    m = QueueManager(spark, store, registry, pipelines=[Pipeline(name="p", queue="p")])
    m.enqueue("p", "Reports", [], now=T0)
    m.enqueue("p", "Reports", [], function="cleanup", now=T0)
    m.enqueue("p", "Reports", [], function="nope", now=T0)
    stats = m.run_once("p", now=T0 + 1)
    assert stats["claimed"] == 3
    assert stats["succeeded"] == 2 and stats["retried"] == 1
    with open(journal) as f:
        lines = sorted(line.strip() for line in f)
    assert lines == ["cleanup", "perform"]
    failed = m.current().filter("status = 'retry'").collect()[0]
    assert "no worker registered for Reports.nope" in failed["error_message"]


def test_run_many_rejects_same_queue_pipelines(spark, tmp_path):
    registry = WorkerRegistry()
    registry.register("W", lambda *a: None)
    store = JobStore(spark, str(tmp_path / "jobs_dupq"))
    m = QueueManager(
        spark,
        store,
        registry,
        pipelines=[
            Pipeline(name="p1", queue="shared"),
            Pipeline(name="p2", queue="shared", batch_size=2),
        ],
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="both consume queue"):
        m.run_many(["p1", "p2"], now=T0)


# -- per-queue claim lock (S6, multi-instance) -------------------------------
# Reference: redis/lock.ex:8-41 holds a per-queue dequeue lock so two app
# instances never double-claim; mirrored by test/flume/redis/lock_test.exs.


def test_claim_lock_mutual_exclusion(spark, tmp_path):
    """store.claim_lock blocks a second acquirer (thread or instance) until
    the first releases — the lock_test.exs:9-44 contract."""
    import threading
    import time as _time

    store = JobStore(spark, str(tmp_path / "jobs_lock"))
    order = []

    def holder():
        with store.claim_lock("q"):
            order.append("acquired-1")
            _time.sleep(0.4)
            order.append("releasing-1")

    t = threading.Thread(target=holder)
    t.start()
    _time.sleep(0.1)  # let the holder acquire first
    with store.claim_lock("q"):
        order.append("acquired-2")
    t.join()
    assert order == ["acquired-1", "releasing-1", "acquired-2"]


@pytest.mark.parametrize("backend_cls", ["JobStore", "OptimisticLogStore"])
def test_unlimited_queue_never_double_claimed_across_instances(
    spark, tmp_path, backend_cls
):
    """Two managers sharing one store, claiming one UNLIMITED queue
    concurrently: every jid is claimed exactly once (the round-3 gap — the
    ledger lock only covered rate-limited keys).  Parametrized over BOTH
    backends: the flock claim lock and the optimistic lease-commit lock
    must each give cross-instance mutual exclusion."""
    import threading

    from flume_spark.queue import OptimisticLogStore

    make = {"JobStore": JobStore, "OptimisticLogStore": OptimisticLogStore}[
        backend_cls
    ]
    registry = WorkerRegistry()
    registry.register("NoopWorker", lambda *a: None)
    store_path = str(tmp_path / "jobs_nolock")
    pipes = [Pipeline(name="u", queue="u", max_demand=30)]
    m1 = QueueManager(
        spark, make(spark, store_path), registry, pipelines=pipes
    )
    m2 = QueueManager(
        spark, make(spark, store_path), registry, pipelines=pipes
    )
    n = 40  # demand 30 < n: with exclusion, the claims partition 30/10
    m1.bulk_enqueue("u", [("NoopWorker", "perform", [i]) for i in range(n)], now=T0)

    results = {}

    def trigger(name, mgr):
        results[name] = mgr.run_once("u", now=T0 + 1)

    t1 = threading.Thread(target=trigger, args=("m1", m1))
    t2 = threading.Thread(target=trigger, args=("m2", m2))
    t1.start(); t2.start(); t1.join(); t2.join()

    assert results["m1"]["claimed"] + results["m2"]["claimed"] == n
    # log history: exactly ONE processing record per jid ever written
    from pyspark.sql import functions as F

    per_jid = (
        m1.store.log()
        .filter(F.col("status") == "processing")
        .groupBy("jid")
        .count()
        .collect()
    )
    assert len(per_jid) == n
    assert max(r["count"] for r in per_jid) == 1


# -- pluggable logger behaviour (logger.ex:1-59, default_logger.ex) ----------


def test_recording_logger_sees_worker_failure_lines(spark, tmp_path):
    """Swapping in a custom FlumeLogger routes the engine's log points
    through it — mirroring default_logger.ex semantics: a worker failure
    logs error with job metadata; max-retries exhaustion logs info."""
    from flume_spark.queue.logger import RecordingLogger

    registry = WorkerRegistry()
    registry.register("FailWorker", lambda *a: (_ for _ in ()).throw(ValueError("boom")))
    rec = RecordingLogger()
    store = JobStore(spark, str(tmp_path / "jobs_logger"))
    m = QueueManager(
        spark, store, registry,
        pipelines=[Pipeline(name="p", queue="p")],
        max_retries=1, logger=rec,
    )
    jid = m.enqueue("p", "FailWorker", [1], now=T0)
    m.run_once("p", now=T0 + 1)  # -> retry (error line)
    errors = [line for line in rec.lines if line[0] == "error"]
    assert errors and "[Consumer] failed with error" in errors[0][1]
    assert errors[0][2]["jid"] == jid and errors[0][2]["queue"] == "p"
    # drain retries until the job goes dead -> info max-retries line
    now = T0 + 1
    for _ in range(3):
        now += m.backoff_s(2) + 60
        m.run_once("p", now=now)
    infos = [line for line in rec.lines if line[0] == "info"]
    assert any(f"Max retries on job {jid} exceeded" == line[1] for line in infos)


def test_default_logger_formats_and_gates_debug(caplog):
    """default_logger.ex contract: '<msg> - <opts>' when opts non-empty,
    debug suppressed unless debug_log."""
    import logging

    from flume_spark.queue.logger import DefaultLogger

    quiet = DefaultLogger(debug_log=False)
    loud = DefaultLogger(debug_log=True)
    with caplog.at_level(logging.DEBUG, logger="flume_spark"):
        quiet.debug("hidden", {})
        loud.debug("shown", {})
        loud.error("bad", {"jid": "x"})
    messages = [r.getMessage() for r in caplog.records]
    assert "hidden" not in messages
    assert "shown" in messages
    assert "bad - {'jid': 'x'}" in messages


def test_from_config_accepts_logger(spark, tmp_path):
    from flume_spark import from_config
    from flume_spark.queue.logger import RecordingLogger

    rec = RecordingLogger()
    app = from_config(
        spark,
        {
            "store_path": str(tmp_path / "jobs_cfg_logger"),
            "logger": rec,
            "pipelines": [{"name": "p", "queue": "p"}],
        },
    )
    assert app.manager.logger is rec


# -- pipeline-side mock (pipeline/mock_api.ex:1-13) --------------------------


def test_mock_records_pause_resume(engine):
    """The Pipeline.MockAPI analog: inside mock(), pause/resume are
    recorded (pipeline_name, action, options) and touch no real state."""
    from flume_spark.queue.mock import mock

    with mock(engine) as recorder:
        engine.pause("default", temporary=False)
        engine.resume("default")
        recorder.assert_control("default", "pause")
        recorder.assert_control("default", "resume")
        assert recorder.control[0].options == {"temporary": False}
    # no real pause state or durable flag was touched
    assert not engine.pipelines["default"].paused
    assert not engine.store.has_flag("paused/default")
    # real control path restored after the block
    engine.pause("default")
    assert engine.pipelines["default"].paused
    engine.resume("default")


def test_mock_enqueue_in_records_schedule(engine):
    """The enqueue_in 'mock works' block (test/flume_test.exs:176-190):
    the schedule offset is captured and assertable."""
    from flume_spark.queue.mock import mock

    with mock(engine) as recorder:
        engine.enqueue_in("default", 10, "EchoWorker", [1])
        recorder.assert_enqueued("default", "EchoWorker", [1], delay_s=10)


def test_multi_instance_end_to_end_exactly_one_dispatch(spark, tmp_path):
    """Capstone multi-instance run: two managers share one store, one
    rate-limited queue (shared ledger) and one unlimited queue, workers
    journal every invocation, idempotence on.  Interleaved concurrent
    triggers must yield EXACTLY one worker invocation and one success per
    job — claim locks prevent double-claims, the ledger holds the joint
    rate cap, and nothing is lost."""
    import json as _json
    import threading

    from flume_spark.queue.ratelimit import SharedLedgerLimiter

    journal = str(tmp_path / "mi_journal.jsonl")
    registry = WorkerRegistry()

    def work(i):
        with open(journal, "a") as f:
            f.write(_json.dumps({"arg": i}) + "\n")

    registry.register("JournalWorker", work)
    pipes = [
        Pipeline(name="u", queue="u", max_demand=50),
        Pipeline(name="lim", queue="lim", max_demand=50,
                 rate_limit_count=40, rate_limit_scale=600_000),
    ]
    store_path = str(tmp_path / "mi_jobs")
    ledger = str(tmp_path / "mi_ledger")
    mk = lambda: QueueManager(
        spark, JobStore(spark, store_path), registry, pipelines=pipes,
        limiter=SharedLedgerLimiter(ledger), idempotence=True,
        compact_grace_s=30.0,
    )
    m1, m2 = mk(), mk()
    n_u, n_lim = 60, 60
    m1.bulk_enqueue("u", [("JournalWorker", "perform", [i]) for i in range(n_u)], now=T0)
    m1.bulk_enqueue("lim", [("JournalWorker", "perform", [1000 + i]) for i in range(n_lim)], now=T0)

    totals = {"m1": 0, "m2": 0}

    def drain(name, mgr):
        for _ in range(6):
            totals[name] += mgr.run_many(["u", "lim"], now=T0 + 1)["succeeded"]

    t1 = threading.Thread(target=drain, args=("m1", m1))
    t2 = threading.Thread(target=drain, args=("m2", m2))
    t1.start(); t2.start(); t1.join(); t2.join()

    # the rate window admits only 40 of the 60 limited jobs inside T0+1
    assert totals["m1"] + totals["m2"] == n_u + 40
    # every dispatched job ran its worker EXACTLY once
    from collections import Counter

    with open(journal) as f:
        calls = Counter(_json.loads(line)["arg"] for line in f)
    assert len(calls) == n_u + 40
    assert max(calls.values()) == 1
    # job-table state agrees, across BOTH managers' views of the store
    assert m2.current().filter("status = 'succeeded'").count() == n_u + 40
    assert m1.current().filter("status = 'pending'").count() == n_lim - 40


def test_feature_extract_stub_falls_back_for_non_images(spark):
    """Without a codec (or for undecodable payloads) every item takes the
    deterministic byte stub — the value-hash-checked path the declared
    multimodal queries oracle."""
    from flume_spark.operators import multimodal

    df = spark.createDataFrame(
        [(1, bytearray(b"abc")), (2, bytearray(b""))],
        "id long, payload binary",
    )
    rows = {
        r["id"]: r["features"]
        for r in multimodal.feature_extract_stub(df).collect()
    }
    assert rows[1] == [3 / 256.0, ord("a") / 256.0, ord("c") / 256.0, 21 / 256.0]
    assert rows[2] == [0.0, 0.0, 0.0, 0.0]


def test_feature_extract_custom_encoder_seam(spark):
    """A production encoder plugs in as `encoder=` with schema, batch shape,
    and fallback semantics unchanged: items it declines take the stub."""
    from flume_spark.operators import multimodal

    def enc(payload: bytes):
        return [1.0, 2.0, 3.0, 4.0] if payload.startswith(b"IMG") else None

    df = spark.createDataFrame(
        [(1, bytearray(b"IMGxxxx")), (2, bytearray(b"abc"))],
        "id long, payload binary",
    )
    rows = {
        r["id"]: r["features"]
        for r in multimodal.feature_extract_stub(df, encoder=enc).collect()
    }
    assert rows[1] == [1.0, 2.0, 3.0, 4.0]
    assert rows[2][1] == ord("a") / 256.0


@pytest.mark.skipif(
    not __import__("importlib.util", fromlist=["util"]).find_spec("PIL"),
    reason="PIL not installed",
)
def test_feature_extract_pil_pixel_path(spark):
    """With PIL installed the default encoder computes REAL decoded-pixel
    features for image payloads while text payloads keep the stub."""
    from flume_spark.operators import multimodal

    png = _tiny_png(4, 4)
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(b"plain text"))],
        "id long, payload binary",
    )
    rows = {
        r["id"]: r["features"]
        for r in multimodal.feature_extract_stub(df).collect()
    }
    expect = multimodal.pixel_features(png)
    assert expect is not None and rows[1] == expect
    # all pixels are the same RGB(0x10,0x20,0x30) -> one grayscale level
    assert len(set(rows[1])) == 1 and 0.0 < rows[1][0] < 1.0
    assert rows[2][0] == 10 / 256.0  # text payload: stub path
