"""LogBackend contract tests — exercised purely through the interface
(flume_spark/queue/backend.py), parametrized over implementations so a
future Delta/Iceberg backend runs the identical suite.  The parquet log
(JobStore) is the bundled impl."""

from __future__ import annotations

from datetime import datetime

import pytest

from flume_spark.queue import JobStore, LogBackend, OptimisticLogStore

BACKENDS = {
    "parquet_log": lambda spark, path: JobStore(spark, path),
    "optimistic_commit": lambda spark, path: OptimisticLogStore(spark, path),
}


@pytest.fixture(params=sorted(BACKENDS))
def backend(request, spark, tmp_path):
    make = BACKENDS[request.param]
    b = make(spark, str(tmp_path / f"log_{request.param}"))
    assert isinstance(b, LogBackend)
    return b


def _row(jid: str, status: str, seq: int, **over) -> dict:
    base = {
        "jid": jid,
        "queue": "q",
        "class": "W",
        "function": "perform",
        "args": "[]",
        "context": None,
        "status": status,
        "retry_count": 0,
        "enqueued_at": datetime(2024, 1, 1),
        "scheduled_at": None,
        "leased_at": None,
        "retry_at": None,
        "finished_at": None,
        "failed_at": None,
        "error_message": None,
        "error_backtrace": None,
        "seq": seq,
    }
    base.update(over)
    return base


def test_empty_then_append(backend):
    assert backend.is_empty()
    backend.append_rows([_row("a", "pending", backend.next_seq())])
    assert not backend.is_empty()
    assert backend.current().count() == 1


def test_last_writer_wins_by_seq(backend):
    s1 = backend.next_seq()
    s2 = backend.next_seq()
    # append the LATER state first: ordering must come from seq, not arrival
    backend.append_rows([_row("a", "succeeded", s2)])
    backend.append_rows([_row("a", "pending", s1)])
    cur = backend.current().collect()
    assert len(cur) == 1 and cur[0]["status"] == "succeeded"


def test_next_seq_orders_across_instances(backend, spark):
    # a second instance over the same store allocates AFTER the first
    other = type(backend)(spark, backend.path)
    a = backend.next_seq()
    b = other.next_seq(3)
    c = backend.next_seq()
    assert a < b < c and c >= b + 3


def test_as_of_time_travel(backend):
    s1 = backend.next_seq()
    backend.append_rows([_row("a", "pending", s1)])
    s2 = backend.next_seq()
    backend.append_rows([_row("a", "processing", s2)])
    assert backend.as_of(s1).collect()[0]["status"] == "pending"
    assert backend.as_of(s2).collect()[0]["status"] == "processing"


def test_publish_never_exposes_empty_units(backend):
    cur = backend.current()
    published = backend.publish(cur.filter("1=0"), "empty-claim")
    assert published == []
    assert backend.is_empty()


def test_compact_preserves_state(backend):
    for i in range(6):
        backend.append_rows([_row(f"j{i}", "pending", backend.next_seq())])
    backend.append_rows([_row("j0", "succeeded", backend.next_seq())])
    before = {
        (r["jid"], r["status"]) for r in backend.current().collect()
    }
    backend.compact()
    after = {(r["jid"], r["status"]) for r in backend.current().collect()}
    assert after == before
    assert backend.maybe_compact(max_files=10_000) is False  # under threshold


def test_flags_roundtrip(backend):
    assert not backend.has_flag("paused/p")
    backend.set_flag("paused/p")
    assert backend.has_flag("paused/p")
    backend.clear_flag("paused/p")
    assert not backend.has_flag("paused/p")
    backend.clear_flag("paused/p")  # idempotent


def test_read_rows_and_count(backend):
    s = backend.next_seq()
    backend.append_rows([_row("a", "pending", s), _row("b", "pending", s)])
    published = backend.publish(backend.current(), "claim-test")
    assert backend.count_rows(published) == 2
    rows = backend.read_rows(published)
    assert {r["jid"] for r in rows} == {"a", "b"}


def test_append_rows_returns_committed_paths(backend):
    """append_rows returns the unit it committed — a trigger dispatches
    from exactly that file — and commits nothing for no rows."""
    import os

    assert backend.append_rows([]) == []
    assert backend.is_empty()
    s = backend.next_seq()
    paths = backend.append_rows([_row("a", "pending", s), _row("b", "pending", s)])
    assert len(paths) == 1 and os.path.exists(paths[0])
    assert backend.n_files() == 1
    assert backend.count_rows(paths) == 2
    assert {r["jid"] for r in backend.read_rows(paths)} == {"a", "b"}
    assert {r["jid"] for r in backend.current().collect()} == {"a", "b"}


def test_empty_claim_commits_nothing(backend, spark):
    """A trigger whose claim finds nothing due commits nothing: no log
    file, no change to the live file set, no staging residue."""
    import os

    from flume_spark.queue import QueueManager, WorkerRegistry
    from flume_spark.queue.manager import Pipeline

    mgr = QueueManager(
        spark, backend, WorkerRegistry(), pipelines=[Pipeline(name="p", queue="q")]
    )
    mgr.enqueue_in("q", 3600.0, "W", [])  # pending, not yet due
    before = sorted(os.listdir(backend.path))
    assert mgr.run_once("p")["claimed"] == 0
    assert sorted(os.listdir(backend.path)) == before
    assert backend.n_files() == 1
    assert not os.path.exists(backend.path.rstrip("/") + ".staging")


def test_processed_marker_contract(backend):
    """Executor-side marker writes must be visible via has_flag and
    removable via clear_flag (the idempotence contract every backend must
    honor — see LogBackend.processed_marker_dir)."""
    import os

    from flume_spark.queue.workers import _write_marker

    mdir = backend.processed_marker_dir()
    _write_marker(mdir, "jid-123")
    assert backend.has_flag("processed/jid-123")
    backend.clear_flag("processed/jid-123")
    assert not backend.has_flag("processed/jid-123")
    assert not os.listdir(mdir) or "jid-123" not in os.listdir(mdir)


def test_claim_lock_contract(backend):
    """claim_lock must be a working context manager giving per-queue
    mutual exclusion across threads (and, for shared-storage backends,
    across instances — gated end-to-end in test_queue.py); different
    queues must not block each other."""
    import threading
    import time

    order = []

    def holder():
        with backend.claim_lock("qA"):
            order.append("a1")
            time.sleep(0.3)
            order.append("a2")

    t = threading.Thread(target=holder)
    t.start()
    time.sleep(0.1)
    t0 = time.perf_counter()
    with backend.claim_lock("qB"):  # different queue: no contention
        assert time.perf_counter() - t0 < 0.15
    with backend.claim_lock("qA"):  # same queue: waits for the holder
        order.append("b")
    t.join()
    assert order == ["a1", "a2", "b"]


def test_commit_race_single_winner(spark, tmp_path):
    """The optimistic primitive itself: N instances racing to commit the
    same version produce exactly one winner per version, and every retry
    converges — interleaved next_seq across 4 instances yields strictly
    increasing, never-duplicated values (seq = commit version, so a torn
    race would surface as a duplicate)."""
    import threading

    from flume_spark.queue import OptimisticLogStore

    path = str(tmp_path / "race")
    stores = [OptimisticLogStore(spark, path) for _ in range(4)]
    got: list[int] = []
    lock = threading.Lock()

    def alloc(store):
        for _ in range(25):
            s = store.next_seq()
            with lock:
                got.append(s)

    threads = [threading.Thread(target=alloc, args=(s,)) for s in stores]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(got) == 100
    assert len(set(got)) == 100, "duplicate seq => a commit race had 2 winners"


def test_lock_lease_expiry_takeover(spark, tmp_path):
    """A crashed holder's lease must self-heal: a lock acquired and never
    renewed nor released (lock_renewal=False models the dead process) is
    taken over after lock_lease_s, and the dead holder's late release
    must NOT clear the new holder's lock (it warns instead)."""
    import warnings as _warnings

    from flume_spark.queue import OptimisticLogStore

    path = str(tmp_path / "lease")
    dead = OptimisticLogStore(spark, path, lock_lease_s=0.3, lock_renewal=False)
    live = OptimisticLogStore(spark, path, lock_lease_s=60.0)
    crash = dead.claim_lock("q")
    crash.__enter__()  # acquired, then "crash": no renewal, never exits
    t0 = __import__("time").perf_counter()
    with live.claim_lock("q"):  # blocks until the 0.3s lease expires
        waited = __import__("time").perf_counter() - t0
        assert waited >= 0.2, f"took over a live lease after {waited}s"
        # the dead holder's deferred release runs while `live` holds:
        # token mismatch => no-op on the lock, but a LOUD warning
        with _warnings.catch_warnings(record=True) as got:
            _warnings.simplefilter("always")
            crash.__exit__(None, None, None)
        assert any("mutual exclusion" in str(w.message) for w in got)
        _, state = live._latest()
        assert state["locks"]["q"]["owner"] == live.owner


def test_lock_lease_renewed_while_held(spark, tmp_path):
    """A LIVE holder with a short lease keeps the lock through a hold
    longer than lock_lease_s: the heartbeat renews, so a contender cannot
    take over mid-critical-section (the round-6 review finding)."""
    import threading
    import time as _time

    from flume_spark.queue import OptimisticLogStore

    path = str(tmp_path / "renew")
    holder = OptimisticLogStore(spark, path, lock_lease_s=0.3)
    contender = OptimisticLogStore(spark, path, lock_lease_s=0.3)
    order = []

    def hold():
        with holder.claim_lock("q"):
            order.append("h1")
            _time.sleep(1.0)  # 3+ lease periods: only renewal keeps it
            order.append("h2")

    t = threading.Thread(target=hold)
    t.start()
    _time.sleep(0.15)
    with contender.claim_lock("q"):
        order.append("c")
    t.join()
    assert order == ["h1", "h2", "c"], order


def test_engine_end_to_end_on_optimistic_backend(spark, tmp_path):
    """The full engine (enqueue -> claim -> dispatch -> ack -> retry -> DLQ)
    must run unchanged on the lock-free backend — the proof the seam is
    pluggable, not just that the storage methods pass in isolation."""
    import json as _json

    from flume_spark.queue import OptimisticLogStore, QueueManager, WorkerRegistry
    from flume_spark.queue.manager import Pipeline

    journal = str(tmp_path / "journal.jsonl")
    registry = WorkerRegistry()

    @registry.register("Echo")
    def echo(*args):
        with open(journal, "a") as f:
            f.write(_json.dumps(list(args)) + "\n")

    @registry.register("Boom")
    def boom(*args):
        raise ValueError("boom")

    store = OptimisticLogStore(spark, str(tmp_path / "jobs"))
    mgr = QueueManager(
        spark,
        store,
        registry,
        pipelines=[Pipeline(name="p", queue="q", max_demand=10)],
        max_retries=1,
    )
    t0 = 1_700_000_000.0
    for i in range(3):
        mgr.enqueue("q", "Echo", [i], now=t0 + i)
    jid_fail = mgr.enqueue("q", "Boom", [], now=t0 + 3)
    mgr.run_once("p", now=t0 + 10)
    with open(journal) as f:
        assert [_json.loads(l)[0] for l in f] == [0, 1, 2]
    cur = {r["jid"]: r["status"] for r in store.current().collect()}
    assert cur[jid_fail] == "retry"
    # retry due after backoff -> fails again -> max_retries=1 exhausted -> dead
    mgr.run_once("p", now=t0 + 100)
    cur = {r["jid"]: r["status"] for r in store.current().collect()}
    assert cur[jid_fail] == "dead"
    assert sum(1 for s in cur.values() if s == "succeeded") == 3


# -- time-travel reads (OptimisticLogStore only: needs versioned commits) ----


def _opt(spark, tmp_path, **kw):
    return OptimisticLogStore(spark, str(tmp_path / "tt_log"), **kw)


def test_version_time_travel_reads(spark, tmp_path):
    """Reading an old version stays stable while newer commits land —
    reader isolation, the core time-travel contract."""
    store = _opt(spark, tmp_path)
    assert store.version() == 0
    assert store.log(at_version=0).count() == 0

    store.append_rows([_row("a", "pending", store.next_seq())])
    v1 = store.version()
    store.append_rows([_row("a", "processing", store.next_seq())])
    store.append_rows([_row("b", "pending", store.next_seq())])
    v3 = store.version()

    # v1 read is unaffected by everything after it
    at1 = {r["jid"]: r["status"] for r in store.current(at_version=v1).collect()}
    assert at1 == {"a": "pending"}
    at3 = {r["jid"]: r["status"] for r in store.current(at_version=v3).collect()}
    assert at3 == {"a": "processing", "b": "pending"}
    # default read == newest version read
    assert store.current().count() == store.current(at_version=store.version()).count()


def test_version_errors_are_loud(spark, tmp_path):
    store = _opt(spark, tmp_path)
    store.append_rows([_row("a", "pending", store.next_seq())])
    with pytest.raises(ValueError, match="not committed yet"):
        store.log(at_version=store.version() + 5)
    # drive the version counter past keep-window + prune cadence (pruning
    # piggybacks on every 64th commit) so v1 is actually pruned
    # (next_seq commits are cheap: one JSON snapshot each, no parquet)
    from flume_spark.queue.optimistic import _COMMIT_KEEP

    for _ in range(_COMMIT_KEEP + 66):
        store.next_seq()
    with pytest.raises(ValueError, match="expired"):
        store.log(at_version=1)


def test_version_read_after_vacuum_is_loud(spark, tmp_path):
    """Compaction vacuums old data files; reading a pre-compaction version
    must fail loudly, never return a partial snapshot."""
    store = _opt(spark, tmp_path)
    for i in range(3):
        store.append_rows([_row(f"j{i}", "pending", store.next_seq())])
    v_pre = store.version()
    store.append_rows([_row("j0", "succeeded", store.next_seq())])
    store.compact()  # min_age_s=0: old data files removed post-commit
    with pytest.raises(ValueError, match="no longer readable"):
        store.log(at_version=v_pre)
    # the compacted head is intact
    cur = {r["jid"]: r["status"] for r in store.current().collect()}
    assert cur["j0"] == "succeeded" and len(cur) == 3


def test_log_diff_between_versions(spark, tmp_path):
    """log_diff == the data-table release diff applied to the queue's own
    log: added/changed/removed/unchanged per jid between two commits."""
    store = _opt(spark, tmp_path)
    store.append_rows(
        [
            _row("a", "pending", store.next_seq()),
            _row("b", "pending", store.next_seq()),
        ]
    )
    v_from = store.version()
    store.append_rows(
        [
            _row("a", "succeeded", store.next_seq()),
            _row("c", "pending", store.next_seq()),
        ]
    )
    diff = {r["jid"]: r["status"] for r in store.log_diff(v_from).collect()}
    assert diff == {"a": "changed", "b": "unchanged", "c": "added"}
    # the diff carries both sides' compared values for the changed key
    row = {r["jid"]: r for r in store.log_diff(v_from).collect()}["a"]
    assert row["old_status"] == "pending" and row["new_status"] == "succeeded"


def test_version_at_timestamp(spark, tmp_path):
    """TIMESTAMP AS OF: wall-clock stamps resolve to the newest version
    committed at or before the asked instant; pre-history resolves to 0
    on an unpruned store."""
    import time as _time

    store = _opt(spark, tmp_path)
    before_all = _time.time()
    _time.sleep(0.02)
    store.append_rows([_row("a", "pending", store.next_seq())])
    t1 = _time.time()
    _time.sleep(0.02)
    store.append_rows([_row("a", "processing", store.next_seq())])

    v_t1 = store.version_at_timestamp(t1)
    at = {r["jid"]: r["status"] for r in store.current(at_version=v_t1).collect()}
    assert at == {"a": "pending"}
    assert store.version_at_timestamp(_time.time()) == store.version()
    assert store.version_at_timestamp(before_all) == 0


def test_vacuum_reclaims_orphans_only(spark, tmp_path):
    """vacuum deletes crash-orphaned data files (present on disk,
    referenced by no retained commit, older than the grace) and NOTHING
    else: live files and young orphans survive, and every retained
    version stays readable afterwards (time travel unbroken)."""
    import os
    import time as _time

    store = _opt(spark, tmp_path)
    store.append_rows([_row("a", "pending", store.next_seq())])
    v1 = store.version()
    store.append_rows([_row("b", "pending", store.next_seq())])

    # simulate the crash residue: a fully-written parquet moved into the
    # data dir whose commit never happened
    live = [n for n in os.listdir(store.path) if n.endswith(".parquet")]
    orphan_old = os.path.join(store.path, "orphan-old.parquet")
    orphan_new = os.path.join(store.path, "orphan-new.parquet")
    src = os.path.join(store.path, live[0])
    for dst in (orphan_old, orphan_new):
        with open(src, "rb") as i, open(dst, "wb") as o:
            o.write(i.read())
    os.utime(orphan_old, (_time.time() - 7200, _time.time() - 7200))

    deleted = store.vacuum(min_age_s=3600)
    assert deleted == ["orphan-old.parquet"]
    assert not os.path.exists(orphan_old)
    assert os.path.exists(orphan_new)  # young orphan: in-flight grace
    # live data intact, current read unaffected, old version still readable
    assert {r["jid"] for r in store.current().collect()} == {"a", "b"}
    assert store.current(at_version=v1).count() == 1
    # idempotent: nothing left to reclaim at this grace
    assert store.vacuum(min_age_s=3600) == []
