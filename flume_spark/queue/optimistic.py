"""OptimisticLogStore — a lock-free LogBackend for object storage.

The parquet `JobStore` gets cross-instance atomicity from `fcntl.flock`
(faithful to the reference's Redis lock, redis/lock.ex:8-41, and correct on
a shared POSIX mount) — but flock does not exist on S3/GCS/ABFS.  This
backend proves the `LogBackend` seam with the OTHER concurrency model, the
one Delta Lake and Iceberg actually use on object stores: **optimistic
concurrency over an atomic create-if-absent commit primitive**.

The commit primitive here is `link(tmp, <version>.json)` — create a fully
written file at a name that must not already exist, atomically.  Its
object-store analog is a conditional PUT (S3 `If-None-Match: *`, GCS
`x-goog-if-generation-match: 0`), the exact primitive Delta 3.x uses for
S3 commits; on HDFS it is `create(path, overwrite=false)`.  Every piece of
shared mutable state rides on that one primitive:

- **Visibility = commit.**  Data files are written first (invisible), then
  a commit publishes the new live-file snapshot.  A reader lists ONE commit
  file and sees a consistent table — never a partial write, never a torn
  compaction.  Losing a commit race re-reads and retries (serializable,
  like Delta's `ConcurrentAppendException` retry loop).  Commits older
  than a keep-window are pruned (the Delta log-expiry analog), so the
  per-op listing stays O(window), not O(history).
- **next_seq = a counter row in the committed state.**  The Redis INCR
  analog: allocation is a conditional commit that bumps `state["seq"]`
  by n — linearized like every other commit, monotone across every
  instance, any batch size.
- **claim_lock = a lease row in the snapshot.**  Acquire commits
  `locks[queue] = {token, expires}` conditionally on the lock being free or
  expired; release commits its removal.  Mutual exclusion comes from the
  create-if-absent linearization, liveness from the lease expiry (a crashed
  holder's lock self-heals after `lock_lease_s`) — the DynamoDB-lock-client
  pattern, here with no extra service.
- **Control flags stay plain objects** (create/delete, no read-modify-write
  needed): a blind PUT/DELETE is already atomic on object stores, and
  idempotence markers MUST be writable from executors without a driver-side
  transaction (backend.py::processed_marker_dir).

Compaction keeps JobStore's snapshot-then-delete contract but gets a
stronger guarantee for free: the file-list swap is one atomic commit, so a
reader either sees the old files (still present until post-commit deletes,
spared by `min_age_s` grace for in-flight readers) or the compacted file —
never a mix.

Reference parity: everything the reference serializes through Redis
(INCR for ids, the bulk-dequeue lock, pause flags) maps onto the one
conditional-PUT primitive; behavior is gated by the same contract suite
(tests/test_backend.py) parametrized over both backends.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
import warnings
from contextlib import contextmanager

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flume_spark.queue.backend import LogBackend
from flume_spark.queue.schema import JOB_LOG_SCHEMA
from flume_spark.queue.store import (
    read_parquet_rows,
    rows_to_arrow_table,
    stage_and_move_parquet,
)

_COMMIT_KEEP = 256  # snapshot commits retained behind the newest (log expiry)


class OptimisticLogStore(LogBackend):
    """Commit-log job store: parquet data files + JSON snapshot commits,
    serialized only by atomic create-if-absent (no flock anywhere).

    Layout:
      <path>/                 data files (parquet; visible only if committed)
      <path>.commits/<v>.json full live-state snapshot at version v
      <path>.control/         flags + processed markers (blind PUT/DELETE)
      <path>.archive/         compacted-out succeeded records
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        lock_lease_s: float = 60.0,
        poll_interval_s: float = 0.01,
        lock_renewal: bool = True,
    ):
        self.spark = spark
        self.path = path
        self.lock_lease_s = lock_lease_s
        self.poll_interval_s = poll_interval_s
        # False disables the holder's lease-renewal heartbeat: a hold
        # longer than lock_lease_s then loses the lock to takeover (used
        # by tests to model a crashed holder; production keeps True)
        self.lock_renewal = lock_renewal
        self.owner = uuid.uuid4().hex
        os.makedirs(path, exist_ok=True)
        os.makedirs(self._commit_dir, exist_ok=True)

    # -- the commit primitive -------------------------------------------------

    @property
    def _commit_dir(self) -> str:
        return self.path.rstrip("/") + ".commits"

    def _latest(self) -> tuple[int, dict]:
        """Newest committed (version, state).  One listing + one read — the
        snapshot commit carries the FULL live state, so there is no log
        replay.  Retries if the newest listed commit vanishes between the
        listing and the read (only possible if `_COMMIT_KEEP` newer commits
        landed and pruned it in the gap — relisting converges)."""
        while True:
            versions = [
                int(n[:-5])
                for n in os.listdir(self._commit_dir)
                if n.endswith(".json")
            ]
            if not versions:
                return 0, {"files": [], "locks": {}, "seq": 1}
            v = max(versions)
            try:
                with open(
                    os.path.join(self._commit_dir, f"{v:020d}.json")
                ) as f:
                    return v, json.load(f)
            except FileNotFoundError:
                continue

    def _prune_commits(self, latest: int) -> None:
        """Delete commits older than latest - _COMMIT_KEEP — the Delta
        log-expiry analog the module docstring cites.  Every commit is a
        FULL snapshot, so old versions are only needed by readers already
        holding them; the keep-window (plus `_latest`'s relist-on-missing
        retry) covers the race.  Without this, a long-lived deployment's
        per-op `_latest` listing degrades toward O(total commits ever)
        and the directory never shrinks."""
        cutoff = latest - _COMMIT_KEEP
        for n in os.listdir(self._commit_dir):
            if not n.endswith(".json"):
                continue
            if int(n[:-5]) < cutoff:
                try:
                    os.unlink(os.path.join(self._commit_dir, n))
                except FileNotFoundError:
                    pass  # racing pruner

    def _try_commit(self, version: int, state: dict) -> bool:
        """Atomically create commit `version`; False if another writer won.
        Write-tmp-then-link makes the full content appear atomically at a
        must-not-exist name — the conditional-PUT analog."""
        final = os.path.join(self._commit_dir, f"{version:020d}.json")
        tmp = os.path.join(self._commit_dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            # wall-clock stamp for TIMESTAMP AS OF reads; informational
            # only — ordering authority is always the version number
            json.dump({**state, "committed_at": time.time()}, f)
        try:
            os.link(tmp, final)
            if version % 64 == 0:
                self._prune_commits(version)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def _commit(self, mutate) -> tuple[int, dict, bool]:
        """Optimistic read-mutate-commit loop.  `mutate(state) -> state|None`
        (None = precondition not met, e.g. lock held: no commit).  Returns
        (version, state, committed).  Conflicts re-read and re-mutate —
        never block, never corrupt (Delta's retry loop)."""
        while True:
            v, state = self._latest()
            new_state = mutate(json.loads(json.dumps(state)))
            if new_state is None:
                return v, state, False
            if self._try_commit(v + 1, new_state):
                return v + 1, new_state, True

    # -- write path -----------------------------------------------------------

    def next_seq(self, n: int = 1) -> int:
        """Allocate n consecutive values from a counter row CARRIED IN the
        committed state — the Redis INCR analog, linearized by the same
        conditional commit as everything else.  Any n, no headroom games
        (the first design derived seq from the commit version with a
        2^20-per-version window, whose overflow under concurrent oversized
        allocations could interleave ranges)."""
        if n < 1:
            raise ValueError(f"next_seq needs n >= 1, got {n}")
        out: dict[str, int] = {}

        def alloc(state):
            cur = int(state.get("seq", 1))
            out["first"] = cur
            return {**state, "seq": cur + n}

        self._commit(alloc)
        return out["first"]

    def _commit_files(self, names: list[str]) -> None:
        if names:
            self._commit(lambda s: {**s, "files": s["files"] + names})

    def append(self, df: DataFrame) -> None:
        self.publish(df, f"append-{uuid.uuid4().hex[:12]}")

    def append_rows(self, rows: list[dict]) -> list[str]:
        if not rows:
            return []
        table = rows_to_arrow_table(rows)
        name = f"part-{uuid.uuid4().hex}.parquet"
        path = os.path.join(self.path, name)
        pq.write_table(table, path)
        # data file first (invisible), then the commit makes it live
        self._commit_files([name])
        return [path]

    def publish(self, df: DataFrame, tag: str) -> list[str]:
        """Distributed write -> stage -> move data files in (still invisible:
        nothing reads the data dir directly) -> ONE commit publishes them.
        Zero-row part files are dropped before the commit, so an empty frame
        publishes nothing and bumps nothing."""
        run = uuid.uuid4().hex[:8]
        staging = f"{self.path.rstrip('/')}.staging/{tag}-{run}"
        names = stage_and_move_parquet(
            df, staging, self.path, lambda i: f"{tag}-{i}-{run}.parquet"
        )
        self._commit_files(names)
        return [os.path.join(self.path, n) for n in names]

    # -- read path ------------------------------------------------------------

    def _live_paths(self) -> list[str]:
        _, state = self._latest()
        return [os.path.join(self.path, n) for n in state["files"]]

    def version(self) -> int:
        """Newest committed version (0 = nothing committed yet)."""
        return self._latest()[0]

    def version_at_timestamp(self, ts: float) -> int:
        """Newest version committed at or before wall-clock `ts` (epoch
        seconds) — the TIMESTAMP AS OF half of time travel, resolved
        against the retained window's committed_at stamps.  Returns 0
        when `ts` predates every retained commit AND the store has no
        pruned history (the empty state); raises when older commits
        existed but were pruned (the answer would be wrong, not empty) —
        the same loud-over-approximate contract as _state_at.  Clock
        skew caveat: stamps come from the committing writer's clock, so
        cross-writer ordering authority stays with the version number;
        this resolves the human question 'what did the log say at 3pm'.
        Commits from stores created before stamping existed have no
        committed_at and are treated as ineligible (unknowable, never
        guessed)."""
        entries = []
        for n in os.listdir(self._commit_dir):
            if not n.endswith(".json"):
                continue
            v = int(n[:-5])
            try:
                with open(os.path.join(self._commit_dir, n)) as f:
                    entries.append((v, json.load(f).get("committed_at")))
            except FileNotFoundError:
                continue  # pruned between listing and read
        if not entries:
            return 0
        eligible = [v for v, at in entries if at is not None and at <= ts]
        if eligible:
            return max(eligible)
        oldest = min(v for v, _ in entries)
        if oldest > 1:
            raise ValueError(
                f"timestamp {ts} predates the retained commit window "
                f"(oldest retained version {oldest}): older commits were "
                f"pruned, so the version at that time is unknowable"
            )
        return 0

    def _state_at(self, version: int) -> dict:
        """Committed state at an exact version — the time-travel read
        (Delta's `versionAsOf`; backend.py documents the seam mapping).
        Every commit is a FULL snapshot, so no replay: one file read.
        Errors are LOUD by contract: asking for a pruned or not-yet-
        committed version raises instead of silently returning the
        nearest neighbor."""
        if version == 0:
            return {"files": [], "locks": {}, "seq": 1}
        try:
            with open(
                os.path.join(self._commit_dir, f"{version:020d}.json")
            ) as f:
                return json.load(f)
        except FileNotFoundError:
            latest, _ = self._latest()
            if version > latest:
                raise ValueError(
                    f"version {version} not committed yet (latest {latest})"
                ) from None
            raise ValueError(
                f"version {version} expired: commits older than latest-"
                f"{_COMMIT_KEEP} are pruned (latest {latest})"
            ) from None

    def _paths_at(self, version: int) -> list[str]:
        """Data paths live at `version`, verified to still exist: a
        compaction AFTER that version may have vacuumed its data files
        (post-commit deletes past `min_age_s`), and a silent partial read
        would be worse than no read — same failure contract as reading a
        Delta version past VACUUM."""
        state = self._state_at(version)
        paths = [os.path.join(self.path, n) for n in state["files"]]
        gone = [p for p in paths if not os.path.exists(p)]
        if gone:
            raise ValueError(
                f"version {version} is no longer readable: "
                f"{len(gone)}/{len(paths)} data files were removed by a "
                f"later compaction (first: {os.path.basename(gone[0])})"
            )
        return paths

    def log(self, at_version: int | None = None) -> DataFrame:
        paths = (
            self._live_paths() if at_version is None else self._paths_at(at_version)
        )
        if not paths:
            return self.spark.createDataFrame([], JOB_LOG_SCHEMA)
        return self.spark.read.schema(JOB_LOG_SCHEMA).parquet(*paths)

    def _latest_per_jid(self, log: DataFrame) -> DataFrame:
        w = Window.partitionBy("jid").orderBy(F.col("seq").desc())
        return (
            log.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def current(self, prefilter=None, at_version: int | None = None) -> DataFrame:
        log = self.log(at_version=at_version)
        if prefilter is not None:
            log = log.filter(prefilter)
        return self._latest_per_jid(log)

    def log_diff(
        self,
        v_from: int,
        v_to: int | None = None,
        compare_cols: list[str] | None = None,
    ) -> DataFrame:
        """Version-to-version audit of the job log itself: what changed
        between commit v_from and v_to (default: the newest)?  Reuses the
        data-table release diff (sources/merge.py snapshot_diff) over the
        two versions' latest-per-jid snapshots — one full-outer join on
        jid; `status` says added/removed/changed/unchanged, with the
        compared columns old_/new_ prefixed.  The SCD2/diff machinery the
        engine built for data tables, applied to the queue's own log."""
        from flume_spark.sources.merge import snapshot_diff

        if v_to is None:
            v_to = self.version()
        cols = compare_cols or ["status", "retry_count"]
        return snapshot_diff(
            self.current(at_version=v_from),
            self.current(at_version=v_to),
            "jid",
            cols,
        )

    def as_of(self, seq: int, prefilter=None) -> DataFrame:
        log = self.log().filter(F.col("seq") <= seq)
        if prefilter is not None:
            log = log.filter(prefilter)
        return self._latest_per_jid(log)

    @staticmethod
    def count_rows(paths: list[str]) -> int:
        return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)

    def read_rows(self, paths: list[str]) -> list[dict]:
        return read_parquet_rows(paths)

    def is_empty(self) -> bool:
        _, state = self._latest()
        return not state["files"]

    # -- maintenance ----------------------------------------------------------

    def n_files(self) -> int:
        return len(self._latest()[1]["files"])

    def maybe_compact(
        self,
        max_files: int = 256,
        archive_succeeded: bool = False,
        min_age_s: float = 0.0,
    ) -> bool:
        if self.n_files() <= max_files:
            return False
        self.compact(archive_succeeded=archive_succeeded, min_age_s=min_age_s)
        return True

    def compact(
        self, archive_succeeded: bool = False, min_age_s: float = 0.0
    ) -> None:
        """Snapshot-list rewrite with an ATOMIC swap: read the committed
        files older than the grace, write the compacted (and archive)
        output as new data files, then one commit replaces exactly the
        snapshotted names — a concurrent append's names survive because
        the commit's mutate re-reads the current list and subtracts only
        the snapshot.  Physical deletes happen only after the commit, so a
        reader planning over the old snapshot version still finds its
        files (the `min_age_s` grace covers readers that planned just
        before the commit, same contract as JobStore.compact)."""
        cutoff = time.time() - min_age_s
        _, state = self._latest()
        snap_names = []
        for n in state["files"]:
            p = os.path.join(self.path, n)
            try:
                if os.path.getmtime(p) <= cutoff:
                    snap_names.append(n)
            except OSError:
                continue
        if not snap_names:
            return
        log = self.spark.read.schema(JOB_LOG_SCHEMA).parquet(
            *[os.path.join(self.path, n) for n in snap_names]
        )
        snapshot = self._latest_per_jid(log).persist()
        try:
            self._gc_processed_markers(snapshot, min_age_s)
            tag = f"compact-{self.next_seq()}"
            if archive_succeeded:
                self._archive(snapshot.filter(F.col("status") == "succeeded"))
                live = snapshot.filter(F.col("status") != "succeeded")
            else:
                live = snapshot
            # write the compacted data files WITHOUT committing them yet
            new_names = stage_and_move_parquet(
                live,
                f"{self.path.rstrip('/')}.staging/{tag}",
                self.path,
                lambda i: f"{tag}-{i}.parquet",
            )
            dead = set(snap_names)
            self._commit(
                lambda s: {
                    **s,
                    "files": [n for n in s["files"] if n not in dead]
                    + new_names,
                }
            )
        finally:
            snapshot.unpersist()
        for n in snap_names:
            try:
                os.unlink(os.path.join(self.path, n))
            except FileNotFoundError:
                pass  # a racing compact already removed it

    def vacuum(self, min_age_s: float = 3600.0) -> list[str]:
        """Delete ORPHANED data files — present in the data dir but
        referenced by no retained commit — older than `min_age_s`.

        Orphans are the crash residue this store's own write protocol can
        create: publish/append moves data files in FIRST (invisible) and
        only then commits; a crash (or a lost commit race whose retry
        re-staged new files) between the two leaves fully-written parquet
        that no snapshot will ever reference, silently accumulating
        forever.  This is Delta's VACUUM applied to the same invariant:
        anything not reachable from the retained commit window and older
        than the grace is garbage BY CONSTRUCTION — in-flight writers are
        covered because their files are younger than any sane grace (a
        move-then-commit gap is milliseconds; default grace 1h mirrors
        Delta's conservative stance against clock skew).  Files listed in
        ANY retained commit (not just the newest) survive, so time-travel
        reads within the keep-window are never broken by a vacuum.

        Returns the deleted names (for telemetry/audit)."""
        referenced: set[str] = set()
        for n in os.listdir(self._commit_dir):
            if not n.endswith(".json"):
                continue
            try:
                with open(os.path.join(self._commit_dir, n)) as f:
                    referenced.update(json.load(f).get("files", []))
            except (FileNotFoundError, ValueError):
                continue  # pruned or torn mid-read by a racing pruner
        cutoff = time.time() - min_age_s
        deleted: list[str] = []
        for n in os.listdir(self.path):
            if not n.endswith(".parquet") or n in referenced:
                continue
            p = os.path.join(self.path, n)
            try:
                if os.path.getmtime(p) <= cutoff:
                    os.unlink(p)
                    deleted.append(n)
            except FileNotFoundError:
                continue  # racing vacuum
        return deleted

    def _archive(self, succeeded: DataFrame) -> None:
        run = uuid.uuid4().hex[:8]
        stage_and_move_parquet(
            succeeded,
            f"{self.path.rstrip('/')}.staging/archive-{run}",
            self.path.rstrip("/") + ".archive",
            lambda i: f"archive-{run}-{i}.parquet",
        )

    def archive(self) -> DataFrame:
        return (
            self.spark.read.schema(JOB_LOG_SCHEMA)
            .parquet(self.path.rstrip("/") + ".archive")
            .dropDuplicates(["jid", "seq"])
        )

    def _gc_processed_markers(self, snapshot: DataFrame, min_age_s: float) -> None:
        """Same crash-window marker GC contract as JobStore (store.py):
        markers whose job's latest record is succeeded/archived are
        removed; young markers are spared for in-flight triggers."""
        mdir = self.processed_marker_dir()
        if not os.path.isdir(mdir):
            return
        cutoff = time.time() - min_age_s
        jids = []
        for n in os.listdir(mdir):
            if n.startswith("."):
                continue
            try:
                if os.path.getmtime(os.path.join(mdir, n)) <= cutoff:
                    jids.append(n)
            except OSError:
                continue
        if not jids:
            return
        still_live = {
            r["jid"]
            for r in snapshot.filter(F.col("jid").isin(jids))
            .filter(F.col("status") != "succeeded")
            .select("jid")
            .collect()
        }
        for jid in jids:
            if jid not in still_live:
                self.clear_flag(f"processed/{jid}")

    # -- claim lock: lease via conditional commit ------------------------------

    @contextmanager
    def claim_lock(self, queue: str):
        """Per-queue mutual exclusion WITHOUT flock: a lease row committed
        through the create-if-absent primitive.  Acquire succeeds only when
        the commit whose precondition saw the lock free/expired wins its
        version — two contenders racing produce one winner (the other's
        create fails and it re-reads a state where the lock is held).
        A crashed holder's lease expires after `lock_lease_s`, restoring
        liveness with at-most-one active holder at all times (the next
        acquirer takes over only via another conditional commit).

        A LIVE holder renews the lease from a heartbeat thread at
        lock_lease_s/3, so a critical section longer than the lease (a
        hot-queue claim trigger scales with backlog) does NOT silently
        lose mutual exclusion — without renewal, a second instance would
        take over mid-claim and double-claim.  The residual exposure is
        a holder process STALLED longer than a full lease (GC pause /
        SIGSTOP) — the standard lease-lock caveat; if takeover is then
        detected at release time, a loud warning is emitted rather than a
        silent no-op, so a double-claim window is never invisible."""
        token = uuid.uuid4().hex

        def acquire(state):
            locks = state.get("locks", {})
            cur = locks.get(queue)
            if cur and cur["expires"] > time.time():
                return None  # held and live: no commit, poll again
            locks = dict(locks)
            locks[queue] = {
                "token": token,
                "owner": self.owner,
                "expires": time.time() + self.lock_lease_s,
            }
            return {**state, "locks": locks}

        while True:
            _, _, committed = self._commit(acquire)
            if committed:
                break
            time.sleep(self.poll_interval_s)

        stop = threading.Event()
        lost = threading.Event()

        def renew_loop():
            while not stop.wait(self.lock_lease_s / 3.0):
                def renew(state):
                    locks = state.get("locks", {})
                    cur = locks.get(queue)
                    if not cur or cur.get("token") != token:
                        lost.set()  # lease lapsed and was taken over
                        return None
                    locks = dict(locks)
                    locks[queue] = {
                        **cur,
                        "expires": time.time() + self.lock_lease_s,
                    }
                    return {**state, "locks": locks}

                self._commit(renew)
                if lost.is_set():
                    return

        heartbeat = None
        if self.lock_renewal:
            heartbeat = threading.Thread(
                target=renew_loop, daemon=True, name=f"lock-renew-{queue}"
            )
            heartbeat.start()
        try:
            yield
        finally:
            stop.set()
            if heartbeat is not None:
                heartbeat.join(timeout=5)

            def release(state):
                locks = state.get("locks", {})
                if locks.get(queue, {}).get("token") != token:
                    return None  # taken over: not ours to clear
                locks = dict(locks)
                del locks[queue]
                return {**state, "locks": locks}

            _, _, released = self._commit(release)
            if lost.is_set() or not released:
                warnings.warn(
                    f"claim_lock('{queue}'): lease lost during the critical "
                    "section (holder stalled past lock_lease_s and another "
                    "instance took over) — mutual exclusion was violated "
                    "for part of this hold; audit for double-claims",
                    stacklevel=2,
                )

    # -- control flags: blind PUT/DELETE objects -------------------------------
    # No read-modify-write needed, so no commit: a flag is one object, and
    # executors write idempotence markers here directly (no driver txn).

    def _flag_path(self, flag: str) -> str:
        return os.path.join(self.path.rstrip("/") + ".control", flag)

    def set_flag(self, flag: str) -> None:
        path = self._flag_path(flag)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write("true")
        os.rename(tmp, path)

    def clear_flag(self, flag: str) -> None:
        try:
            os.unlink(self._flag_path(flag))
        except FileNotFoundError:
            pass

    def has_flag(self, flag: str) -> bool:
        return os.path.exists(self._flag_path(flag))

    def processed_marker_dir(self) -> str:
        return os.path.dirname(self._flag_path("processed/x"))
