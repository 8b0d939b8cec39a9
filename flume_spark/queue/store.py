"""Log-structured job store: append-only parquet + last-writer-wins state.

Production target is Delta/Iceberg (ACID appends, optimistic concurrency,
background compaction); plain parquet-dir appends have the same shape and
are what the test container supports.  Reference analog: the Redis key
layout at lib/flume/queue/manager.ex:267-287 — one list/zset per state —
collapsed into one table with a `status` column.
"""

from __future__ import annotations

import os
import threading
import time
import uuid
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flume_spark.queue.backend import LogBackend
from flume_spark.queue.schema import JOB_LOG_SCHEMA

# Arrow twin of JOB_LOG_SCHEMA for the driver-side small-append fast path.
# timestamp[us, UTC] matches what Spark itself writes (isAdjustedToUTC=true);
# session timezone is UTC everywhere so wall-clock == instant.
_ARROW_SCHEMA = pa.schema(
    [
        pa.field("jid", pa.string(), False),
        pa.field("queue", pa.string(), False),
        pa.field("class", pa.string(), False),
        pa.field("function", pa.string(), False),
        pa.field("args", pa.string(), False),
        pa.field("context", pa.map_(pa.string(), pa.string())),
        pa.field("status", pa.string(), False),
        pa.field("retry_count", pa.int32(), False),
        pa.field("enqueued_at", pa.timestamp("us", tz="UTC"), False),
        pa.field("scheduled_at", pa.timestamp("us", tz="UTC")),
        pa.field("leased_at", pa.timestamp("us", tz="UTC")),
        pa.field("retry_at", pa.timestamp("us", tz="UTC")),
        pa.field("finished_at", pa.timestamp("us", tz="UTC")),
        pa.field("failed_at", pa.timestamp("us", tz="UTC")),
        pa.field("error_message", pa.string()),
        pa.field("error_backtrace", pa.string()),
        pa.field("seq", pa.int64(), False),
    ]
)


def stage_and_move_parquet(df, staging: str, dest_dir: str, namer) -> list[str]:
    """The shared staged-publish primitive: write `df` to `staging`, move
    the DATA-BEARING part files into `dest_dir` under `namer(i)` names
    (zero-row files dropped — an empty frame must publish nothing), clean
    the staging dir, return the moved basenames.  Rename is atomic within
    a filesystem so readers never see partial files.  Used by every
    publish/compact/archive path of both backends."""
    import shutil

    os.makedirs(dest_dir, exist_ok=True)
    df.write.mode("overwrite").parquet(staging)
    names = []
    for i, n in enumerate(sorted(os.listdir(staging))):
        if not n.endswith(".parquet"):
            continue
        src = os.path.join(staging, n)
        if pq.ParquetFile(src).metadata.num_rows == 0:
            continue
        name = namer(i)
        os.rename(src, os.path.join(dest_dir, name))
        names.append(name)
    shutil.rmtree(staging, ignore_errors=True)
    return names


def rows_to_arrow_table(rows: list[dict]) -> pa.Table:
    """Driver-local rows -> an Arrow table in the job-log schema (shared by
    every backend's small-append fast path)."""
    cols = {name: [r.get(name) for r in rows] for name in _ARROW_SCHEMA.names}
    arrays = [
        pa.array(
            [None if v is None else list(v.items()) for v in cols[f.name]]
            if pa.types.is_map(f.type)
            else cols[f.name],
            type=f.type,
        )
        for f in _ARROW_SCHEMA
    ]
    return pa.Table.from_arrays(arrays, schema=_ARROW_SCHEMA)


def arrow_to_rows(tbl: pa.Table) -> list[dict]:
    """Job-log rows of an Arrow table as plain dicts (UTC naive timestamps,
    dict contexts) — the row form of the trigger's claim and ack
    bookkeeping."""
    from datetime import datetime, timezone

    rows = tbl.to_pylist()
    for r in rows:
        for k, v in r.items():
            if isinstance(v, datetime) and v.tzinfo is not None:
                r[k] = v.astimezone(timezone.utc).replace(tzinfo=None)
        if isinstance(r.get("context"), list):
            r["context"] = dict(r["context"])
    return rows


def read_parquet_rows(paths: list[str]) -> list[dict]:
    """Driver-side pyarrow read of specific log files as plain dicts —
    shared by every backend's bounded control-plane read."""
    return arrow_to_rows(
        pa.concat_tables(
            [pq.read_table(p) for p in paths], promote_options="permissive"
        )
    )


class JobStore(LogBackend):
    """The parquet-log implementation of `LogBackend` (see backend.py for
    the per-method Delta/Iceberg mapping): append-only job log with
    last-writer-wins current-state view.

    `seq` is allocated from a store-shared atomic counter (an fcntl-locked
    file next to the control flags) — the parquet-log analog of taking the
    Delta commit version.  This makes last-writer-wins resolve by WRITE
    order across every manager instance sharing the store: a record written
    later always carries a higher seq, regardless of which instance (or
    when-started instance) wrote it.  A per-process counter would instead
    rank instances by start time, letting an older instance's claims/acks
    lose forever to any record from a newer one (round-2 ADVICE).
    Reference analog for the serialization itself: the per-queue Redis lock
    at redis/lock.ex:8-24.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)
        self._lock = threading.Lock()

    def next_seq(self, n: int = 1) -> int:
        """Atomically allocate `n` consecutive seq values; returns the first.

        The counter seeds at int(now_ms) << 20 on first use, which sorts
        above any seq a pre-counter log produced (same time-based seed) —
        existing logs stay correctly ordered.  One flock'd read-modify-write
        per allocation: seq is fetched once per trigger/enqueue batch
        (control-plane rate), so the file lock is never on a data path.
        """
        import fcntl

        path = self._flag_path("seq")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with self._lock, open(path, "a+") as f:
            fcntl.flock(f, fcntl.LOCK_EX)
            f.seek(0)
            raw = f.read().strip()
            start = int(raw) if raw else int(time.time() * 1000) << 20
            f.seek(0)
            f.truncate()
            f.write(str(start + n))
            f.flush()
            os.fsync(f.fileno())
            return start

    def append(self, df: DataFrame) -> None:
        df.write.mode("append").parquet(self.path)

    def append_rows(self, rows: list[dict]) -> list[str]:
        """Driver-side fast path: commit driver-local rows as one parquet
        file directly (pyarrow), no Spark job, and return its path ([] for
        no rows: nothing is written).  Enqueues, claims and acks are
        driver-sized — a distributed write would be ~50x slower in
        scheduling overhead alone.  In the Delta target this is a small
        AddFile commit; the reference analog is a single RPUSH
        (redis/client.ex:183-185).
        """
        if not rows:
            return []
        table = rows_to_arrow_table(rows)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.path, f".{name}.tmp")
        final = os.path.join(self.path, name)
        pq.write_table(table, tmp)
        os.rename(tmp, final)  # atomic visibility
        return [final]

    @staticmethod
    def count_rows(paths: list[str]) -> int:
        """Row count of specific files from parquet metadata (driver-side,
        no Spark job, no data read)."""
        return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)

    def read_rows(self, paths: list[str]) -> list[dict]:
        """Driver-side read of specific log files (pyarrow, no Spark job).

        ONLY for control-plane data bounded by construction — e.g. a claim
        batch is ≤ Σ max_demand rows per trigger, the same bound the
        reference's Redis round-trip carries.  Never point this at the log
        dir itself.
        """
        return read_parquet_rows(paths)

    def publish(self, df: DataFrame, tag: str) -> list[str]:
        """Stage a distributed write, then rename only data-bearing part
        files into the log.  Returns the published paths ([] if the frame
        was empty).

        Why not a plain append: Spark materializes at least one ZERO-ROW
        part file for an empty frame, which any streaming reader of the log
        treats as an arrival — an empty distributed enqueue or compaction
        output would wake the stream for nothing.  Rename is atomic within a
        filesystem, so readers never see partial files (Delta's
        staged-commit, in miniature).
        """
        return self._publish_to(df, tag, self.path)

    def _publish_to(self, df: DataFrame, tag: str, dest: str) -> list[str]:
        staging = f"{self.path.rstrip('/')}.staging/{tag}"
        names = stage_and_move_parquet(
            df, staging, dest, lambda i: f"{tag}-{i}.parquet"
        )
        return [os.path.join(dest, n) for n in names]

    def n_files(self) -> int:
        """Live log files — the fragmentation `maybe_compact` thresholds."""
        return sum(1 for n in os.listdir(self.path) if n.endswith(".parquet"))

    def maybe_compact(
        self,
        max_files: int = 256,
        archive_succeeded: bool = False,
        min_age_s: float = 0.0,
    ) -> bool:
        """Compact when the log fragments past `max_files` — bounds the
        per-trigger scan cost under sustained enqueue/ack traffic (each
        trigger otherwise reads every small file ever written).  Delta/
        Iceberg analog: auto-OPTIMIZE.  Returns True if compaction ran.

        `min_age_s` > 0 (QueueManager's `compact_grace_s`) spares files
        younger than the grace — required when several instances share one
        store, since another manager may still be lazily reading the claim
        file it just committed mid-trigger.  Single-driver deployments
        (the default) compact everything immediately."""
        if self.n_files() <= max_files:
            return False
        self.compact(archive_succeeded=archive_succeeded, min_age_s=min_age_s)
        return True

    def is_empty(self) -> bool:
        return not any(
            name.endswith(".parquet") for name in os.listdir(self.path)
        )

    def log(self) -> DataFrame:
        return self.spark.read.schema(JOB_LOG_SCHEMA).parquet(self.path)

    def current(self, prefilter=None) -> DataFrame:
        """Latest record per jid — the live job table.

        `prefilter` is applied BELOW the window, so it reaches the parquet
        scan (PushedFilters) — only valid for predicates on columns that are
        immutable across a jid's lifecycle (queue, class, enqueued_at).
        A mutable-column predicate (status, leased_at) below the window
        would change which record is "latest"; filter those above.

        One shuffle on jid; at scale the log is bucketed by jid so this
        collapses to a per-bucket local window (no exchange), and compaction
        keeps the log short.
        """
        log = self.log()
        if prefilter is not None:
            log = log.filter(prefilter)
        w = Window.partitionBy("jid").orderBy(F.col("seq").desc())
        return (
            log.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def as_of(self, seq: int, prefilter=None) -> DataFrame:
        """Time travel: the live job table as it was at log position `seq`
        (inclusive) — the log-structured store gives this for free, like
        Delta's VERSION AS OF.  Same pushdown rules as `current()`.

        NB: compaction collapses history; snapshots before the last compact
        resolve to the compacted state.
        """
        log = self.log().filter(F.col("seq") <= seq)
        if prefilter is not None:
            log = log.filter(prefilter)
        w = Window.partitionBy("jid").orderBy(F.col("seq").desc())
        return (
            log.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def compact(
        self, archive_succeeded: bool = False, min_age_s: float = 0.0
    ) -> None:
        """Rewrite the log to one record per jid (latest state).

        Bounds read amplification; in Delta this is OPTIMIZE + vacuum.
        With `archive_succeeded`, succeeded jobs move to `<path>.archive/`
        instead of staying live — the reference analog is exact (a
        successful ack REMOVES the job from Redis, queue/manager.ex:184-193,
        while dead jobs stay queryable in the dead zset), and it is what
        keeps the live log O(in-flight + dead), not O(all jobs ever).

        Concurrency/crash contract: the input file list is snapshotted FIRST,
        the compacted output is published as new files INTO the live dir, and
        only the snapshotted inputs are then deleted.  A file appended
        concurrently (another runner's ack, a user enqueue during streaming)
        is not in the snapshot, so it survives; its higher `seq` still wins
        the latest-per-jid window over the compacted record.  A crash between
        publish and the unlinks leaves duplicate latest-records — harmless
        (identical rows; the window picks either) and removed by the next
        compact.  No whole-directory rename ever happens, so there is no
        moment without a live log dir.

        `min_age_s` excludes recently-written files from BOTH the snapshot
        and the deletions: another instance may still be lazily reading the
        claim file it just committed (its dispatch reads it mid-trigger), and
        unlinking them under it would kill that trigger.  Young files stay
        live; their higher `seq` keeps winning the latest-per-jid window
        over the compacted record, so state is unchanged.  Deletions are
        tolerant of already-missing files (two instances compacting the
        same snapshot race benignly).
        """
        cutoff = time.time() - min_age_s
        files = []
        for n in sorted(os.listdir(self.path)):
            if not n.endswith(".parquet"):
                continue
            p = os.path.join(self.path, n)
            try:
                if os.path.getmtime(p) <= cutoff:
                    files.append(p)
            except OSError:  # vanished under a concurrent compact
                continue
        if not files:
            return
        log = self.spark.read.schema(JOB_LOG_SCHEMA).parquet(*files)
        w = Window.partitionBy("jid").orderBy(F.col("seq").desc())
        # persist: marker GC, the archive write, and the live publish are
        # separate actions — uncached they would each re-scan the inputs and
        # re-run the window shuffle (3x I/O for one logical pass)
        snapshot = (
            log.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        ).persist()
        try:
            self._gc_processed_markers(snapshot, min_age_s)
            tag = self.next_seq()
            if archive_succeeded:
                # staged publish (skips zero-row files) rather than a plain
                # append: an empty succeeded set must not litter the archive.
                # A crash between this write and the unlinks below leaves the
                # succeeded rows BOTH archived and live, so the next compact
                # re-archives them — archive() dedupes on (jid, seq) at read
                # time, which makes the crash-window duplicate harmless.
                self._publish_to(
                    snapshot.filter(F.col("status") == "succeeded"),
                    f"archive-{tag}",
                    self.path.rstrip("/") + ".archive",
                )
                live = snapshot.filter(F.col("status") != "succeeded")
            else:
                live = snapshot
            self.publish(live, f"compact-{tag}")
        finally:
            snapshot.unpersist()
        for p in files:
            try:
                os.unlink(p)
            except FileNotFoundError:
                pass  # a racing compact already removed it

    def _gc_processed_markers(self, snapshot: DataFrame, min_age_s: float) -> None:
        """Remove idempotence markers whose job's latest record is SUCCEEDED
        (or gone entirely, i.e. archived).  The normal path clears a marker
        right after its ack lands; a crash between the ack append and that
        clear would otherwise leave the marker forever (round-2 ADVICE).
        The marker set is bounded by the crash window, so listing it and
        collecting the matching jids is driver-cheap.

        Markers younger than `min_age_s` are spared for the same reason
        young log files are excluded from the snapshot: another instance
        may be mid-trigger — its markers exist but its claim/ack records
        live in young files the snapshot can't see, so the marker would
        look orphaned when it is actually active."""
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
            except OSError:  # cleared under us by the owning instance
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

    # -- claim lock ---------------------------------------------------------

    @contextmanager
    def claim_lock(self, queue: str):
        """Exclusive per-queue claim lock shared by every instance of this
        store — the reference's bulk-dequeue lock (redis/lock.ex:8-41,
        mutual-exclusion test test/flume/redis/lock_test.exs:9-44).  An
        flock on a control file next to the log, held across the trigger's
        due-read → claim-commit span: the second claimer's log listing
        happens only after the first's claim file is renamed in, so it
        sees status=processing with a fresh lease and claims nothing.
        flock is per-open-file-description, so it also serializes
        concurrent runner threads inside one process."""
        import fcntl
        from urllib.parse import quote

        path = self._flag_path(f"locks/queue-{quote(queue, safe='')}")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fd:
            fcntl.flock(fd, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(fd, fcntl.LOCK_UN)

    # -- control flags ------------------------------------------------------
    # Durable cluster-visible control state lives NEXT TO the log (at scale:
    # a Delta control table; here: flag files on the shared store path).
    # Reference analog: the `<ns>:pipeline:<name>:paused` Redis string
    # written when pause has `temporary: false` (pipeline/event.ex:69-70).

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

    def archive(self) -> DataFrame:
        """Archived (succeeded) job records, if any were compacted out.
        Deduped on (jid, seq): a crash between the archive write and the
        input unlinks makes the next compact re-archive the same records
        (see compact) — identical rows, collapsed here."""
        return (
            self.spark.read.schema(JOB_LOG_SCHEMA)
            .parquet(self.path.rstrip("/") + ".archive")
            .dropDuplicates(["jid", "seq"])
        )
