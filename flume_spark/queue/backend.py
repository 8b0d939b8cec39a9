"""LogBackend — the storage contract the queue engine writes through.

The engine (QueueManager, PipelineRunner, streaming curation) never touches
storage directly; everything goes through this interface.  Two bundled
implementations prove the seam from both concurrency models:

- `store.JobStore` — parquet log + fcntl locks (shared-POSIX-mount
  deployments; faithful to the reference's Redis lock).
- `optimistic.OptimisticLogStore` — commit-log + atomic create-if-absent
  (the object-store model: conditional PUT / Delta-style optimistic
  concurrency; no flock anywhere).

Each method is specified by its Delta/Iceberg mapping, so a table-format
backend is a drop-in:

| method            | parquet-log impl                | Delta/Iceberg impl |
|-------------------|---------------------------------|--------------------|
| next_seq          | fcntl-locked counter file       | commit version of the txn that carries the write |
| append / append_rows | new part file (atomic rename); append_rows returns its path | `INSERT` / small AddFile commit |
| publish           | staged dir + per-file rename    | staged commit (the transaction log IS the stage) |
| n_files           | data-file listing / commit file list | live-file count of the snapshot |
| log / current / as_of | read + latest-per-jid window | table read / `VERSION AS OF`; with CDF, `current` is the materialized latest view |
| log/current(at_version=) / log_diff | commit-snapshot read + release diff (OptimisticLogStore only — needs versioned commits) | `VERSION AS OF` reads + CDF between versions |
| compact / maybe_compact | snapshot-list rewrite + unlink | `OPTIMIZE` + `VACUUM`; archive = partition move |
| set/clear/has_flag | flag files under <path>.control | rows in a control table (txn-visible to all writers) |
| count_rows / read_rows | parquet footer metadata / pyarrow read | driver-side `collect()` of a bounded commit |

Driver-sized writes (enqueue, claim, ack) have ONE commit path:
`append_rows`.  A trigger collects its demand-bounded claim plan on the
driver, commits it with `append_rows` (durable before any worker runs) and
dispatches from exactly the returned files; `publish` is left to
data-sized writes (`enqueue_from`, compaction).

Concurrency stance: seq ordering across instances comes from the backend's
atomic counter (≙ Delta's serialized commits), claim serialization from
`claim_lock` — one exclusive per-queue lock held across every trigger's
due-read→claim-commit span (≙ the reference's bulk-dequeue lock,
redis/lock.ex:8-41) — rate-limit window atomicity from the
SharedLedgerLimiter's per-key lock, and compaction's snapshot-list contract
tolerates concurrent appenders (store.py::compact docstring).  A Delta
backend gets all four from optimistic concurrency for free (claim_lock
becomes a no-op: a conflicting claim commit simply retries).
"""

from __future__ import annotations

from abc import ABC, abstractmethod

from pyspark.sql import DataFrame


class LogBackend(ABC):
    """Abstract job-log storage: append-only records, last-writer-wins by
    `seq`, durable control flags, bounded driver-side reads."""

    # -- write path ---------------------------------------------------------

    @abstractmethod
    def next_seq(self, n: int = 1) -> int:
        """Allocate `n` consecutive, globally-ordered sequence values; return
        the first.  MUST order by allocation time across every writer of the
        store (Delta: the commit version)."""

    @abstractmethod
    def append(self, df: DataFrame) -> None:
        """Distributed append of log records (Delta: `append` write)."""

    @abstractmethod
    def append_rows(self, rows: list[dict]) -> list[str]:
        """Driver-side small append, no Spark job (Delta: one AddFile
        commit).  Used by enqueue, claim and ack — control-plane row
        counts.  Returns handles to the committed units, readable by
        executors once this returns; no rows commit nothing and return []."""

    @abstractmethod
    def publish(self, df: DataFrame, tag: str) -> list[str]:
        """Atomically publish a distributed write; never expose partial or
        zero-row files to concurrent readers (Delta: staged commit).
        Returns handles to the published units ([] when df is empty)."""

    # -- read path ----------------------------------------------------------

    @abstractmethod
    def log(self) -> DataFrame:
        """Every record ever appended (post-compaction history collapses)."""

    @abstractmethod
    def current(self, prefilter=None) -> DataFrame:
        """Latest record per jid.  `prefilter` must reach the scan and is
        only valid on jid-immutable columns (see store.py docstring)."""

    @abstractmethod
    def as_of(self, seq: int, prefilter=None) -> DataFrame:
        """The live table at log position `seq` (Delta: VERSION AS OF)."""

    @abstractmethod
    def count_rows(self, paths: list[str]) -> int:
        """Row count of published units from metadata only."""

    @abstractmethod
    def read_rows(self, paths: list[str]) -> list[dict]:
        """Driver-side read of specific published units — ONLY for
        control-plane data bounded by construction (claim batches)."""

    @abstractmethod
    def is_empty(self) -> bool: ...

    # -- maintenance --------------------------------------------------------

    @abstractmethod
    def n_files(self) -> int:
        """Live data files — the fragmentation `maybe_compact` thresholds
        (cheap: a listing, never a data read)."""

    @abstractmethod
    def compact(self, archive_succeeded: bool = False, min_age_s: float = 0.0) -> None:
        """Rewrite to one record per jid (Delta: OPTIMIZE + VACUUM); with
        `archive_succeeded`, move succeeded jobs to the archive (reference:
        a successful ack REMOVES the job, queue/manager.ex:184-193)."""

    @abstractmethod
    def maybe_compact(
        self,
        max_files: int = 256,
        archive_succeeded: bool = False,
        min_age_s: float = 0.0,
    ) -> bool:
        """Compact when fragmentation passes the threshold; True if ran."""

    # -- control flags ------------------------------------------------------

    @abstractmethod
    def claim_lock(self, queue: str):
        """Context manager: exclusive per-queue claim lock, shared across
        every manager instance of this store — the reference's bulk-dequeue
        lock (redis/lock.ex:8-41).  Held across a trigger's due-read →
        claim-commit span so two instances can never both observe the same
        job as due (double-claim).  Parquet-log impl: flock on a control
        file; a Delta/Iceberg impl may return a no-op guard and rely on
        optimistic commit conflicts instead."""

    @abstractmethod
    def set_flag(self, flag: str) -> None:
        """Durable, store-scoped control flag visible to every instance
        (Delta: a row in the control table; reference: the Redis
        `<ns>:pipeline:<name>:paused` string)."""

    @abstractmethod
    def clear_flag(self, flag: str) -> None: ...

    @abstractmethod
    def has_flag(self, flag: str) -> bool: ...

    @abstractmethod
    def processed_marker_dir(self) -> str:
        """A storage location EXECUTORS can write per-jid completion markers
        to (idempotence: marker-before-result, workers._write_marker).  The
        contract: after an executor writes file/object `<dir>/<jid>`,
        `has_flag(f"processed/{jid}")` is true on every instance and
        `clear_flag` removes it.  Parquet-log impl: the shared control dir;
        a Delta/Iceberg impl returns an object-store prefix (markers must be
        writable WITHOUT a driver-side transaction — the whole point is that
        the executor records completion even if the driver dies)."""
