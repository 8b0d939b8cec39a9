"""QueueManager — the engine's equivalent of lib/flume/queue/manager.ex:
enqueue / bulk_enqueue / enqueue_in, claim (bulk dequeue), ack, retry→DLQ,
scheduled/retry promotion, visibility-timeout reclaim, job counts, and
pause/resume — all as DataFrame transformations over the job log.

The separate background movers of the reference (Queue.Scheduler and
ProcessingScheduler polling loops, SURVEY.md §3.3) disappear: each trigger's
due-predicate subsumes them (`status=pending AND scheduled_at<=now`,
`status=retry AND retry_at<=now`, `status=processing AND leased_at<now-vt`).
"""

from __future__ import annotations

import json
import threading
import time
import uuid
from contextlib import ExitStack
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flume_spark.queue import schema as S
from flume_spark.queue.backoff import DEFAULT_INITIAL_MS, DEFAULT_MAX_MS, backoff_ms
from flume_spark.queue.instrumentation import Telemetry
from flume_spark.queue.logger import DefaultLogger, FlumeLogger
from flume_spark.queue.ratelimit import SlidingWindowLimiter
from flume_spark.queue.store import JobStore, arrow_to_rows
from flume_spark.queue.workers import WorkerRegistry, dispatch_bulk, dispatch_single

DEFAULT_MAX_RETRIES = 5  # lib/flume/config.ex:8 (@max_retries 5)
DEFAULT_VISIBILITY_TIMEOUT_S = 600  # lib/flume/config.ex:23
DEFAULT_MAX_DEMAND = 500  # lib/flume/pipeline.ex:5


@dataclass
class Pipeline:
    """Pipeline declaration — lib/flume/pipeline.ex:7-18."""

    name: str
    queue: str
    max_demand: int = DEFAULT_MAX_DEMAND
    batch_size: int | None = None
    rate_limit_count: int | None = None
    rate_limit_scale: int | None = None  # ms
    rate_limit_key: str | None = None
    paused: bool = False
    # per-pipeline telemetry opt-out (lib/flume/pipeline.ex:7-18 `instrument`)
    instrument: bool = True

    @property
    def limit_key(self) -> str:
        # queue/manager.ex:285-287: shared key if rate_limit_key else per-queue
        return f"limit:{self.rate_limit_key}" if self.rate_limit_key else f"queue:limit:{self.queue}"


def _ts(now: float) -> datetime:
    return datetime.fromtimestamp(now, tz=timezone.utc).replace(tzinfo=None)


class QueueManager:
    def __init__(
        self,
        spark: SparkSession,
        store: JobStore,
        registry: WorkerRegistry | None = None,
        pipelines: list[Pipeline] | None = None,
        max_retries: int = DEFAULT_MAX_RETRIES,
        visibility_timeout_s: int = DEFAULT_VISIBILITY_TIMEOUT_S,
        backoff_initial_ms: int = DEFAULT_INITIAL_MS,
        backoff_max_ms: int = DEFAULT_MAX_MS,
        dispatch_timeout_s: float | None = None,
        telemetry: Telemetry | None = None,
        compact_max_files: int | None = 256,
        compact_grace_s: float = 0.0,
        archive_succeeded: bool = False,
        limiter: SlidingWindowLimiter | None = None,
        idempotence: bool = False,
        logger: FlumeLogger | None = None,
        claim_salts: int | None = None,
    ):
        self.spark = spark
        self.store = store
        self.telemetry = telemetry or Telemetry()
        # Pluggable logger behaviour (logger.ex:1-59 via config.ex:7): any
        # object with debug/info/warn/error(message, opts) callbacks; the
        # default bridges to std logging like default_logger.ex.
        self.logger = logger or DefaultLogger()
        self.compact_max_files = compact_max_files
        # Single-driver (default): the trigger thread serializes claims and
        # compaction, so freshly-written files are safe to compact at once.
        # Multi-instance on a SHARED store: set a grace (e.g. 30s) so
        # auto-compaction never unlinks claim files another manager is still
        # lazily reading mid-trigger.  Claims themselves are multi-instance
        # safe for EVERY queue: each trigger holds the store's per-queue
        # claim_lock across its due-read -> claim-commit span (the
        # reference's bulk-dequeue lock, redis/lock.ex:8-41), so two
        # instances can never both observe a job as due.
        self.compact_grace_s = compact_grace_s
        # True keeps the live log O(in-flight + dead) under sustained load
        # (succeeded acks move to the archive on compaction) — the setting
        # for long-running deployments; False preserves full history live.
        self.archive_succeeded = archive_succeeded
        self.registry = registry or WorkerRegistry()
        self.pipelines = {p.name: p for p in (pipelines or [])}
        self.max_retries = max_retries
        self.visibility_timeout_s = visibility_timeout_s
        self.backoff_initial_ms = backoff_initial_ms
        self.backoff_max_ms = backoff_max_ms
        self.dispatch_timeout_s = dispatch_timeout_s
        # Pass a SharedLedgerLimiter to hold the rate limit jointly across
        # app instances (README "across app instances" guarantee); the
        # default driver-local ledger covers the single-driver deployment.
        self.limiter = limiter or SlidingWindowLimiter()
        # Opt-in processed-jid ledger: markers are written from the EXECUTOR
        # at worker-completion time (workers._write_marker), before the
        # result ever reaches the driver, so a visibility-timeout redelivery
        # after ANY crash past the worker's side effects skips the worker.
        # The reference has the same exposure (move-then-delete,
        # queue/manager.ex:218-220) and no such guard — this closes SURVEY
        # "hard part 2".  Markers are cleared once the ack is durable and
        # orphans are GC'd at compaction, so the set stays O(crash window).
        self.idempotence = idempotence
        # claim_plan phase-1 salt count (None = session shuffle partitions):
        # how many tasks a single hot queue's backlog spreads across.  On a
        # 1000-executor cluster set ~total cores; the claim's phase-2 input
        # is ≤ claim_salts×demand rows per queue either way.
        self.claim_salts = claim_salts
        # trigger/compaction coordination (see run_many docstring)
        self._trigger_cv = threading.Condition()
        self._active_triggers = 0
        self._compacting = False

    # ------------------------------------------------------------------
    # write path (S1-S3): queue/manager.ex:12-67
    # ------------------------------------------------------------------

    def enqueue(
        self,
        queue: str,
        cls: str,
        args: list,
        function: str = "perform",
        context: dict | None = None,
        now: float | None = None,
    ) -> str:
        return self.bulk_enqueue(queue, [(cls, function, args)], context=context, now=now)[0]

    def bulk_enqueue(
        self,
        queue: str,
        jobs: list[tuple[str, str, list]],
        context: dict | None = None,
        now: float | None = None,
        delay_s: float = 0.0,
    ) -> list[str]:
        """One multi-row append (reference: single multi-value RPUSH,
        redis/client.ex:183-185).

        `args` per job is normally a Python list (serialized canonically);
        a *str* is treated as a pre-serialized JSON array and stored
        BYTE-EXACT — the analog of the reference keeping `original_json` so
        ack/retry handle the client's exact payload (event.ex:57,86-100).
        A raw string that parses to a JSON object (or doesn't parse) gets
        the reference's object-args rejection -> "[]".
        """
        now = time.time() if now is None else now
        seq = self.store.next_seq()
        jids, rows = [], []
        for cls, function, args in jobs:
            if isinstance(args, str):
                try:
                    parsed = json.loads(args)
                except ValueError:
                    parsed = {}
                if not isinstance(parsed, list):
                    args = []  # rejection path below serializes canonically
            elif isinstance(args, dict):
                # reference rejects object args -> [] (event.ex:88-89,108-109)
                args = []
            jid = str(uuid.uuid4())
            jids.append(jid)
            rows.append(
                {
                    "jid": jid,
                    "queue": queue,
                    "class": cls,
                    "function": function,
                    "args": args if isinstance(args, str) else json.dumps(args),
                    "context": context,
                    "status": S.PENDING,
                    "retry_count": 0,
                    "enqueued_at": _ts(now),
                    "scheduled_at": _ts(now + delay_s) if delay_s else None,
                    "leased_at": None,
                    "retry_at": None,
                    "finished_at": None,
                    "failed_at": None,
                    "error_message": None,
                    "error_backtrace": None,
                    "seq": seq,
                }
            )
        self.store.append_rows(rows)
        # [:queue, :enqueue] telemetry (manager.ex:23-27; payload_size A5)
        self.telemetry.emit(
            ("queue", "enqueue"),
            {"count": len(rows), "payload_size": sum(len(r["args"]) for r in rows)},
            {"queue": queue},
        )
        return jids

    def enqueue_from(
        self,
        df: DataFrame,
        queue: str,
        cls: str,
        args_col: str,
        function: str = "perform",
        now: float | None = None,
        delay_s: float = 0.0,
    ) -> int:
        """Distributed enqueue: turn a DataFrame into jobs, one per row,
        entirely on executors — the ingest path for deriving work from a
        query result at scale (no driver round-trip, no row limit).

        `args_col` must be an array column (or any column; it is wrapped
        into a one-element args array when not an array already).  Returns
        the number of jobs enqueued.
        """
        now = time.time() if now is None else now
        seq = self.store.next_seq()
        dtype = dict(df.dtypes)[args_col]
        args_expr = (
            F.to_json(F.col(args_col))
            if dtype.startswith("array")
            else F.to_json(F.array(F.col(args_col)))
        )
        jobs = df.select(
            F.expr("uuid()").alias("jid"),
            F.lit(queue).alias("queue"),
            F.lit(cls).alias("class"),
            F.lit(function).alias("function"),
            args_expr.alias("args"),
            F.lit(None)
            .cast("map<string,string>")
            .alias("context"),
            F.lit(S.PENDING).alias("status"),
            F.lit(0).cast("int").alias("retry_count"),
            F.lit(_ts(now)).alias("enqueued_at"),
            (F.lit(_ts(now + delay_s)) if delay_s else F.lit(None).cast("timestamp")).alias(
                "scheduled_at"
            ),
            F.lit(None).cast("timestamp").alias("leased_at"),
            F.lit(None).cast("timestamp").alias("retry_at"),
            F.lit(None).cast("timestamp").alias("finished_at"),
            F.lit(None).cast("timestamp").alias("failed_at"),
            F.lit(None).cast("string").alias("error_message"),
            F.lit(None).cast("string").alias("error_backtrace"),
            F.lit(seq).alias("seq"),
        )
        paths = self.store.publish(jobs, f"ingest-{seq}")
        n = self.store.count_rows(paths)
        self.telemetry.emit(
            ("queue", "enqueue"), {"count": n, "payload_size": -1}, {"queue": queue}
        )
        return n

    def enqueue_in(
        self,
        queue: str,
        delay_s: float,
        cls: str,
        args: list,
        function: str = "perform",
        context: dict | None = None,
        now: float | None = None,
    ) -> str:
        """Scheduled insert (queue/manager.ex:54-67)."""
        return self.bulk_enqueue(
            queue, [(cls, function, args)], context=context, now=now, delay_s=delay_s
        )[0]

    # ------------------------------------------------------------------
    # read path
    # ------------------------------------------------------------------

    def current(self) -> DataFrame:
        return self.store.current()

    def job_counts(self, queues: list[str]) -> dict[str, int]:
        """S7 — pending-job count per queue (queue/manager.ex:69-81).
        queue is jid-immutable, so it prefilters BELOW the latest-per-jid
        window and reaches the scan (a full-log window would otherwise run
        over every queue)."""
        rows = (
            self.store.current(prefilter=F.col("queue").isin(queues))
            .filter(F.col("status") == S.PENDING)
            .groupBy("queue")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        counts = {q: 0 for q in queues}
        counts.update({r["queue"]: r["n"] for r in rows})
        return counts

    def fetch_all(self, queue: str, status: str | None = None) -> DataFrame:
        """S8 full scan of a queue (redis/job.ex:152-158; ZRANGE variant via
        `status='retry'` etc.)."""
        df = self.store.current(prefilter=F.col("queue") == queue)
        return df.filter(F.col("status") == status) if status else df

    def _due_pred(self, now: float):
        """THE due predicate — pending-and-scheduled-due OR retry-due OR
        lease-expired (subsumes the reference's scheduler + processing
        reclaim loops, SURVEY.md §3.3).  Single definition shared by
        due_jobs (the observational API) and claim_plan (the engine), so
        what users see as due is exactly what triggers claim."""
        ts = F.lit(_ts(now))
        lease_horizon = F.lit(_ts(now - self.visibility_timeout_s))
        pending_due = (F.col("status") == S.PENDING) & (
            F.col("scheduled_at").isNull() | (F.col("scheduled_at") <= ts)
        )
        retry_due = (F.col("status") == S.RETRY) & (F.col("retry_at") <= ts)
        lease_expired = (F.col("status") == S.PROCESSING) & (
            F.col("leased_at") < lease_horizon
        )
        return pending_due | retry_due | lease_expired

    def due_jobs(self, queue: str | list[str], now: float) -> DataFrame:
        queues = [queue] if isinstance(queue, str) else queue
        # queue is immutable per jid, so the predicate pushes below the
        # latest-per-jid window all the way to the parquet scan
        cur = self.store.current(prefilter=F.col("queue").isin(queues))
        return cur.filter(self._due_pred(now))

    # ------------------------------------------------------------------
    # trigger (claim -> dispatch -> ack): the GenStage pipeline collapsed
    # into one synchronous micro-batch (SURVEY.md §3.2)
    # ------------------------------------------------------------------

    def claim_plan(
        self,
        demand_by_queue: dict[str, int],
        now: float,
        claim_seq: int,
        shared_budgets: dict[str, tuple[str, int]] | None = None,
    ) -> DataFrame:
        """The per-trigger claim as a two-phase top-K plan that never sorts
        a queue's backlog in one task.

        Phase 1 (data-sized, salted): the log is exchanged once on
        (queue, _salt) where _salt = hash(jid) % claim_salts.  jid -> queue
        and jid -> _salt are both functional, so all seq rows of a jid land
        in one task: the latest-per-jid window and the due filter are exact
        per salt, and a 10⁸-row hot-queue backlog spreads across
        claim_salts tasks instead of funneling into one (the reference's
        LRANGE head-take is O(demand); a per-queue global sort here would
        be the classic skewed-key scale-killer).  A per-(queue,_salt) FIFO
        rank then keeps only the first `demand` rows of each salt.

        Phase 2 (demand-bounded): the global per-queue FIFO rank of the
        reference (head-take order of redis/bulk_dequeue.ex:183-194) runs
        over ONLY the salted survivors — ≤ claim_salts×demand rows per
        queue — because every row in the true global top-demand is within
        the top-demand of its own salt (fewer than `demand` rows of the
        whole queue precede it, so fewer than `demand` of its salt do).
        Exchange #2 therefore moves a bounded set, never the backlog.
        `tests/test_plans.py::test_claim_plan_scale_safe` gates both
        phases; both windows reuse their phase's single exchange (only
        local sorts between them), and the queue IN-filter pushes to scan.

        `shared_budgets` maps queue -> (rate_limit_key, window_budget) for
        queues whose pipelines SHARE a rate_limit_key.  The joint cap is
        enforced here, in-plan, by a FIFO rank across the key's queues —
        enforcing it at admission time instead (per-pipeline reservations)
        either over-admits (everyone sees the full budget) or starves (an
        empty queue's reservation burns budget its sibling needed).  The
        extra window exists only when a key is shared (plan unchanged
        otherwise).  Its input is pre-bounded per queue to
        min(demand, budget) rows — a row ranked past `budget` within its
        own queue's FIFO can never be admitted by the joint cap (all its
        per-queue predecessors precede it jointly too), so the one task a
        hot rate_limit_key gets sorts ≤ n_queues×budget rows, never a
        data-sized set.  Unlimited queues keep per-queue partitions.
        """
        due_pred = self._due_pred(now)
        demand_map = F.create_map(
            *[x for q, d in demand_by_queue.items() for x in (F.lit(q), F.lit(d))]
        )
        n_salts = self.claim_salts or int(
            self.spark.conf.get("spark.sql.shuffle.partitions")
        )
        w_latest = Window.partitionBy("queue", "_salt", "jid").orderBy(
            F.col("seq").desc()
        )
        w_salt = Window.partitionBy("queue", "_salt").orderBy("enqueued_at", "jid")
        rank_w = Window.partitionBy("queue").orderBy("enqueued_at", "jid")
        plan = (
            self.store.log()
            .filter(F.col("queue").isin(list(demand_by_queue)))  # pushed to scan
            .withColumn(
                "_salt", F.pmod(F.xxhash64("jid"), F.lit(n_salts)).cast("int")
            )
            .repartition("queue", "_salt")
            .withColumn("_r1", F.row_number().over(w_latest))
            .filter((F.col("_r1") == 1) & due_pred)
            .drop("_r1")
            .withColumn("_sn", F.row_number().over(w_salt))
            .filter(F.col("_sn") <= demand_map[F.col("queue")])
            .drop("_sn", "_salt")
            .withColumn("_rn", F.row_number().over(rank_w))
            .filter(F.col("_rn") <= demand_map[F.col("queue")])
        )
        if shared_budgets:
            # joint FIFO rank across the queues sharing each rate_limit_key
            key_map = F.create_map(
                *[
                    x
                    for q, (k, _) in shared_budgets.items()
                    for x in (F.lit(q), F.lit(k))
                ]
            )
            budgets = {k: b for k, b in shared_budgets.values()}
            budget_map = F.create_map(
                *[x for k, b in budgets.items() for x in (F.lit(k), F.lit(b))]
            )
            # per-queue pre-bound: a row whose per-queue FIFO rank exceeds
            # the key's budget cannot be admitted jointly (see docstring),
            # so the key task sorts ≤ n_queues×budget rows
            qbudget_map = F.create_map(
                *[
                    x
                    for q, (_, b) in shared_budgets.items()
                    for x in (F.lit(q), F.lit(b))
                ]
            )
            # null-key (unlimited) rows get per-queue partitions — coalescing
            # them into the bare null partition would funnel every unlimited
            # queue's rows through one task (their rank is discarded anyway)
            w_key = Window.partitionBy(
                F.coalesce(F.col("_lk"), F.concat(F.lit("__nokey__"), F.col("queue")))
            ).orderBy("enqueued_at", "jid")
            plan = (
                plan.withColumn("_lk", key_map[F.col("queue")])
                .filter(
                    F.col("_lk").isNull()
                    | (F.col("_rn") <= qbudget_map[F.col("queue")])
                )
                .withColumn(
                    "_kn",
                    F.when(F.col("_lk").isNull(), F.lit(0)).otherwise(
                        F.row_number().over(w_key)
                    ),
                )
                .filter(
                    F.col("_lk").isNull()
                    | (F.col("_kn") <= budget_map[F.col("_lk")])
                )
                .drop("_lk", "_kn")
            )
        plan = plan.drop("_rn")
        return (
            plan.withColumn("status", F.lit(S.PROCESSING))
            .withColumn("leased_at", F.lit(_ts(now)))
            .withColumn("seq", F.lit(claim_seq))
        )

    def run_once(self, pipeline: str | Pipeline, now: float | None = None) -> dict:
        return self.run_many([pipeline], now=now)

    def run_many(
        self, pipelines: list[str | Pipeline], now: float | None = None
    ) -> dict:
        """One micro-batch over MANY pipelines: a single claim→dispatch→ack
        pass for every queue (per-queue demand enforced by a windowed rank),
        instead of a full log scan per pipeline.  At 1000-executor scale this
        is the difference between one shuffle per trigger and one per queue.

        Concurrency (multiple PipelineRunner threads on one manager):
        triggers run concurrently; compaction is exclusive — once the log
        is past `compact_max_files`, the trigger that sees it blocks new
        triggers, waits out the in-flight ones and rewrites the log, because
        a concurrent trigger's Spark jobs would otherwise read the exact
        files compaction unlinks.  Waiting (rather than skipping while any
        trigger is in flight) keeps runners that re-trigger back to back
        from starving it.  (Cross-INSTANCE compaction safety is the
        separate `compact_grace_s` contract.)
        """
        with self._trigger_cv:
            while self._compacting:
                self._trigger_cv.wait()
            self._active_triggers += 1
        try:
            stats = self._run_trigger(pipelines, now)
        finally:
            with self._trigger_cv:
                self._active_triggers -= 1
                self._trigger_cv.notify_all()
        # auto-compaction, exclusive vs this process's triggers
        if (
            self.compact_max_files is None
            or self.store.n_files() <= self.compact_max_files
        ):
            return stats
        with self._trigger_cv:
            if self._compacting:
                return stats  # another thread is already on it
            self._compacting = True
            while self._active_triggers:
                self._trigger_cv.wait()
        try:
            self.store.maybe_compact(
                self.compact_max_files,
                archive_succeeded=self.archive_succeeded,
                min_age_s=self.compact_grace_s,
            )
        finally:
            with self._trigger_cv:
                self._compacting = False
                self._trigger_cv.notify_all()
        return stats

    def _run_trigger(
        self, pipelines: list[str | Pipeline], now: float | None = None
    ) -> dict:
        now = time.time() if now is None else now
        stats = {"claimed": 0, "succeeded": 0, "retried": 0, "dead": 0}

        resolved = [
            self.pipelines[pl] if isinstance(pl, str) else pl for pl in pipelines
        ]
        seen_queues: dict[str, str] = {}
        for p in resolved:
            if p.queue in seen_queues and seen_queues[p.queue] != p.name:
                raise ValueError(
                    f"pipelines {seen_queues[p.queue]!r} and {p.name!r} both "
                    f"consume queue {p.queue!r} in one trigger — admission is "
                    "keyed by queue, so their settings would silently collide; "
                    "run them in separate triggers or merge the pipelines"
                )
            seen_queues[p.queue] = p.name
        # Two lock families guard the claim, acquired in one deterministic
        # global order (queue locks sorted, then ledger keys sorted —
        # deadlock-free because every trigger in every instance uses the
        # same order):
        #  1. the store's per-queue claim_lock, held across the due-read ->
        #     claim-commit span for EVERY admitted queue — the reference's
        #     bulk_dequeue_lock (redis/lock.ex:8-41): two instances can
        #     never both observe a job as due, so no queue (rate-limited or
        #     not) can be double-claimed;
        #  2. each rate-limited key's ledger lock across the whole
        #     remaining->claim->record span: with a SharedLedgerLimiter two
        #     app instances can't both read the same window budget and
        #     jointly overshoot (redis/bulk_dequeue.ex:196-224).
        # Snapshot the pause decision ONCE, before any lock is taken, and
        # reuse it for both the lock set and the demand loop.  is_paused()
        # consults a durable store flag another instance can flip at any
        # moment; re-reading it inside the locked span could admit a queue
        # whose claim_lock this trigger never acquired (resume raced between
        # the two reads), silently reopening the double-claim window the
        # lock exists to close.
        paused = {p.name: self.is_paused(p) for p in resolved}
        active_queues = sorted(
            {p.queue for p in resolved if not paused[p.name]}
        )
        limited_keys = sorted(
            {
                p.limit_key
                for p in resolved
                if p.rate_limit_count is not None and not paused[p.name]
            }
        )
        with ExitStack() as ledger_locks:
            for q in active_queues:
                ledger_locks.enter_context(self.store.claim_lock(q))
            for key in limited_keys:
                ledger_locks.enter_context(self.limiter.lock(key))

            # admission per pipeline (producer.ex:131-146 demand sizing + the
            # sliding-window governor, redis/bulk_dequeue.ex:196-224)
            demands: dict[str, tuple[Pipeline, int]] = {}
            # Pipelines sharing a rate_limit_key must jointly respect one
            # window budget (queue/manager.ex:285-287).  Each pipeline is
            # admitted up to min(demand, key budget); when a key spans >1
            # admitted queue, the JOINT cap is enforced inside the claim plan
            # (see claim_plan), so an empty queue can't burn budget its
            # sibling needed.
            key_remaining: dict[str, int] = {}
            key_queues: dict[str, list[str]] = {}
            for p in resolved:
                if paused[p.name]:  # same snapshot the lock set was built from
                    continue
                demand = p.max_demand * (p.batch_size or 1)
                if p.rate_limit_count is not None:
                    key = p.limit_key
                    if key not in key_remaining:
                        key_remaining[key] = self.limiter.remaining(
                            key, p.rate_limit_count, p.rate_limit_scale or 1000, now
                        )
                    demand = min(demand, key_remaining[key])
                    if demand > 0:
                        key_queues.setdefault(key, []).append(p.queue)
                if demand > 0:
                    demands[p.queue] = (p, demand)
            if not demands:
                return stats
            shared_budgets = {
                q: (key, key_remaining[key])
                for key, qs in key_queues.items()
                if len(qs) > 1
                for q in qs
            }

            # claim append (≙ MULTI {ZADD processing, LTRIM},
            # bulk_dequeue.ex:242-295).  Claim rows are bounded by Σ demand
            # (the reference's own bound — its whole claim travels through
            # one Redis reply), so the plan is collected to the driver once
            # (Arrow keeps timestamps UTC) and committed as ONE file through
            # the driver-sized append path, still under the claim locks: the
            # claim is durable before any worker runs, an EMPTY claim commits
            # nothing (a zero-row file would wake any streaming reader of
            # the log for nothing), and dispatch reads exactly the claim
            # file, not a full log scan.
            claim_seq = self.store.next_seq()
            claim_t0 = time.perf_counter()
            claim_df = self.claim_plan(
                {q: d for q, (_, d) in demands.items()}, now, claim_seq, shared_budgets
            )
            claim_rows = arrow_to_rows(claim_df.toArrow())
            if not claim_rows:
                return stats
            claim_paths = self.store.append_rows(claim_rows)
            # producer.ex:156 pulled-count line (debug-gated)
            self.logger.debug(
                f"[{','.join(sorted(demands))}] [Producer] pulled "
                f"{len(claim_rows)} events from source",
                {},
            )
            claimed = self.spark.read.schema(S.JOB_LOG_SCHEMA).parquet(*claim_paths)
            per_queue: dict[str, int] = {}
            for r in claim_rows:
                per_queue[r["queue"]] = per_queue.get(r["queue"], 0) + 1
            claimed_rows = len(claim_rows)
            stats["claimed"] = claimed_rows
            # [:queue, :dequeue] telemetry (producer.ex:158-164), only for
            # pipelines that didn't opt out (pipeline.ex `instrument: false`)
            instrumented = sorted(
                q for q in per_queue if demands[q][0].instrument
            )
            if instrumented:
                claim_ms = (time.perf_counter() - claim_t0) * 1000.0
                self.telemetry.emit(
                    ("queue", "dequeue"),
                    {
                        "count": sum(per_queue[q] for q in instrumented),
                        "latency_ms": claim_ms,
                    },
                    {
                        "queues": instrumented,
                        # per-queue breakdown so queue-scoped (per-pipeline)
                        # handlers report THEIR counts, not the trigger total
                        # (reference per-pipeline event names carry
                        # per-pipeline measurements)
                        "per_queue": {
                            q: {"count": per_queue[q], "latency_ms": claim_ms}
                            for q in instrumented
                        },
                    },
                )
            # the ledger records CLAIMS, including idempotence-skipped
            # redeliveries: the reference records every dequeued job's md5
            # into the limit zset (bulk_dequeue.ex:242-247), redeliveries
            # included — the window governs dequeue rate, not worker runs
            for q, n in per_queue.items():
                if demands[q][0].rate_limit_count is not None:
                    self.limiter.record(demands[q][0].limit_key, n, now)

        # dispatch on executors; results land in a scratch table so workers
        # run exactly one pass (cached lineage would re-execute them whenever
        # a later log append invalidates the cache).  Pipelines that share a
        # dispatch mode run in one pass; distinct batch_sizes each get one.
        single_queues = [q for q, (p, _) in demands.items() if not p.batch_size]
        bulk_sizes = sorted(
            {p.batch_size for p, _ in demands.values() if p.batch_size}
        )
        # idempotence: claimed jids whose dispatch already completed (marker
        # present = crash happened between dispatch and ack) skip the worker
        skipped_jids: set[str] = set()
        if self.idempotence:
            skipped_jids = {
                c["jid"]
                for c in claim_rows
                if self.store.has_flag(f"processed/{c['jid']}")
            }
            if skipped_jids:
                claimed = claimed.filter(~F.col("jid").isin(list(skipped_jids)))

        # with idempotence on, markers are written from the EXECUTOR at
        # completion time (workers._write_marker) — marker-before-result, so
        # a crash between the worker's side effects and the ack still leaves
        # the marker for the redelivery to skip
        marker_dir = self.store.processed_marker_dir() if self.idempotence else None
        parts = []
        if single_queues:
            parts.append(
                dispatch_single(
                    claimed.filter(F.col("queue").isin(single_queues)),
                    self.registry,
                    self.dispatch_timeout_s,
                    marker_dir=marker_dir,
                )
            )
        for bs in bulk_sizes:
            qs = [q for q, (p, _) in demands.items() if p.batch_size == bs]
            parts.append(
                dispatch_bulk(
                    claimed.filter(F.col("queue").isin(qs)),
                    self.registry,
                    bs,
                    self.dispatch_timeout_s,
                    marker_dir=marker_dir,
                )
            )
        results = parts[0]
        for extra in parts[1:]:
            results = results.unionByName(extra)
        # one action executes the workers exactly once; the result set is
        # bounded by the claim (≤ Σ demand), so it collects
        if len(skipped_jids) == len(claim_rows):
            result_rows: dict[str, dict] = {}  # nothing left to dispatch
        else:
            result_rows = {r["jid"]: r for r in results.collect()}

        # ack / retry / DLQ append (system_event worker + manager.ex:121-193)
        # — driver-side over the bounded claim; the only cost is one pyarrow
        # file commit (append_rows), no Spark jobs
        ack_seq = self.store.next_seq()
        now_dt = _ts(now)
        ack_rows = []
        worker_ms_by_q: dict[str, float] = {}
        for c in claim_rows:
            r = result_rows.get(c["jid"])
            # a marker-skipped job already ran its side effects: ack succeeded
            ok = bool(r and r["ok"]) or c["jid"] in skipped_jids
            if r:
                worker_ms_by_q[c["queue"]] = worker_ms_by_q.get(c["queue"], 0.0) + (
                    r["duration_ms"] or 0.0
                )
            new_rc = c["retry_count"] + 1
            if ok:
                status, rc_out, outcome = S.SUCCEEDED, c["retry_count"], "succeeded"
                # worker.ex:69 Consumer processed-event line (debug-gated)
                self.logger.debug(
                    f"{c['queue']} [Consumer] processed event: "
                    f"{c['class']} - {c['jid']}",
                    {},
                )
            elif new_rc > self.max_retries:
                status, rc_out, outcome = S.DEAD, new_rc, "dead"
                # queue/manager.ex:129 max-retries line
                self.logger.info(
                    f"Max retries on job {c['jid']} exceeded", {}
                )
            else:
                status, rc_out, outcome = S.RETRY, new_rc, "retried"
            if not ok:
                # worker.ex:94 Consumer failure line with job metadata
                self.logger.error(
                    f"{c['queue']} [Consumer] failed with error: "
                    f"{(r['error_message'] if r else 'no dispatch result')}",
                    {"jid": c["jid"], "class": c["class"], "queue": c["queue"]},
                )
            stats[outcome] += 1
            retry_at = None
            if status == S.RETRY:
                delay = backoff_ms(
                    new_rc, self.backoff_initial_ms, self.backoff_max_ms
                ) / 1000.0
                # no int() truncation: sub-second backoff must keep
                # retry_at strictly in the future relative to `now`
                retry_at = _ts(now + delay)
            err = None if ok else (r["error_message"] if r else "no dispatch result")
            ack_rows.append(
                {
                    "jid": c["jid"],
                    "queue": c["queue"],
                    "class": c["class"],
                    "function": c["function"],
                    "args": c["args"],
                    "context": c["context"],
                    "status": status,
                    "retry_count": rc_out,
                    "enqueued_at": c["enqueued_at"],
                    "scheduled_at": c["scheduled_at"],
                    "leased_at": now_dt,
                    "retry_at": retry_at,
                    "finished_at": now_dt if ok else None,
                    "failed_at": None if ok else now_dt,
                    "error_message": err,
                    "error_backtrace": None
                    if ok
                    else (r["error_backtrace"] if r else None),
                    "seq": ack_seq,
                }
            )
        self.store.append_rows(ack_rows)
        if self.idempotence:
            # ack is durable: markers served their purpose, keep the set
            # bounded by the crash window
            for row in ack_rows:
                if row["status"] == S.SUCCEEDED:
                    self.store.clear_flag(f"processed/{row['jid']}")

        # [:pipeline, :worker] telemetry (worker.ex:37-42), instrument-gated:
        # jobs AND durations aggregate over instrumented queues only — an
        # opted-out pipeline's metrics must not leak into the event
        if instrumented:
            # jobs = DISPATCHED work only: idempotence-skipped redeliveries
            # never ran a worker, so they must not inflate worker telemetry
            # (they do appear in [:queue,:dequeue] — they were claimed)
            dispatched_by_q: dict[str, int] = {}
            for c in claim_rows:
                if c["jid"] not in skipped_jids:
                    dispatched_by_q[c["queue"]] = (
                        dispatched_by_q.get(c["queue"], 0) + 1
                    )
            self.telemetry.emit(
                ("pipeline", "worker"),
                {
                    "duration_ms": sum(
                        worker_ms_by_q.get(q, 0.0) for q in instrumented
                    ),
                    "jobs": sum(dispatched_by_q.get(q, 0) for q in instrumented),
                },
                {
                    "queues": instrumented,
                    "per_queue": {
                        q: {
                            "jobs": dispatched_by_q.get(q, 0),
                            "duration_ms": worker_ms_by_q.get(q, 0.0),
                        }
                        for q in instrumented
                    },
                },
            )

        return stats

    def backoff_s(self, retry_count: int) -> float:
        return backoff_ms(retry_count, self.backoff_initial_ms, self.backoff_max_ms) / 1000.0

    # ------------------------------------------------------------------
    # control (ST6): pause/resume — pipeline/event/producer.ex:25-43
    # ------------------------------------------------------------------

    def pause(self, name: str, temporary: bool = True) -> None:
        """Stop admission for a pipeline.  `temporary=True` (the reference
        default, pipeline/control/options.ex:32-59) pauses this manager
        only; `temporary=False` also persists a control flag on the store
        (≙ the Redis `<ns>:pipeline:<name>:paused` string,
        pipeline/event.ex:41-55,69-70) so the pause survives restarts and
        applies to every manager/stream sharing the store."""
        self.pipelines[name].paused = True
        if not temporary:
            self.store.set_flag(f"paused/{name}")

    def resume(self, name: str, temporary: bool = True) -> None:
        """`temporary=True` resumes this manager only (a persistent flag, if
        any, re-pauses on restart — reference semantics); `temporary=False`
        also clears the durable flag."""
        self.pipelines[name].paused = False
        if not temporary:
            self.store.clear_flag(f"paused/{name}")

    def pause_all(self, temporary: bool = True) -> None:
        """Pause every configured pipeline — flume.ex:63-65 (`pause_all`
        maps pause over Config.pipeline_names())."""
        for name in self.pipelines:
            self.pause(name, temporary=temporary)

    def resume_all(self, temporary: bool = True) -> None:
        """Resume every configured pipeline — flume.ex:67-69."""
        for name in self.pipelines:
            self.resume(name, temporary=temporary)

    def pending_jobs_count(
        self,
        pipeline_names: list[str] | None = None,
        now: float | None = None,
    ) -> int:
        """In-flight job count across the named pipelines (default: all) —
        flume.ex:80-83 / pipeline/event.ex:57-64 sum live worker processes
        per consumer supervisor.  The engine analog: jobs in 'processing'
        whose lease hasn't expired — once the lease lapses no worker holds
        the job (it is due for redelivery), exactly when the reference's
        worker process is gone.  Unknown names count 0, matching the
        job_counts example in flume.ex (`["queue-1", "not-a-queue-name"]`).
        """
        now = time.time() if now is None else now
        names = list(self.pipelines) if pipeline_names is None else pipeline_names
        queues = {self.pipelines[n].queue for n in names if n in self.pipelines}
        if not queues:
            return 0
        lease_horizon = F.lit(_ts(now - self.visibility_timeout_s))
        return (
            self.store.current(prefilter=F.col("queue").isin(list(queues)))
            .filter(
                (F.col("status") == S.PROCESSING)
                & (F.col("leased_at") >= lease_horizon)
            )
            .count()
        )

    def is_paused(self, p: Pipeline) -> bool:
        """Pause gate read at trigger time: node-local flag OR the durable
        control flag (so a pause from another manager instance holds)."""
        return p.paused or self.store.has_flag(f"paused/{p.name}")
