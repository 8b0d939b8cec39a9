"""PipelineRunner — live job processing via Structured Streaming.

Reference topology: per-pipeline GenStage chain (Producer → ProducerConsumer
→ ConsumerSupervisor → Workers) polling Redis every 2 s with demand-driven
fetch (lib/flume/pipeline/event/producer.ex:16-17,117-152).

Spark shape: one streaming query per pipeline.  `readStream` over the job
log is the arrival signal; each micro-batch invokes the same transactional
`QueueManager.run_once` the batch path uses (claim → dispatch → ack).
Admission control:
- poll cadence    ≙ Trigger.ProcessingTime (default 2 s, like @default_interval)
- demand replenishment ≙ the poll loop re-triggering at once while a claim
                    finds work (producer.ex:117-152,180-191)
- max_demand      ≙ the claim LIMIT inside run_once
- maxFilesPerTrigger bounds arrival processing per micro-batch
- rate limiting   ≙ the driver-side sliding-window governor in run_once

Exactly-once: Spark checkpoints the stream progress; run_once itself is
at-least-once per job (claim records + visibility timeout reclaim), the
same guarantee the reference provides (processing zset + requeue —
SURVEY.md §2.8 ST2).
"""

from __future__ import annotations

import threading
import traceback

from pyspark.sql import SparkSession

from flume_spark.queue.manager import Pipeline, QueueManager
from flume_spark.queue.schema import JOB_LOG_SCHEMA
from flume_spark.sources import read_stream


class PipelineRunner:
    """Runs one pipeline as a streaming query over the job log, plus a
    poll timer (≙ the reference's GenStage producer poll, producer.ex:16-17,
    and the scheduler loop, scheduler.ex:25-57).

    Why both: the file stream only fires on NEW arrivals, but work can
    become due with no arrival at all — a scheduled job reaching its
    `scheduled_at`, a retry clearing its backoff, pending jobs after a
    resume.  The poll timer drains those; the stream is the low-latency
    wake-up for fresh enqueues.  Both paths run the same guarded trigger,
    serialized by `self._lock` (the lock's real job: foreachBatch thread vs
    poll thread vs stop()'s drain — Spark already serializes foreachBatch
    with itself).

    Wake-up rule (the reference producer's demand replenishment: it fetches
    again as soon as finished jobs return demand and waits its poll
    interval only after an empty fetch, producer.ex:117-152,180-191): a
    trigger from either path that claims at least one job wakes the poll
    loop, which triggers again at once; after an empty, paused or stopped
    tick it waits `poll_seconds`.  A trigger that raises is logged through
    the manager's logger and the loop keeps polling, so scheduled, retry
    and resumed jobs still drain.  Under load the poll loop runs most
    triggers and stream batches wait on the lock.
    """

    def __init__(
        self,
        spark: SparkSession,
        manager: QueueManager,
        pipeline: Pipeline,
        checkpoint_dir: str,
        trigger_seconds: float = 2.0,
        max_files_per_trigger: int = 100,
        poll_seconds: float | None = None,
    ):
        self.spark = spark
        self.manager = manager
        self.pipeline = pipeline
        self.checkpoint_dir = checkpoint_dir
        self.trigger_seconds = trigger_seconds
        self.max_files_per_trigger = max_files_per_trigger
        # poll cadence defaults to the trigger interval; pass 0/None-able
        # knob explicitly to tune (reference scheduler polls at 10 s)
        self.poll_seconds = trigger_seconds if poll_seconds is None else poll_seconds
        self.query = None
        self._lock = threading.Lock()
        self._stop_event = threading.Event()
        self._wake = threading.Event()  # set by a trigger that found work
        self._poll_thread: threading.Thread | None = None
        self.batches_run = 0

    def _tick(self) -> None:
        with self._lock:
            if self._stop_event.is_set():
                return
            if self.manager.is_paused(self.pipeline):
                return  # F3 pause gate (producer.ex:111-115): skip fetch
            claimed = self.manager.run_once(self.pipeline)["claimed"]
            self.batches_run += 1
        if claimed:
            self._wake.set()  # demand replenished: fetch again at once

    def _on_batch(self, batch_df, batch_id: int) -> None:
        # The arriving records are only the wake-up signal; run_once reads
        # authoritative state from the store so replays are harmless.
        self._tick()

    def _poll_loop(self) -> None:
        while True:
            self._wake.wait(self.poll_seconds)
            self._wake.clear()
            if self._stop_event.is_set():
                return
            try:
                self._tick()
            except Exception as exc:  # noqa: BLE001 — keep polling
                self.manager.logger.error(
                    f"{self.pipeline.queue} [Producer] trigger failed: "
                    f"{type(exc).__name__}: {exc}",
                    {
                        "pipeline": self.pipeline.name,
                        "backtrace": traceback.format_exc(limit=5),
                    },
                )

    def start(self):
        self._stop_event.clear()
        self._wake.clear()
        stream = read_stream(
            self.spark,
            self.manager.store.path,
            JOB_LOG_SCHEMA,
            max_files_per_trigger=self.max_files_per_trigger,
        )
        self.query = (
            stream.writeStream.queryName(f"flume_{self.pipeline.name}")
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(processingTime=f"{self.trigger_seconds} seconds")
            .foreachBatch(self._on_batch)
            .start()
        )
        if self.poll_seconds:
            self._poll_thread = threading.Thread(
                target=self._poll_loop,
                daemon=True,
                name=f"flume-poll-{self.pipeline.name}",
            )
            self._poll_thread.start()
        return self.query

    def stop(self) -> None:
        """Graceful drain: future ticks become no-ops, the poll thread
        exits, any IN-FLIGHT trigger finishes (we wait on its lock), then
        the streaming query stops.  A micro-batch that starts after the
        drain sees the stop event and does nothing, so no claim is left
        between claim commit and ack by a routine stop (ST6 pause semantics —
        in-flight work completes first)."""
        self._stop_event.set()
        self._wake.set()  # end the poll loop's wait now
        if self._poll_thread is not None:
            self._poll_thread.join(timeout=30)
            self._poll_thread = None
        with self._lock:
            pass  # barrier: wait out an in-flight trigger body
        if self.query is not None:
            self.query.stop()

    def await_idle(self, timeout_s: float = 30.0) -> None:
        """Block until every arrival so far has been processed, bounded by
        `timeout_s` (processAllAvailable has no native timeout — it runs on
        a helper thread we join)."""
        if self.query is None:
            raise RuntimeError("runner not started — call start() first")
        waiter = threading.Thread(target=self.query.processAllAvailable, daemon=True)
        waiter.start()
        waiter.join(timeout_s)
        if waiter.is_alive():
            raise TimeoutError(f"stream not idle after {timeout_s}s")
