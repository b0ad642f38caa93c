"""Streaming mode — Structured Streaming over the batch incremental engine.

Reference: the qvarnmr-worker loop (``/root/reference/qvarnmr/scripts/
worker.py:76-89``) polls the notification feed, processes a batch of changes,
acks them, and either exits when drained (test mode) or sleeps 0.5 s and
repeats (``--forever``). Its delivery contract is at-least-once with an
in-RAM retry ladder (``processor.py:282-304``).

Spark re-expression (SURVEY §2.7 T1/T6):

- the notification feed is a **file-based streaming source** (JSON lines per
  the reference's notification schema, ``processor.py:17-27``);
- each micro-batch is applied through :meth:`IncrementalEngine.apply_changes`
  inside ``foreachBatch`` — the whole worker loop body becomes one call;
- **ack = checkpoint commit**: the checkpointLocation records which files
  were consumed, so restart resumes exactly after the last completed batch —
  at-least-once across crashes (a batch interrupted mid-apply re-runs;
  each batch is one state-store transaction, so the interrupted run
  published nothing and the re-run applies it exactly once);
- drain-and-exit (the reference's non-forever mode) is
  ``trigger(availableNow=True)``; the forever mode is a processing-time
  trigger;
- the retry ladder / drop-after-3 becomes a **dead-letter table**:
  notifications whose resource no longer exists in the source at apply time
  (the reference's "not-yet-replicated read", T11, ``processor.py:346-355``)
  are recorded in ``{target}__dead_letter`` rather than silently producing
  nothing.

At cluster scale this is the standard shape: the feed directory becomes a
Kafka topic / Delta CDF, ``foreachBatch`` stays identical, and state tables
become Delta — nothing in the engine logic changes.

Single-writer safety (T9): within one submitted application the streaming
checkpoint lock serializes all commits; against a SECOND independently
submitted application sharing the state dir, take :meth:`StreamingMaintainer.
lease` (reference keep-alive/steal-after-timeout, ``listeners.py:56-153``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from qvarn_mr_spark.operators.incremental import IncrementalEngine

#: Notification schema (reference ``processor.py:17-27``): ``seq`` stands in
#: for the feed's ``last_modified`` ordering ([qvarn]
#: listener_resource.py:207-214) — used only to resolve multiple changes to
#: the same id within one batch.
NOTIFICATION_SCHEMA = ("resource_type string, resource_change string, "
                       "resource_id string, seq long")


def read_change_feed(spark: SparkSession, feed_dir: str) -> DataFrame:
    """Streaming DataFrame over a directory of JSON-lines notification files.

    ``maxFilesPerTrigger`` keeps micro-batches bounded — the Spark analogue
    of the reference's resync chunking (``resync.py:100``)."""
    return (spark.readStream.schema(NOTIFICATION_SCHEMA)
            .option("maxFilesPerTrigger", 16)
            .json(feed_dir))


@dataclass
class StreamingMaintainer:
    """Drives an :class:`IncrementalEngine` from a streaming notification
    feed — the Spark form of the qvarnmr-worker process."""

    inc: IncrementalEngine
    feed_dir: str
    checkpoint_dir: str

    def _apply(self, batch: DataFrame, batch_id: int) -> None:
        # an empty trigger batch publishes nothing (apply_changes commits
        # only the tables a batch changes), like the reference's idle poll
        self.inc.apply_changes(batch)

    def run_available(self) -> None:
        """Drain-and-exit: process everything currently in the feed, then
        stop — the reference worker's default (non ``--forever``) mode."""
        q = (read_change_feed(self.inc.store.spark, self.feed_dir)
             .writeStream
             .foreachBatch(self._apply)
             .option("checkpointLocation", self.checkpoint_dir)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()

    def lease(self, interval: float = 10.0, timeout: float = 30.0):
        """Single-writer lease over the state directory — guards against a
        second independently submitted worker (T9). Use as
        ``with m.lease(): m.run_with_resync()``; call ``keep_alive()``
        from long loops."""
        from qvarn_mr_spark.streaming.lease import WorkerLease
        return WorkerLease(self.inc.store.root, interval=interval,
                           timeout=timeout)

    def run_with_resync(self, chunks: int = 8) -> list[str]:
        """The reference worker's startup sequence (``scripts/worker.py:
        60-77``): process the live backlog, chunk-resync version-changed
        handlers while draining newly-arrived notifications between chunks
        (never suspending the live view for the whole backfill), then drain
        once more. Returns the resynced targets."""
        self.run_available()
        changed = self.inc.resync_interleaved(drain=self.run_available,
                                              chunks=chunks)
        self.run_available()
        return changed

    def start_forever(self, interval: str = "1 second"):
        """Continuous mode (the reference's ``--forever`` / 0.5 s poll).
        Returns the StreamingQuery; caller owns stop()."""
        return (read_change_feed(self.inc.store.spark, self.feed_dir)
                .writeStream
                .foreachBatch(self._apply)
                .option("checkpointLocation", self.checkpoint_dir)
                .trigger(processingTime=interval)
                .start())
