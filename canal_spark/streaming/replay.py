"""Structured Streaming replay: the live CDC tail.

Maps the reference's server loop onto Structured Streaming:

- The file source tailing binlog segments = LocalBinLogConnection.dump's
  file queue (parse/.../mysql/LocalBinLogConnection.java:81-218);
  ``maxFilesPerTrigger`` is the store's batch-admission knob
  (MemoryEventStoreWithBuffer batchSize/MEMSIZE,
  store/.../MemoryEventStoreWithBuffer.java:315-356).
- The checkpoint (offsets/ + commits/) replaces the meta cursors
  (FileMixedMetaManager.java:43-151) and position managers: a crash replays
  the last uncommitted epoch — the get/rollback semantics of
  CanalServerWithEmbedded:470-490 — and the LakeTable's batch ledger +
  LSN-fenced MERGE turn that at-least-once redo into table-level
  exactly-once.
- Transaction-boundary batching: each micro-batch is cut at the last
  complete TRANSACTIONEND; the incomplete tail carries to the next batch
  via a parquet spill (EventTransactionBuffer.java:72-142 + ack-on-txn-end,
  MemoryEventStoreWithBuffer.java:366-377).
- Micro-batch apply = one foreachBatch: the MQ worker loop
  (CanalMQStarter.worker, server/.../CanalMQStarter.java:152-216) collapsed
  into a deterministic function.

The source reads the WIRE shape (before/after as JSON strings, fixed source
schema) and decodes per micro-batch against the live schema — required
because a stream's schema cannot change mid-flight while the log's can
(SURVEY.md §1.4).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from canal_spark.metrics import MetricsLog, batch_stats
from canal_spark.operators.decode import wire_schema
from canal_spark.operators.transactions import TxnTailState, split_at_txn_boundary
from canal_spark.pipeline import apply_events, prepare_envelope
from canal_spark.table.lake import LakeTable

# the fixed wire envelope: everything the generator writes, images as JSON
# plus native pk columns (FlatMessage pkNames/data split — older wire
# fixtures without them read as NULL and fall back to a JSON key probe)
_ENVELOPE_DDL = (
    "entry_type string, event_type string, gtid_seq long, binlog_file string,"
    " binlog_pos long, server_id long, execute_ts timestamp,"
    " schema_name string, table_name string, txn_id string, is_ddl boolean,"
    " sql string, before string, after string,"
    " pk_before string, pk_after string"
)


class StreamingReplay:
    def __init__(
        self,
        spark: SparkSession,
        log_dir: str,
        table: LakeTable,
        checkpoint_dir: str,
        table_regex: str | None = None,
        max_files_per_trigger: int = 1,
        salt_partitions: int | None = None,
        txn_aligned: bool = True,
        start=None,
        views: list | None = None,
        message_sinks: list | None = None,
        maintenance_every: int | None = None,
        max_files_per_bucket: int = 8,
        snapshots_keep: int = 4,
        dlq_dir: str | None = None,
    ):
        self.spark = spark
        self.log_dir = log_dir
        self.table = table
        self.checkpoint_dir = os.path.abspath(checkpoint_dir)
        self.table_regex = table_regex
        self.max_files_per_trigger = max_files_per_trigger
        self.salt_partitions = salt_partitions
        self.txn_aligned = txn_aligned
        # JoinedView sinks maintained inside the same foreachBatch
        # (ES-adapter denormalized sync — see canal_spark/views.py)
        self.views = list(views or [])
        # WireMessageSink file topics published per epoch (MQ delivery
        # analog, canal_spark/sinks.py) — epoch-keyed directories make
        # redelivery a no-op in either crash order vs the merge commit
        self.message_sinks = list(message_sinks or [])
        # auto-maintenance cadence (VERDICT r02 next #5): every N data-bearing
        # epochs, compact fragmented buckets + expire snapshots on the sink
        # AND every view sink — bounded files/tombstones over a long tail
        self.maintenance_every = maintenance_every
        self.max_files_per_bucket = max_files_per_bucket
        self.snapshots_keep = snapshots_keep
        # dead-letter directory: poison winners (unroutable key / corrupt
        # wire payload) are preserved there per epoch instead of silently
        # dropping or upserting NULLs (pipeline.apply_dml_range), and each
        # metrics row reports the count — the skip-and-log posture of the
        # reference's adapters (RdbSyncService.skipDupException) with the
        # evidence kept queryable
        self.dlq_dir = dlq_dir
        self._data_epochs = 0
        # bootstrap-without-checkpoint start (positions.StartPosition):
        # applied as a per-batch boundary predicate; events before it are
        # dropped before any expensive work (the checkpoint, once written,
        # governs subsequent resumes — same precedence as the reference's
        # findStartPositionInternal: cursor first, configured start second)
        self.start_position = start
        self.tail_state = TxnTailState(
            spark, os.path.join(self.checkpoint_dir, "txn_tail"))
        self.metrics = MetricsLog(
            os.path.join(self.checkpoint_dir, "metrics", "batches.jsonl"))

    # ------------------------------------------------------------ source
    def _source(self, log_dir: str) -> DataFrame:
        """One file stream over a binlog directory, in file-name order."""
        from pyspark.sql.types import _parse_datatype_string

        return (
            self.spark.readStream.schema(_parse_datatype_string(_ENVELOPE_DDL))
            .option("maxFilesPerTrigger", self.max_files_per_trigger)
            .option("pathGlobFilter", "mysql-bin.*.parquet")
            .option("latestFirst", "false")
            .parquet(log_dir)
        )

    def _read_stream(self) -> DataFrame:
        return self._source(self.log_dir)

    # ------------------------------------------------------- batch apply
    def _apply_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        t0 = time.time()
        if self.start_position is not None:
            batch_df = batch_df.where(self.start_position.predicate())
        # keep txn markers: the boundary split needs TRANSACTIONEND rows
        ev = prepare_envelope(batch_df, table_regex=self.table_regex)
        complete, tail, release = self._release(ev)

        complete = complete.persist()
        try:
            # ONE aggregate for rowdata count + lineage + lag timestamp
            # (was three separate actions per epoch, VERDICT r03 wrong #3)
            n_rows, lineage, max_ts = batch_stats(complete,
                                                  self._lineage_key())
            if not n_rows:
                lineage = []
            stats = self._apply(complete, epoch_id)
            if n_rows:
                for s in self.message_sinks:
                    s.publish(complete, f"{epoch_id:09d}")
            # tail spill AFTER the merge committed: a crash in between
            # replays the epoch (ledger no-op) and rebuilds the same tail
            if tail is not None:
                self.tail_state.save(tail)
        finally:
            complete.unpersist()

        maint = self._maybe_maintain(n_rows)
        self.metrics.append({
            **({"maintenance": maint} if maint else {}),
            "epoch": epoch_id,
            "rows": n_rows,
            "events_applied": stats.events,
            "quarantined": sum(m.get("quarantined", 0) for m in stats.merges),
            "ranges": stats.ranges,
            "ddls": stats.ddls,
            **release,
            "lag_sec": (
                time.time() - max_ts.timestamp()
                if max_ts is not None else None
            ),
            "lineage": lineage,
            "batch_sec": time.time() - t0,
            "table_version": self._sink_version(),
        })

    # ------------------------------------------------ release hooks
    # (overridden by GroupStreamingReplay with the N-source barrier)
    def _release(self, ev: DataFrame) -> tuple[DataFrame, DataFrame | None,
                                                dict]:
        """(complete, tail, metrics fields): the events this epoch applies,
        the incomplete tail to carry (None: nothing carries) and the
        release point for the metrics row."""
        if not self.txn_aligned:
            return ev, None, {"cut_lsn": None}
        complete, tail, cut = split_at_txn_boundary(self.tail_state.attach(ev))
        return complete, tail, {"cut_lsn": cut}

    def _lineage_key(self):
        """Lineage grouping column; None groups by ``binlog_file``."""
        return None

    def _tail_lsn(self, tail: DataFrame) -> DataFrame:
        """The carried tail as ``flush_tail`` applies and publishes it."""
        return tail

    # --------------------------------------------------- sink hooks
    # (overridden by MirrorStreamingReplay to fan into a LakeDatabase)
    def _apply(self, complete: DataFrame, epoch_id: int | None):
        # epoch_id None = tail flush: LSN fence alone provides idempotence
        return apply_events(
            complete, self.table,
            batch_id=None if epoch_id is None else f"epoch-{epoch_id}",
            salt_partitions=self.salt_partitions,
            wire=True,
            views=self.views,
            dlq=self.dlq_dir,
        )

    def _sink_version(self):
        return self.table.version

    def _maintain_targets(self) -> list:
        return [("table", self.table)] + [
            (f"view{i}", v.table) for i, v in enumerate(self.views)]

    def _maybe_maintain(self, n_rows: int) -> dict | None:
        """Every ``maintenance_every`` data-bearing epochs, run
        LakeTable.maintain on the sink and each view sink. A crash right
        after maintenance is safe: the epoch already committed (ledger), and
        maintenance itself only rewrites/drops files — replaying it is
        idempotent."""
        if not self.maintenance_every or not n_rows:
            return None
        self._data_epochs += 1
        if self._data_epochs % self.maintenance_every:
            return None
        return {label: t.maintain(
            max_files_per_bucket=self.max_files_per_bucket,
            snapshots_keep=self.snapshots_keep)
            for label, t in self._maintain_targets()}

    # -------------------------------------------------------------- run
    def start(self, available_now: bool = True):
        writer = (
            self._read_stream()
            .writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime="1 second")
        return writer.start()

    def run_to_completion(self, timeout_sec: float = 600.0) -> None:
        """Process everything currently in the log, then stop (one 'round'
        of tailing — used by tests and the benchmark)."""
        q = self.start(available_now=True)
        q.awaitTermination(timeout_sec)
        if q.isActive:
            q.stop()

    def flush_tail(self) -> None:
        """End-of-log flush: apply the carried tail even without its END
        marker (shutdown path — reference flushes the txn buffer on stop,
        EventTransactionBuffer reset)."""
        tail = self.tail_state.load()
        if tail is None:
            return
        tail = self._tail_lsn(tail)
        # no batch id: the LSN fence alone makes a re-flush idempotent, and a
        # constant id would wrongly skip flushes of NEW tails in later runs
        self._apply(tail, epoch_id=None)
        if self.message_sinks:
            # key the topic epoch by the tail's own max LSN: re-flushing the
            # SAME tail no-ops, a later run's new tail gets a fresh epoch
            hi = tail.agg(F.max("lsn")).collect()[0][0]
            if hi is not None:
                # "tail-" sorts after the zero-padded numeric epochs, and a
                # tail is by construction the log's last events
                for s in self.message_sinks:
                    s.publish(tail, f"tail-{hi}")
        self.tail_state.clear()
