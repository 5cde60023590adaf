"""The hot path as a Structured Streaming query (SURVEY.md §3.2 Spark shape).

One streaming query per sync rule. The stream (`process_batch`) and the
resolver tick (`retry_pass`) share one apply path:
  _decode (relevance, payload validity, from_json, the rule's condition)
  -> apply_changes { pin once; MERGE the applied rows; append one ack frame }

The ack frame holds one row per change, like the reference's
sync_data_status: applied -> OK; malformed payload -> ERR "malformed
payload" (a dead letter, never merged or retried); filtered out by the
rule's condition -> OK (nothing to apply; unacked it would read as
pending forever); rejected by the target (failure_policy) -> ERR with its
same-key followers BLK, until retry_pass lands them.

What Spark gives us for free vs the reference:
- sync_polled + bootstrap recovery (O3/O7) -> checkpoint/offset log
  (sync/DataPoller.scala:41-78, StateManger.scala:85-90);
- adaptive poll pacing (S5, DataPoller.scala:64-69) -> trigger policy +
  maxFilesPerTrigger admission;
- bounded in-flight queues (QueueManager.scala:20-22) -> micro-batch
  admission control.
Cross-batch per-key ordering comes from merge_snapshot's _last_id
watermark (an older change can never clobber a newer row), not from
physical ordered delivery.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from dbsync_spark.operators.apply import valid_payload
from dbsync_spark.operators.retry import key_hash, run_pass
from dbsync_spark.operators.route import SyncRule, condition
from dbsync_spark.schemas import (STATUS_BLK, STATUS_ERR, STATUS_OK,
                                  SYNC_STATUS_SCHEMA)
from dbsync_spark.sinks.table import BucketedTable, ParquetTable


# non-retryable dead-letter marker shared by the ack writer and the
# resolver predicate (a malformed payload can never converge)
MALFORMED_MSG = "malformed payload"
# ack message of a change the rule's condition filtered out (acked OK)
FILTERED_MSG = "filtered by sync condition"


class SyncPipeline:
    """Streaming apply of one sync rule onto one target table.

    `target_layout` picks the target store: "bucketed" (default — hash-
    partitioned on the merge key; a batch MERGE touches only the buckets
    its keys hash into, so per-batch cost is independent of target size)
    or "snapshot" (full-rewrite versioned ParquetTable — only for small
    dimension targets / time-travel depth). Both produce identical merged
    state (parity-tested); only the physical write pattern differs."""

    def __init__(self, spark: SparkSession, rule: SyncRule,
                 payload_schema: StructType, log_path: str, target_path: str,
                 status_path: str, checkpoint_path: str,
                 max_files_per_trigger: int | None = None,
                 failure_policy=None,
                 log_format: str = "parquet", ack_lock=None,
                 target_layout: str = "bucketed",
                 n_buckets: int | None = None,
                 max_retry: int | None = None):
        self.spark = spark
        self.rule = rule
        self.payload_schema = payload_schema
        self.log_path = log_path
        if hasattr(target_layout, "merge_changes"):
            # a pre-built target object (e.g. sinks/jdbc.py::JdbcTable for
            # live-DB delivery) — anything honouring the merge_changes
            # protocol streams micro-batches the same way
            self.target = target_layout
        elif target_layout == "bucketed":
            self.target = BucketedTable(target_path,
                                        list(rule.source_keys), n_buckets)
        elif target_layout == "snapshot":
            self.target = ParquetTable(target_path)
        else:
            raise ValueError(f"unknown target_layout {target_layout!r}")
        self.status_path = status_path
        self.checkpoint_path = checkpoint_path
        self.max_files_per_trigger = max_files_per_trigger
        # failure_policy(changes) -> fail_until Column: injected-failure
        # spec standing in for a flaky target (None = everything lands);
        # each apply call runs one retry pass, retry_pass runs the next
        self.failure_policy = failure_policy
        self.log_format = log_format
        # pipelines that share one status path (multi-target rules over the
        # same source db) must not append parquet concurrently: the Hadoop
        # output committer's _temporary dir is per-path, and one job's
        # commit cleanup deletes the other's in-flight files; a pipeline
        # that shares no status path still serializes its own writers
        self.ack_lock = ack_lock if ack_lock is not None else threading.Lock()
        # ErrorResolver retry budget (sys.maxRetry): ERR rows at
        # retry >= max_retry become dead letters (still visible in the
        # status table, never retried again); None = unbounded
        self.max_retry = max_retry
        # one writer at a time per target: the scheduled retry tick
        # (driver control-loop thread) and the streaming foreachBatch
        # callback both MERGE into the same table — unserialized, their
        # staged writes would race each other's directory swaps
        self._merge_lock = threading.Lock()
        self.last_query = None  # most recent StreamingQuery from start()

    @property
    def name(self) -> str:
        """Stable display name for endpoints/monitoring payloads AND the
        Spark queryName — must be unique per pipeline, so it includes the
        target db: a 'targetDb: t1,t2' fanout rule builds one pipeline
        per target and Spark refuses two active queries with one name."""
        r = self.rule
        tgt_schema = r.target_schema or r.source_schema
        tgt_table = r.target_table or r.source_table
        return (f"{r.source_db}.{r.source_schema}.{r.source_table}"
                f"->{r.target_db or 'target'}.{tgt_schema}.{tgt_table}")

    def _write_acks(self, acks: DataFrame) -> None:
        with self.ack_lock:
            acks.write.mode("append").parquet(self.status_path)

    def _decode(self, log: DataFrame) -> DataFrame:
        """This pipeline's slice of a change-log frame, decoded: id,
        operation and the payload columns, plus `_valid` (valid_payload)
        and `_kept` (valid and passing the rule's condition).

        Fan-out happens at capture (one row per target, S11); a pipeline
        serving target T consumes only rows addressed to T."""
        rule = self.rule
        relevant = ((F.col("schema") == rule.source_schema)
                    & (F.col("table") == rule.source_table)
                    & (F.col("sourceDb") == rule.source_db))
        if rule.target_db:
            relevant = relevant & (F.col("targetDb") == rule.target_db)
        decoded = log.where(relevant).select(
            "id", "operation",
            valid_payload().alias("_valid"),
            F.from_json("data", self.payload_schema).alias("_row"),
        ).select("id", "operation", "_valid", "_row.*")
        # a condition that reads NULL filters the change, as where() would
        return decoded.withColumn(
            "_kept", F.col("_valid") & F.coalesce(condition(rule), F.lit(False)))

    def apply_changes(self, changes: DataFrame) -> None:
        """Apply a `_decode`d frame with the ERR/BLK state machine: rows
        that reach the target MERGE in; failures ack ERR and hold back
        (BLK) same-key followers — strict per-key order under failure
        (O4-O6). An optional `_tries0` column seeds per-row retry counters
        (set by retry_pass from the persisted status)."""
        tries0 = F.col("_tries0") if "_tries0" in changes.columns else F.lit(0)
        valid, kept = F.col("_valid"), F.col("_kept")
        if self.failure_policy is None:
            staged = changes.withColumns({"_tries": tries0,
                                          "_status": F.lit(STATUS_OK)})
        else:
            # one retry pass over the whole frame: rows with nothing to
            # apply (malformed, filtered) never fail, so they block no one
            staged = run_pass(changes.withColumns({
                "_key_hash": key_hash(F.concat_ws(":", *[
                    F.col(k).cast("string") for k in self.rule.source_keys])),
                "_fail_until": F.when(kept, self.failure_policy(changes))
                                .otherwise(0),
                "_tries": tries0}))
        applied = kept & (F.col("_status") == STATUS_OK)
        with self._merge_lock:
            batch = staged.localCheckpoint()
            self.target.merge_changes(
                self.spark,
                batch.where(applied).select(
                    "id", "operation", *self.payload_schema.fieldNames()),
                list(self.rule.source_keys), pinned=True)
            self._write_acks(batch.select(
                F.col("id").alias("dataId"),
                F.when(~valid, STATUS_ERR).when(~kept, STATUS_OK)
                .otherwise(F.col("_status")).alias("status"),
                F.when(~valid, MALFORMED_MSG).when(~kept, FILTERED_MSG)
                .when(applied, "").otherwise("apply failed").alias("message"),
                F.col("_tries").cast("int").alias("retry"),
                F.current_timestamp().alias("createTime")))

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        self.apply_changes(self._decode(batch_df))

    def retry_pass(self) -> bool:
        """The ErrorResolver/BlockedHandler loop (O5/O6): re-read ERR/BLK
        rows from the status table, re-apply them from the log in id order
        with their persisted retry counters; newly-converged rows MERGE in
        and ack OK. Returns True if anything was retried."""
        from dbsync_spark.operators.status import current_status
        from dbsync_spark.sources.log_source import read_log
        from dbsync_spark.sources.tables import read_state

        # only "nothing acked yet" reads as empty: an unreadable ack log
        # fails the tick instead of silently ending the retries
        acks = read_state(self.spark, self.status_path,
                          read_schema=SYNC_STATUS_SCHEMA)
        if acks is None:
            return False
        # the reference's resolver predicate (PgOperation.scala:389-405):
        # BLK always re-polls; ERR only while retry < maxRetry — exhausted
        # rows are dead letters, visible but never retried again
        retry_ok = (F.lit(True) if self.max_retry is None
                    else F.col("retry") < self.max_retry)
        # malformed-payload dead letters are non-retryable BY CONSTRUCTION
        # (_decode flags them again): excluding them here, not just at the
        # apply, keeps a corrupt-only backlog from turning every tick into
        # a full log read + an empty ack append forever
        bad = current_status(acks).where(
            ((F.col("status") == STATUS_BLK)
             | ((F.col("status") == STATUS_ERR) & retry_ok))
            & (F.col("message") != MALFORMED_MSG))
        if bad.isEmpty():
            return False
        log = read_log(self.spark, self.log_path, self.log_format)
        self.apply_changes(self._decode(log).join(
            bad.select(F.col("dataId").alias("id"),
                       F.col("retry").alias("_tries0")),
            on="id"))
        return True

    def start(self, available_now: bool = True, processing_time: str | None = None):
        from dbsync_spark.sources.log_source import read_log_stream

        stream = read_log_stream(self.spark, self.log_path, self.log_format,
                                 self.max_files_per_trigger)
        writer = (
            stream.writeStream
            .queryName(self.name)  # progress/heartbeat entries carry the
            # pipeline's stable name instead of a per-run UUID
            .foreachBatch(self.process_batch)
            .option("checkpointLocation", self.checkpoint_path)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time:
            writer = writer.trigger(processingTime=processing_time)
        self.last_query = writer.start()
        return self.last_query

    def run_to_completion(self) -> None:
        q = self.start(available_now=True)
        q.awaitTermination()
