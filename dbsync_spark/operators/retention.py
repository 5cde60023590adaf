"""Retention cleanup (O8) — TTL sweep over the change log.

Reference: every cleanInterval, delete sync_data rows whose status is OK
and older than dataKeepHours, then VACUUM/OPTIMIZE
(job/CleanWorker.scala:27-53, dbopt/PgOperation.scala:369-387).

Spark-first: the sweep is an anti-filter written back to the log table
(on Delta this is a partition-pruned DELETE + OPTIMIZE; on parquet an
overwrite of affected partitions). Partitioning the log by date makes the
cutoff predicate a partition-pruning filter — at 100 TB the sweep reads
only expired partitions, not the full log.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbsync_spark.sinks.layout import replace_dir


def expired(log: DataFrame, status: DataFrame, cutoff: Column,
            id_col: str = "id") -> DataFrame:
    """Rows eligible for deletion: status OK and createTime < cutoff."""
    ok = status.where(F.col("status") == "OK").select(F.col("dataId").alias(id_col))
    return log.join(ok, on=id_col, how="left_semi").where(F.col("createTime") < cutoff)


def sweep(log: DataFrame, status: DataFrame, cutoff: Column,
          id_col: str = "id") -> DataFrame:
    """The log after the retention sweep (complement of `expired`).
    Single left join — not one scan per status class."""
    # distinct: the ack log is append-only and at-least-once (a replayed
    # micro-batch re-acks the same dataId) — a LEFT join against the raw
    # acks would emit one copy of every KEPT row per duplicate ack, and
    # sweep_into_place would write the duplicates back permanently
    ok = (status.where(F.col("status") == "OK")
          .select(F.col("dataId").alias(id_col)).distinct()
          .withColumn("_ok", F.lit(True)))
    joined = log.join(ok, on=id_col, how="left")
    return joined.where(
        ~(F.coalesce(F.col("_ok"), F.lit(False)) & (F.col("createTime") < cutoff))
    ).drop("_ok")


def expired_segments(log: DataFrame, status: DataFrame, cutoff: Column,
                     id_col: str = "id") -> list[str]:
    """Log FILES every row of which is sweep-eligible (OK-acked and past
    the cutoff) — the Kafka-style segment retention that is safe under a
    LIVE file-stream source: unlinking an already-processed file neither
    creates new input (no re-ingestion) nor touches anything a future
    micro-batch will list. Row-exact sweeping (`sweep` + sweep_into_place)
    rewrites kept rows into NEW files, which a running stream would
    re-ingest wholesale — use that only in maintenance windows.

    Retention becomes file-granular (a file with one unexpired row is
    kept whole), converging as segments age out — the standard log-
    retention contract. Returns local filesystem paths."""
    from urllib.parse import unquote, urlparse

    # distinct for the same duplicate-ack reason as sweep(): here the
    # per-file counts stay *consistent* under duplication (every copy of
    # a row carries the same flag) but the join output would be larger
    # than the log for no reason
    ok = (status.where(F.col("status") == "OK")
          .select(F.col("dataId").alias(id_col)).distinct()
          .withColumn("_ok", F.lit(True)))
    tagged = (log.withColumn("_f", F.input_file_name())
              .join(ok, on=id_col, how="left"))
    sweepable = (F.coalesce(F.col("_ok"), F.lit(False))
                 & (F.col("createTime") < cutoff)).cast("int")
    stats = (tagged.groupBy("_f")
             .agg(F.count("*").alias("_n"),
                  F.sum(sweepable).alias("_n_sweep")))
    uris = [r["_f"] for r in
            stats.where(F.col("_n") == F.col("_n_sweep")).collect()]
    return [unquote(urlparse(u).path) for u in uris]


def sweep_into_place(kept: DataFrame, log_path: str) -> None:
    """Commit a sweep with ONE data write: the kept rows are written to a
    staging sibling and swapped in by replace_dir (sinks/layout.py). The
    live log is renamed aside, never deleted, until the swept copy is in
    place, so a kill at any point leaves the whole pre-sweep log or the
    whole swept one — never a partial log, and never a lost pending row."""
    replace_dir(log_path, kept.write.mode("overwrite").parquet)
