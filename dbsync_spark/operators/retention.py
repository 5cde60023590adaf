"""Retention cleanup (O8) — TTL sweep over the change log.

Reference: every cleanInterval, delete sync_data rows whose status is OK
and older than dataKeepHours, then VACUUM/OPTIMIZE
(job/CleanWorker.scala:27-53, dbopt/PgOperation.scala:369-387).

Spark-first: `sweep` is the row-exact log after the cleanup, as one left
join (the `q_retention` query). The control loop deletes whole files
instead (`expired_segments`), because a live file-stream source would
re-ingest a rewritten log.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sweep(log: DataFrame, status: DataFrame, cutoff: Column,
          id_col: str = "id") -> DataFrame:
    """The log after the retention sweep: every row except those OK-acked
    and created before `cutoff`. Single left join — not one scan per
    status class."""
    # distinct: the ack log is append-only and at-least-once (a replayed
    # micro-batch re-acks the same dataId) — a LEFT join against the raw
    # acks would emit one copy of every KEPT row per duplicate ack
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
    micro-batch will list. A row-exact rewrite (`sweep`) would put kept
    rows into NEW files, which a running stream re-ingests wholesale.

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
