"""Time-bucketed throughput counters (A2).

Reference: StatisticsComponent.incr keeps per-hour / per-day counter maps
with bounded retention (sync/ComponentManager.scala:68-106).

Spark-first: tumbling-window aggregation, groupBy(window(ts, '1 hour')).
On a stream, the same function over `withWatermark(ts, ...)` gives bounded
state eviction (the reference's "retain last 7x24 buckets" becomes the
watermark — state trimmed by event time, no manual map pruning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hourly_counts(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Rows per hour bucket; bucket exposed as its start timestamp."""
    return (
        df.groupBy(F.window(F.col(ts_col), "1 hour").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("bucket_start"), "cnt")
    )


def daily_counts(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    return (
        df.groupBy(F.window(F.col(ts_col), "1 day").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("bucket_start"), "cnt")
    )


def merge_counts(snapshot: DataFrame, increment: DataFrame,
                 bucket_col: str = "bucket_start",
                 cnt_col: str = "cnt") -> DataFrame:
    """Incremental aggregate maintenance: fold an increment's bucket
    counts into an existing aggregate snapshot (continuous-aggregate
    refresh). The merge is a grouped sum over the two frames' union —
    cost proportional to |snapshot buckets| + |increment|, never a
    recompute of the raw history. Counts are associative, so
    merge(agg(old), agg(inc)) == agg(old ∪ inc) exactly."""
    return (
        snapshot.unionByName(increment)
        .groupBy(bucket_col)
        .agg(F.sum(cnt_col).cast("long").alias(cnt_col))
    )
