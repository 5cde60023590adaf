"""Streaming DTW similarity over sliding per-key windows.

The batch operators (functions/timeseries.py) score a static corpus of
series. This monitor maintains the series incrementally from a stream of
(id, ts, value) events — the "alert me when a user's recent activity
shape matches this pattern" workload:

- per micro-batch, arriving events are bucket-aggregated and appended to
  an epoch-scoped per-key bucket store (same replay-idempotence pattern
  as streaming/dedup_index.py: re-running an epoch overwrites its own
  directory, so at-least-once delivery cannot double-count);
- ONLY the keys touched by the batch are re-scored: their last
  `window_buckets` buckets (dense, zero-filled, anchored at the key's
  own latest bucket) are DTW'd against the frozen query pattern via the
  same banded vectorized DP as the batch path;
- distances are appended per epoch; `distances()` returns each key's
  latest score.

Scale shape: the bucket store grows with DISTINCT (key, bucket) pairs,
not events (batch pre-aggregation); re-scoring is bounded by the batch's
touched keys x window length, never the corpus. Old buckets beyond the
window are dropped from each key's series at read time and can be swept
from the store by retention (same TTL machinery as the change log).

Batch-invariance (tested): distances after N micro-batches equal the
batch-mode scores computed on the same accumulated events.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.types import (DoubleType, LongType, StructField,
                               StructType)

from dbsync_spark.functions.timeseries import dtw_to_query
from dbsync_spark.sources.tables import read_state
from dbsync_spark.streaming.state import EpochState


_EPOCH = StructField("epoch", LongType())  # the partition column


class StreamingDtwMonitor(EpochState):
    def __init__(self, spark: SparkSession, root: str, query_values,
                 id_col: str = "user_id", ts_col: str = "ts",
                 val_col=None, radius: int = 24,
                 window_buckets: int = 168, bucket: str = "hour"):
        super().__init__(spark, root)
        self.query_values = [float(v) for v in query_values]
        self.id_col = id_col
        self.ts_col = ts_col
        # val_col: a Column (e.g. integer cents) or name; default `value`
        self.val_col = val_col if val_col is not None else F.col("value")
        self.radius = radius
        self.window_buckets = window_buckets
        self.bucket = bucket

    def _bucket(self, col) -> F.Column:
        return F.date_trunc(self.bucket, col)


    def process_batch(self, batch_df: DataFrame, epoch_id: int | None = None
                      ) -> DataFrame:
        """Ingest one micro-batch; returns (id, dtw_dist) for the keys
        the batch touched."""
        if epoch_id is None:
            epoch_id = self._next_epoch("buckets")
        per_bucket = (batch_df
                      .groupBy(F.col(self.id_col).alias("_id"),
                               self._bucket(F.col(self.ts_col)).alias("_b"))
                      .agg(F.sum(self.val_col).alias("_v")))
        self._write_epoch(per_bucket, "buckets", epoch_id)

        touched = per_bucket.select("_id").distinct()
        dists = self._score(touched, per_bucket.schema)
        self._write_epoch(dists, "dists", epoch_id)
        return dists

    def _score(self, keys: DataFrame, bucket_schema: StructType
               ) -> DataFrame:
        # every epoch's buckets have the batch frames' schema
        state = read_state(self.spark, f"{self.root}/buckets",
                           read_schema=StructType([*bucket_schema, _EPOCH]))
        # one epoch partition per batch; re-sum across epochs per (id, b)
        mine = (state.join(keys, on="_id", how="left_semi")
                .groupBy("_id", "_b").agg(F.sum("_v").alias("_v")))
        # dense window anchored at each key's own latest bucket: position
        # i = "i buckets before the key's newest activity", so a key is
        # scored on its RECENT shape no matter when it was last active
        step = f"INTERVAL 1 {self.bucket.upper()}"
        horizon = (mine.groupBy("_id")
                   .agg(F.max("_b").alias("_anchor"))
                   .withColumn("_start", F.expr(
                       f"_anchor - {step} * {self.window_buckets - 1}")))
        windowed = (mine.join(horizon, on="_id")
                    .where(F.col("_b") >= F.col("_start")))
        spine = F.expr(f"sequence(_start, _anchor, {step})")
        series = (windowed
                  .groupBy(F.col("_id"), F.col("_start"), F.col("_anchor"))
                  .agg(F.map_from_entries(
                      F.collect_list(F.struct("_b", "_v"))).alias("_m"))
                  .select(
                      F.col("_id").alias(self.id_col),
                      F.transform(
                          spine,
                          lambda b: F.coalesce(
                              F.element_at("_m", b), F.lit(0))
                          .cast("double")).alias("values")))
        return dtw_to_query(series, np.asarray(self.query_values),
                            self.id_col, radius=self.radius)

    def distances(self) -> DataFrame:
        """Latest DTW distance per key across all processed batches."""
        schema = StructType([StructField(self.id_col, LongType()),
                             StructField("dtw_dist", DoubleType()), _EPOCH])
        d = read_state(self.spark, f"{self.root}/dists",
                       read_schema=schema, empty_schema=schema)
        return (d.groupBy(self.id_col)
                .agg(F.max_by(F.col("dtw_dist"), F.col("epoch"))
                     .alias("dtw_dist")))
