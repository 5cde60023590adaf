"""StreamingDtwMonitor: incremental DTW scores over sliding windows.

Contracts:
- batch-invariance: scores after N micro-batches equal a single-batch
  run over the same events (per-key anchoring makes every stored score
  current — an untouched key's window cannot have changed);
- replay idempotence: re-processing the last epoch changes nothing;
- only touched keys are re-scored per batch;
- empty state: distances() before any batch is an empty frame.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbsync_spark.sources.tables import read_table
from dbsync_spark.streaming.dtw_monitor import StreamingDtwMonitor

QUERY = [float((i * 7) % 13) for i in range(24)]  # fixed pattern, len=W


def _events(spark, sf_dir):
    return (read_table(spark, sf_dir, "events")
            .where(F.col("user_id") < 40)
            .select("user_id", "ts",
                    F.round(F.col("value") * 100).cast("long").alias("value"))
            .cache())


def _monitor(spark, root):
    return StreamingDtwMonitor(
        spark, root, QUERY, id_col="user_id", ts_col="ts",
        val_col=F.col("value"), radius=6, window_buckets=24, bucket="hour")


@pytest.mark.slow
def test_streaming_matches_single_batch_and_replay(spark, sf_dir, tmp_path):
    ev = _events(spark, sf_dir)
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 3

    mon = _monitor(spark, str(tmp_path / "stream"))
    assert mon.distances().count() == 0  # empty state is an empty frame

    batches = [
        ev.where(F.col("ts") < F.lit(lo + span)),
        ev.where((F.col("ts") >= F.lit(lo + span))
                 & (F.col("ts") < F.lit(lo + 2 * span))),
        ev.where(F.col("ts") >= F.lit(lo + 2 * span)),
    ]
    for i, b in enumerate(batches):
        out = mon.process_batch(b, epoch_id=i)
        # only keys present in this batch are (re)scored
        touched = {r[0] for r in b.select("user_id").distinct().collect()}
        scored = {r["user_id"] for r in out.collect()}
        assert scored == touched

    streaming = {r["user_id"]: r["dtw_dist"]
                 for r in mon.distances().collect()}

    ref = _monitor(spark, str(tmp_path / "batch"))
    ref.process_batch(ev, epoch_id=0)
    single = {r["user_id"]: r["dtw_dist"] for r in ref.distances().collect()}
    assert streaming == single  # exact float equality: same DP, same sums

    # replay the last epoch (at-least-once delivery): nothing changes
    mon.process_batch(batches[-1], epoch_id=2)
    replayed = {r["user_id"]: r["dtw_dist"]
                for r in mon.distances().collect()}
    assert replayed == streaming
