"""Time-series operators beyond the SQL surface.

q_ts_similarity (queries_analytics.py) covers exact cosine similarity
between bucketed series; this module adds Dynamic Time Warping — the
alignment-tolerant distance the streaming-similarity literature uses
when series are out of phase (a user who does the same things two hours
later should still match). DTW is a dynamic program, not expressible in
one SQL pass, so it is the textbook case for a Pandas-UDF-backed custom
operator: series are collected to one array row per key (narrow — one
value per bucket), the query series rides the closure, and the DP runs
vectorized in numpy inside mapInPandas. Declared rows-only (no DuckDB
oracle can express the DP); exactness is covered by a pytest property
suite against a pure-python reference DP.

Scale: the per-key series array is bounded by the bucket range (720
hourly buckets per month), not by event volume — the heavy reduction
happens in the bucketing aggregate. The DP is O(n * radius) per pair
with the Sakoe-Chiba band, embarrassingly parallel across keys.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dtw_reference(a, b, radius: int) -> float:
    """Pure-python banded DTW (absolute-difference cost) — the spec the
    vectorized path must match exactly."""
    n, m = len(a), len(b)
    INF = float("inf")
    prev = [INF] * (m + 1)
    prev[0] = 0.0
    for i in range(1, n + 1):
        cur = [INF] * (m + 1)
        lo = max(1, i - radius)
        hi = min(m, i + radius)
        for j in range(lo, hi + 1):
            cost = abs(a[i - 1] - b[j - 1])
            cur[j] = cost + min(prev[j], cur[j - 1], prev[j - 1])
        prev = cur
    return prev[m]


def _dtw_numpy(a: np.ndarray, b: np.ndarray, radius: int) -> float:
    """Banded DTW matching dtw_reference exactly (same recurrence, same
    float-add order). The left-neighbor dependency makes each row a
    scan, so the j-loop stays scalar; the per-row cost slice is
    precomputed vectorized."""
    n, m = len(a), len(b)
    INF = np.inf
    prev = np.full(m + 1, INF)
    prev[0] = 0.0
    for i in range(1, n + 1):
        cur = np.full(m + 1, INF)
        lo, hi = max(1, i - radius), min(m, i + radius)
        costs = np.abs(a[i - 1] - b[lo - 1:hi])
        for j in range(lo, hi + 1):
            cur[j] = costs[j - lo] + min(prev[j], cur[j - 1], prev[j - 1])
        prev = cur
    return float(prev[m])


def series_arrays(events: DataFrame, id_col: str, bucket_col,
                  val_col, spine=None) -> DataFrame:
    """(id, values) — each key's bucket-ordered value sequence as one
    array row: values are SUMMED per bucket first (one value per bucket,
    the series contract), then collected in bucket order.

    With `spine` (an array Column of all buckets, e.g. the global hourly
    range), the series is DENSE: missing buckets fill with 0, so every
    key's series has the same length and position i means the same
    wall-clock bucket for everyone — which is what makes a banded-DTW
    radius mean 'hours of shift' and keeps the DP corner inside the band
    regardless of per-key activity counts. Sparse mode (spine=None)
    keeps only active buckets. One shuffle either way."""
    per_bucket = (events
                  .groupBy(id_col, bucket_col.alias("_b"))
                  .agg(F.sum(val_col).alias("_v")))
    if spine is None:
        return (per_bucket
                .groupBy(id_col)
                .agg(F.array_sort(F.collect_list(F.struct("_b", "_v")))
                     .alias("_s"))
                .select(id_col,
                        F.expr("transform(_s, x -> CAST(x._v AS DOUBLE))")
                        .alias("values")))
    return (per_bucket
            .groupBy(id_col)
            .agg(F.map_from_entries(
                F.collect_list(F.struct("_b", "_v"))).alias("_m"))
            .select(id_col,
                    F.transform(
                        spine,
                        lambda b: F.coalesce(F.element_at("_m", b),
                                             F.lit(0)).cast("double"))
                    .alias("values")))


def dtw_to_query(series: DataFrame, query_values, id_col: str,
                 radius: int = 24) -> DataFrame:
    """DTW distance from every key's series to `query_values` (a python
    list riding the UDF closure — the broadcast pattern for a single
    query). Returns (id, dtw_dist)."""
    import pyspark.sql.types as T

    q = np.asarray(query_values, dtype=np.float64)
    out_schema = T.StructType([
        series.schema[id_col],
        T.StructField("dtw_dist", T.DoubleType()),
    ])

    def compute(batches):
        for pdf in batches:
            dists = [
                _dtw_numpy(np.asarray(v, dtype=np.float64), q, radius)
                for v in pdf["values"]
            ]
            yield pd.DataFrame({id_col: pdf[id_col],
                                "dtw_dist": dists})

    return series.mapInPandas(compute, schema=out_schema)


def cusum_changepoints(daily: DataFrame, key_col: str, day_col: str,
                       cents_col: str, slack_div: int = 20,
                       threshold_mult: int = 8) -> DataFrame:
    """Per-series one-sided CUSUM level-shift detection over a
    pre-aggregated (key, day, integer-cents) frame: flag days where the
    cumulative positive drift above (mean + slack) exceeds
    threshold_mult * slack.

    The textbook recurrence s_i = max(0, s_{i-1} + d_i) looks inherently
    sequential, but has the closed form
        s_i = p_i - min(0, min_{j<=i} p_j),   p = prefix sums of d,
    so it distributes as two stacked window passes (running sum, then
    running min) — per-key partitioned windows, no global sort, exact
    BIGINT arithmetic end to end (hash-matchable in SQL on any engine).

    Scale shape: the windows partition by the series key, so a million
    independent series spread across the cluster; each series' state is
    one running pair. The per-key mean/slack join is a plain equi-join
    (AQE broadcasts when the key side is small).
    """
    from pyspark.sql import Window

    tgt = (daily.groupBy(key_col).agg(
        F.expr(f"sum({cents_col}) div count(*)").alias("_target"))
        .withColumn("_slack", F.expr(f"_target div {slack_div}")))
    d = (daily.join(tgt, on=key_col)
         .withColumn("_dev", F.col(cents_col) - F.col("_target")
                     - F.col("_slack")))
    w = (Window.partitionBy(key_col).orderBy(day_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    p = d.withColumn("_pre", F.sum("_dev").over(w))
    s = p.withColumn(
        "cusum_cents",
        F.col("_pre") - F.least(F.lit(0).cast("long"),
                                F.min("_pre").over(w)))
    return (s.where(F.col("cusum_cents")
                    > threshold_mult * F.col("_slack"))
            .select(key_col, day_col, cents_col, "cusum_cents"))
