"""Analytic query surface (queries_analytics.py): oracle sweep + the
physical-plan properties that make these shapes survive 100 TB."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.compare import assert_matches

ANALYTIC_ORACLE_BACKED = [
    "q_event_gaps",
    "q_moving_agg",
    "q_running_total",
    "q_rank_orders",
    "q_ntile_customers",
    "q_exists_semi",
    "q_not_exists_anti",
    "q_grouping_sets",
    "q_pricing_summary",
    "q_top_revenue_orders",
    "q_top_supplier",
    "q_string_funcs",
    "q_date_funcs",
    "q_array_funcs",
    "q_percentiles",
    "q_histogram",
    "q_set_ops",
    "q_json_funcs",
    "q_top_per_group",
    "q_term_stats",
    "q_regional_volume",
    "q_above_avg_customers",
    "q_forecast_revenue",
    "q_returned_items",
    "q_order_count_dist",
    "q_pandas_udf_score",
    "q_snapshot_diff",
    "q_incremental_rollup",
    "q_funnel",
    "q_cohort",
    "q_nation_volume",
    "q_shipmode_priority",
    "q_promo_share",
    "q_large_volume_customers",
    "q_asof_tolerance",
    "q_regression",
    "q_downsample",
    "q_incremental_join",
    "q_grouped_pandas_norm",
    "q_burst_dedup",
    "q_path_analysis",
    "q_rfm",
    "q_time_travel",
    "q_frame_bounds",
    "q_rolling_7d",
    "q_ts_similarity",
    "q_integrity_audit",
    "q_channel_cumulative",
    "q_profile",
]


@pytest.mark.slow
def test_analytic_surface_matches_oracle(spark, sf_dir, duck):
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    for name in ANALYTIC_ORACLE_BACKED:
        assert_matches(qs[name](spark, sf_dir), duck, os_[name])


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_top_revenue_plan_broadcasts_and_heaps(spark, sf_dir):
    """Q3 shape: the filtered customer dim must broadcast (no shuffle of
    the fact table for that join) and the top-10 must be
    TakeOrderedAndProject (per-partition heaps), not a global Sort."""
    df = entrymod.queries()["q_top_revenue_orders"](spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_pricing_summary_plan_partial_agg_and_pushdown(spark, sf_dir):
    """Q1 shape: partial (map-side) aggregation before the exchange, and
    the shipdate filter pushed to the parquet scan."""
    df = entrymod.queries()["q_pricing_summary"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "PushedFilters: [" in plan and "l_shipdate" in plan
    # column pruning: only the 6 needed columns reach the scan
    assert "l_partkey" not in plan.split("ReadSchema")[1][:400]


def test_semi_anti_join_plans(spark, sf_dir):
    """EXISTS/NOT EXISTS compile to semi/anti joins, not cross products."""
    qs = entrymod.queries()
    assert "LeftSemi" in _plan(qs["q_exists_semi"](spark, sf_dir))
    assert "LeftAnti" in _plan(qs["q_not_exists_anti"](spark, sf_dir))


def test_snapshot_diff_unit(spark):
    """I/U/D classification, identical rows dropped, null-safe compare."""
    from dbsync_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "c", 3.0)],
        "k LONG, v STRING, w DOUBLE")
    new = spark.createDataFrame(
        [(2, "b", None), (3, "CHANGED", 3.0), (4, "d", 4.0)],
        "k LONG, v STRING, w DOUBLE")
    got = {r["k"]: r["change_type"]
           for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {1: "D", 3: "U", 4: "I"}  # 2 identical (null==null) -> absent


def test_log_window_diff_equals_snapshot_diff(spark, sf_dir):
    """The one-shuffle log diff must equal materialize-both-states +
    full-outer-join (the definitional form)."""
    from pyspark.sql import functions as F

    from dbsync_spark.changelog import ORDERS_PAYLOAD_SCHEMA, build_log_orders
    from dbsync_spark.operators.apply import last_writer_wins, parse_changes
    from dbsync_spark.operators.diff import log_window_diff, snapshot_diff

    log = build_log_orders(spark, sf_dir)
    changes = parse_changes(log, ORDERS_PAYLOAD_SCHEMA).cache()
    cutoff = log.agg(F.max("id")).first()[0] // 2
    fast = log_window_diff(changes, ["o_orderkey"], cutoff)
    old = last_writer_wins(changes.where(F.col("id") <= cutoff), ["o_orderkey"])
    new = last_writer_wins(changes, ["o_orderkey"])
    slow = snapshot_diff(old, new, ["o_orderkey"])
    assert fast.count() == slow.count()
    assert fast.exceptAll(slow).count() == 0


def test_regional_volume_broadcasts_dimension_chain(spark, sf_dir):
    """Q5 shape: supplier/nation/region all broadcast — at least three
    BroadcastHashJoins, and no shuffle keyed on a dimension key."""
    df = entrymod.queries()["q_regional_volume"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "hashpartitioning(n_nationkey" not in plan
    assert "hashpartitioning(r_regionkey" not in plan


def test_window_single_exchange(spark, sf_dir):
    """The per-user window needs exactly one hash exchange on user_id."""
    import re

    df = entrymod.queries()["q_event_gaps"](spark, sf_dir)
    plan = _plan(df)
    # count Exchange *nodes* (numbered detail entries), not string mentions
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning(user_id" in plan


def test_burst_dedup_planted_burst(spark):
    """Three events 1s apart collapse to the first; an event 6 minutes
    later survives as its own burst."""
    import datetime as dt

    import dbsync_spark.queries_analytics as qa

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 7, "click", 1.0, "{}"),
        (2, t0 + dt.timedelta(seconds=1), 7, "click", 1.0, "{}"),
        (3, t0 + dt.timedelta(seconds=2), 7, "click", 1.0, "{}"),
        (4, t0 + dt.timedelta(minutes=6), 7, "click", 1.0, "{}"),
        (5, t0 + dt.timedelta(seconds=3), 7, "view", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, "
              "event_type STRING, value DOUBLE, props STRING")
    orig = qa.read_table
    try:
        qa.read_table = lambda spark, sf, name: ev
        got = {(r["event_type"], r["event_id"]): r["n_suppressed"]
               for r in qa.q_burst_dedup(spark, "unused").collect()}
    finally:
        qa.read_table = orig
    assert got == {("click", 1): 2, ("click", 4): 0, ("view", 5): 0}


def test_dtw_matches_reference_and_properties(spark):
    """The vectorized banded DTW equals the pure-python reference DP on
    random series; identity distance is 0; a time-shifted copy scores
    far below a scrambled one."""
    import numpy as np

    from dbsync_spark.functions.timeseries import (
        _dtw_numpy, dtw_reference, dtw_to_query)

    rng = np.random.RandomState(7)
    for _ in range(25):
        n, m = rng.randint(1, 30), rng.randint(1, 30)
        a = rng.randint(0, 100, n).astype(float)
        b = rng.randint(0, 100, m).astype(float)
        r = int(rng.randint(1, 35))
        assert _dtw_numpy(a, b, r) == dtw_reference(list(a), list(b), r)

    base = [0, 0, 5, 9, 5, 0, 0, 0, 7, 3, 0, 0] * 3
    shifted = base[2:] + [0, 0]
    scrambled = list(reversed(base))
    df = spark.createDataFrame(
        [(2, [float(x) for x in shifted]),
         (3, [float(x) for x in scrambled])],
        "user_id LONG, values ARRAY<DOUBLE>")
    got = {r["user_id"]: r["dtw_dist"]
           for r in dtw_to_query(df, [float(x) for x in base],
                                 "user_id", radius=6).collect()}
    assert got[2] < got[3]
    same = spark.createDataFrame([(9, [float(x) for x in base])],
                                 "user_id LONG, values ARRAY<DOUBLE>")
    assert dtw_to_query(same, [float(x) for x in base], "user_id",
                        radius=6).first()["dtw_dist"] == 0.0


def test_q_ts_dtw_runs_finite_nonnegative(spark, sf_dir):
    """Dense-spine series => equal lengths => the banded DP corner is
    always reachable: every distance finite and >= 0."""
    import math

    rows = entrymod.queries()["q_ts_dtw"](spark, sf_dir).collect()
    assert rows
    assert all(r["dtw_dist"] >= 0 and math.isfinite(r["dtw_dist"])
               for r in rows)


def test_sketch_queries_accuracy_bounds(spark, sf_dir, duck):
    """Rows-only sketch queries carry pytest-pinned accuracy: HLL within
    its 2% rsd (x3 safety) of the exact count; approx percentiles within
    rank error 1/10000 of the exact order statistics."""
    qs = entrymod.queries()
    for r in qs["q_hll_distinct"](spark, sf_dir).collect():
        err = abs(r["approx_users"] - r["exact_users"]) / max(r["exact_users"], 1)
        assert err <= 0.06, (r["event_type"], err)

    rows = {r["event_type"]: r for r in
            qs["q_quantile_sketch"](spark, sf_dir).collect()}
    for ch, r in rows.items():
        vals = sorted(v[0] for v in duck.execute(
            "SELECT CAST(round(value*100) AS BIGINT) FROM events "
            "WHERE event_type = ?", [ch]).fetchall())
        n = len(vals)
        for p, col in ((0.5, "p50_cents"), (0.9, "p90_cents"),
                       (0.99, "p99_cents")):
            # rank-error contract: the sketch answer's RANK must sit
            # within n/10000 (+1 slack) of the target rank
            import bisect

            lo = bisect.bisect_left(vals, r[col])
            hi = bisect.bisect_right(vals, r[col])
            target = p * n
            slack = n / 10000 + 1
            assert lo - slack <= target <= hi + slack, (ch, col, lo, hi, target)


def test_profile_counts_nulls_and_distincts(spark):
    """Planted nulls/dups: the profile reports them exactly, and nulls
    are excluded from the distinct count."""
    from dbsync_spark.functions.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (4, "b"), (None, "b")],
        "k long, s string")
    got = {r.col_name: r for r in profile_table(
        df, ["k", "s"], minmax_cols=["k"]).collect()}
    assert got["k"].n_rows == 5 and got["k"].n_nulls == 1
    assert got["k"].n_distinct == 4
    assert (got["k"].min_value, got["k"].max_value) == ("1", "4")
    assert got["s"].n_nulls == 1 and got["s"].n_distinct == 2
    # s not in minmax_cols -> NULL rendering
    assert (got["s"].min_value, got["s"].max_value) == (None, None)


def test_profile_handles_hostile_column_names(spark):
    """Column names that are not plain identifiers (hyphen, space,
    quote) must profile correctly — internal aliases are positional and
    the label literal is escaped."""
    from dbsync_spark.functions.profile import profile_table

    df = (spark.range(3)
          .selectExpr("id AS `order-date`", "CAST(id AS STRING) AS `a b`",
                      "id AS `it's`"))
    got = {r.col_name: r for r in profile_table(
        df, ["order-date", "a b", "it's"]).collect()}
    assert got["order-date"].n_distinct == 3
    assert got["order-date"].min_value == "0"
    assert got["a b"].n_nulls == 0
    assert got["it's"].max_value == "2"


def test_changepoint_matches_oracle(spark, sf_dir, duck):
    """The two stacked window passes equal the SQL oracle hash-exactly."""
    import __spark_entry__ as entrymod
    from tests.compare import assert_matches

    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    assert_matches(qs["q_changepoint"](spark, sf_dir),
                   duck, os_["q_changepoint"])


def test_cusum_closed_form_equals_recurrence(spark):
    """Hypothesis: the prefix-sum/running-min closed form used by
    cusum_changepoints equals the sequential s_i = max(0, s_{i-1} + d_i)
    recurrence for arbitrary integer daily series (including negative
    deviations and multiple keys)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dbsync_spark.functions.timeseries import cusum_changepoints

    @settings(max_examples=6, deadline=None)
    @given(st.lists(st.integers(0, 4000), min_size=2, max_size=12),
           st.lists(st.integers(0, 4000), min_size=2, max_size=12))
    def check(series_a, series_b):
        rows = [("a", i, v) for i, v in enumerate(series_a)]
        rows += [("b", i, v) for i, v in enumerate(series_b)]
        df = spark.createDataFrame(rows, "k STRING, day INT, v_cents LONG")
        got = {(r.k, r.day): r.cusum_cents for r in cusum_changepoints(
            df, "k", "day", "v_cents",
            slack_div=20, threshold_mult=0).collect()}

        for key, series in (("a", series_a), ("b", series_b)):
            target = sum(series) // len(series)
            slack = target // 20
            s = 0
            for day, v in enumerate(series):
                s = max(0, s + (v - target - slack))
                if s > 0:  # threshold_mult=0 keeps exactly cusum > 0 rows
                    assert got[(key, day)] == s, (key, day, s, got)
                else:
                    assert (key, day) not in got

    check()
