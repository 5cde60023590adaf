from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from dbsync_spark.operators.poll import mark_polled, poll_batch
from dbsync_spark.operators.route import SyncRule, condition
from dbsync_spark.operators.status import ack
from tests.compare import assert_matches

ORACLE_BACKED = [
    "q_poll_antijoin",
    "q_cond_filter",
    "q_fanout",
    "q_route",
    "q_status_agg",
    "q_retention",
    "q_window_count",
]


def test_all_declared_queries_match_oracle(spark, sf_dir, duck):
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    for name in ORACLE_BACKED:
        assert_matches(qs[name](spark, sf_dir), duck, os_[name])


def test_poll_then_mark_advances(spark):
    log = spark.range(1, 51).select(F.col("id"), F.lit("x").alias("payload"))
    polled = spark.createDataFrame([], "dataId LONG, createTime TIMESTAMP")
    b1 = poll_batch(log, polled, 10)
    ids1 = [r["id"] for r in b1.orderBy("id").collect()]
    assert ids1 == list(range(1, 11))
    polled2 = mark_polled(polled, b1)
    b2 = poll_batch(log, polled2, 10)
    ids2 = [r["id"] for r in b2.orderBy("id").collect()]
    assert ids2 == list(range(11, 21))


def test_per_op_conditions(spark):
    rows = [
        (1, "I", 5.0), (2, "I", -1.0),
        (3, "U", 5.0), (4, "U", -1.0),
        (5, "D", -1.0),
    ]
    df = spark.createDataFrame(rows, ["id", "operation", "value"])
    rule = SyncRule("db", "s", "t", ("id",),
                    insert_condition="value > 0",
                    update_condition="value > 0",
                    delete_condition="1=1")
    kept = sorted(r["id"] for r in df.where(condition(rule)).collect())
    # D passes unconditionally; negative I/U are filtered (per-op semantics,
    # not the reference's MySQL bug of reusing insertCondition)
    assert kept == [1, 3, 5]


def test_ack_retry_increments(spark):
    t0 = dt.datetime(2024, 1, 1)
    existing = spark.createDataFrame(
        [(1, "ERR", "boom", 0, t0)],
        "dataId LONG, status STRING, message STRING, retry INT, createTime TIMESTAMP")
    acks = spark.createDataFrame(
        [(1, "OK", "", t0 + dt.timedelta(seconds=5)),
         (2, "OK", "", t0)],
        "dataId LONG, status STRING, message STRING, createTime TIMESTAMP")
    out = {r["dataId"]: (r["status"], r["retry"]) for r in ack(existing, acks).collect()}
    assert out[1] == ("OK", 1)   # re-acked -> retry incremented, latest wins
    assert out[2] == ("OK", 0)   # first ack


def test_retention_expired_complement(spark, sf_dir):
    """expired() and sweep() partition the log exactly."""
    from pyspark.sql import functions as F

    from dbsync_spark.changelog import build_log_orders
    from dbsync_spark.operators.retention import expired, sweep
    from dbsync_spark.operators.status import derive_status_fixture

    log = build_log_orders(spark, sf_dir).cache()
    st = derive_status_fixture(log)
    cutoff = F.lit("1998-01-01").cast("timestamp")
    n_exp = expired(log, st, cutoff).count()
    n_kept = sweep(log, st, cutoff).count()
    assert n_exp + n_kept == log.count()
    assert n_exp > 0


def test_counter_bucket_retention(spark, sf_dir):
    """A2 bounded retention: keep only the newest N buckets
    (sync/ComponentManager.scala:93-106 semantics)."""
    from dbsync_spark.operators.window_agg import (
        daily_counts,
        hourly_counts,
        retain_recent_buckets,
    )
    from dbsync_spark.sources.tables import read_table

    events = read_table(spark, sf_dir, "events")
    hourly = hourly_counts(events, "ts")
    kept = retain_recent_buckets(hourly, 24)
    assert kept.count() == 24
    newest_all = hourly.agg(F.max("bucket_start")).first()[0]
    assert kept.agg(F.max("bucket_start")).first()[0] == newest_all
    daily = daily_counts(events, "ts")
    assert retain_recent_buckets(daily, 7).count() == 7


def test_approx_count_distinct_error_bound(spark, sf_dir):
    """HLL sketch path: approx_count_distinct within its advertised rsd of
    the exact count (the scale swap-in for countDistinct)."""
    from dbsync_spark.sources.tables import read_table

    events = read_table(spark, sf_dir, "events")
    exact = events.agg(F.countDistinct("user_id")).first()[0]
    approx = events.agg(
        F.approx_count_distinct("user_id", rsd=0.02)).first()[0]
    assert abs(approx - exact) / exact < 0.06  # 3x rsd


def test_analytic_queries_match_oracle(spark, sf_dir, duck):
    """Sweep the lighter analytic/declared queries not covered by the
    dedicated suites (heavier ones run via tools/drive_contract.py)."""
    import __spark_entry__ as entrymod
    from tests.compare import assert_matches

    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    for name in ["q_asof_join", "q_range_join", "q_rollup", "q_sessionize",
                 "q_distinct_users", "q_state_enriched", "q_ack_retry",
                 "q_bootstrap_reset", "q_salted_lww", "q_window_count_daily",
                 "q_token_count_bpe"]:
        assert_matches(qs[name](spark, sf_dir), duck, os_[name])
