"""Plan-contract tests: lock in the physical-plan properties that make the
engine scale (SURVEY.md §4). If a refactor reintroduces a global sort, an
extra shuffle, or kills pushdown, these fail before any benchmark does."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from dbsync_spark.operators.apply import last_writer_wins, parse_changes
from dbsync_spark.operators.route import SyncRule, route, rules_df
from dbsync_spark.sources.tables import read_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _bench_like_log(spark, sf_dir):
    """Change log with key-derived ids (the scale path — no fixture
    row_number sorts)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("long").alias("id"),
        F.lit("I").alias("operation"),
        F.to_json(F.struct(*li.columns)).alias("data"),
    )


def test_lww_plan_single_exchange_with_partial_agg(spark, sf_dir):
    """The apply path must be: scan -> partial max_by (map-side combine) ->
    ONE hash exchange on the key -> final agg. No SinglePartition
    exchanges, no window operators."""
    log = _bench_like_log(spark, sf_dir)
    schema = spark.read.parquet(f"{sf_dir}/lineitem.parquet").schema
    final = last_writer_wins(parse_changes(log, schema),
                             ["l_orderkey", "l_linenumber"])
    plan = _plan(final)
    assert "partial_max_by" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan
    assert "Window" not in plan


def test_filter_and_pruning_reach_scan(spark, sf_dir):
    """Predicates and column pruning must reach the parquet scan."""
    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("event_type") == "purchase")
          .select("event_id", "value"))
    plan = _plan(ev)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)]" in plan
    assert "ReadSchema: struct<event_id:bigint,event_type:string,value:double>" in plan


def test_route_join_is_broadcast(spark, sf_dir, tmp_path):
    """Routing joins the log to the (tiny) rule table via broadcast —
    the log must never shuffle for it. The log is materialized first so
    the join keys are real columns (in-memory literals would constant-fold
    into a nested-loop join, which a stored log never hits)."""
    (_bench_like_log(spark, sf_dir)
     .withColumn("sourceDb", F.lit("db1"))
     .withColumn("schema", F.lit("public"))
     .withColumn("table", F.lit("lineitem"))
     .write.parquet(str(tmp_path / "log")))
    log = spark.read.parquet(str(tmp_path / "log"))
    rules = rules_df(spark, [
        SyncRule("db1", "public", "lineitem", ("id",))])
    routed = route(log, rules)
    plan = _plan(routed)
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_status_counts_partial_aggregation(spark, sf_dir):
    """One-pass status aggregation keeps map-side partial counts."""
    from dbsync_spark.changelog import build_log_orders
    from dbsync_spark.operators.status import derive_status_fixture, status_counts

    log = build_log_orders(spark, sf_dir)
    counts = status_counts(log, derive_status_fixture(log))
    plan = _plan(counts)
    assert "partial_count" in plan


def test_runtime_bloom_filter_injected_at_scale_thresholds(spark, sf_dir):
    """SCALE_CONFS story: when a selective dimension filter feeds a
    shuffle join whose probe side crosses the application threshold, the
    optimizer builds a bloom filter from the filtered side and applies it
    to the fact scan BEFORE the shuffle — at 100 TB that shrinks the
    shuffled volume to roughly the matching fraction. Fixture sizes sit
    under the production defaults, so the test lowers the application
    threshold to prove the injection actually happens for our join shape
    (and restores every conf afterwards)."""
    saved = {}
    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "10KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    for k, v in overrides.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = (spark.read.parquet(f"{sf_dir}/orders.parquet")
                  .where(F.col("o_orderpriority") == "1-URGENT"))
        j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
             .groupBy("o_orderpriority").count())
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, "runtime bloom filter not injected"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_from_json_schema_pruned_to_accessed_fields(spark, sf_dir):
    """JSON-decode is the apply path's dominant cost; when a consumer only
    touches a few payload fields, Catalyst must narrow the from_json
    schema to exactly those fields (OptimizeJsonExprs) instead of decoding
    the full row image. At 100 TB this is the difference between decoding
    one column and nine."""
    from dbsync_spark.changelog import ORDERS_PAYLOAD_SCHEMA, build_log_orders
    from dbsync_spark.operators.apply import parse_changes
    from tests.plans import plan_text

    changes = parse_changes(build_log_orders(spark, sf_dir),
                            ORDERS_PAYLOAD_SCHEMA)
    plan = plan_text(changes.select("id", "o_orderkey"))
    # pruned decode: from_json's schema argument is the single accessed
    # field, not the full 6-field payload StructType (which still appears
    # in the fixture's encode side, so match the decode schema exactly)
    assert "from_json(StructField(o_orderkey,LongType,true)," in plan
    assert ("from_json(StructField(o_orderkey,LongType,true),"
            "StructField") not in plan


def test_fan_out_is_identity_when_input_already_parallel(spark, sf_dir):
    """fan_out must inject its repartition ONLY for inputs with fewer
    splits than cores — at production scale (splits >= cores) it is the
    identity and adds no exchange."""
    from dbsync_spark.sources.tables import fan_out

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cores = spark.sparkContext.defaultParallelism
    wide = li.repartition(cores + 4)
    assert fan_out(wide) is wide  # identity, not just same partition count

    narrow = li.coalesce(1)
    out = fan_out(narrow)
    assert out is not narrow
    assert out.rdd.getNumPartitions() == cores
