"""Fleet-wide physical-plan audit: every declared query's plan is checked
for scale-hostile operators. This is the 100 TB readiness gate — a query
can be value-correct at sf0.01 and still be a cross join or a
single-partition sort that dies at scale.

The default run audits a fixed SAMPLE that touches every exception list
below, the TPC-H suite and the training queries; the whole fleet (a
minutes-scale plan sweep) runs under `-m slow`.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod

# queries whose *driver-side setup* runs streaming/multi-job work; their
# final DataFrame is a read of materialized output, not the operator plan
SETUP_HEAVY = {"q_streaming_apply", "q_retry_replay", "q_streaming_dtw",
               "q_streaming_spans"}

# intentional 1-row / tiny-side broadcast nested loops (scalar joins)
BNLJ_ALLOWED = {
    "q_top_supplier",      # 1-row max join (scalar subquery shape)
    "q_mixture_weights",   # 1-row scale-factor broadcast
    "q_tfidf_topk",        # 1-row corpus-size (N) broadcast
    "q_bm25_topk",         # 1-row corpus stats (N, sum dl) broadcast
    "q_streaming_bm25",    # same scoring core over the persisted index
    "q_bigram_pmi",        # 1-row (n_bigrams, n_tokens) totals broadcast
    "q_gap_fill",          # broadcast hour-spine x distinct-series cross
    "q_ngram_jaccard",     # broadcast query-doc shingle set
    "q_range_join",        # broadcast tier table (non-equi by design)
    "q_asof_join",         # union-and-fill uses a broadcast bound set
    "q_ann_srp",           # broadcast hyperplanes/query buckets
    "q_ann_ivf",           # broadcast centroids
    "q_cosine_topk",       # broadcast query vectors (tiny by contract)
    "q_knn_classify",      # broadcast query vectors (cosine_topk scorer)
    "q_ann_filtered",      # broadcast query vectors over the filtered
                           # corpus (cosine_topk scorer; filter is an
                           # equi semi-join pushed BELOW the BNLJ)
    "q_embed_dedup",       # broadcast bucket bounds
    "q_important_parts",     # 1-row total-value scalar broadcast (Q11)
    "q_global_sales_opportunity",  # 1-row avg-balance scalar broadcast (Q22)
    "q_heavy_hitters",     # 1-row token-total broadcast (threshold filter)
    "q_lm_surprisal",      # 1-row vocab-size broadcast (smoothing denom)
    "q_lm_surprisal_exact",  # same 1-row vocab broadcast, integer twin
}

# global-sort windows over dimension-sized inputs (documented exceptions)
# q_cumulative_crossover's window runs over the POST-aggregation daily
# frame (bounded by calendar days at any data scale); q_rfm's ntile
# windows run over the per-customer aggregate (scale path via
# approx_percentile boundaries documented in its docstring). The fact
# scans and aggregations beneath both are fully distributed.
GLOBAL_WINDOW_ALLOWED = {"q_ntile_customers", "q_cumulative_crossover",
                         "q_rfm"}

# queries consuming the FIXTURES.md §C change-log builders: those build
# global ids with a row_number over the fixture table (fixture-only
# construction — the bench path uses key-derived ids with no global sort,
# see bench.build_bench_log). The engine-side plan beyond the builder has
# no global window.
LOG_FIXTURE_CONSUMERS = {
    "q_apply_upsert", "q_apply_delete", "q_poll_antijoin", "q_cond_filter",
    "q_fanout", "q_route", "q_status_agg", "q_retention", "q_ack_retry",
    "q_bootstrap_reset", "q_salted_lww", "q_state_enriched", "q_topk_orders",
    "q_change_history", "q_partition", "q_snapshot_diff",
    "q_corrupt_deadletter", "q_changed_columns", "q_time_travel",
}


# the default run's fixed sample (the `fleet` param audits every query)
SAMPLE = (
    "q_pricing_summary",      # TPC-H Q1, widest lineitem scan
    "q_important_parts",      # TPC-H Q11; BNLJ_ALLOWED
    "q_market_share",         # TPC-H Q8, eight-way join
    "q_ntile_customers",      # GLOBAL_WINDOW_ALLOWED
    "q_running_total",        # partitioned window: global-window negative
    "q_apply_upsert",         # LOG_FIXTURE_CONSUMERS; full-row scan
    "q_mixture_weights",      # training; BNLJ_ALLOWED
    "q_hash_sample",          # training
)

from tests.plans import plan_text as _plan  # noqa: E402


@pytest.fixture(scope="module", params=[
    "sample", pytest.param("fleet", marks=pytest.mark.slow)])
def plans(request, spark, sf_dir):
    queries = entrymod.queries()
    names = SAMPLE if request.param == "sample" else queries
    return {name: _plan(queries[name](spark, sf_dir)) for name in names
            if name not in SETUP_HEAVY}


def test_sample_covers_every_exception_class():
    """The default-run sample keeps one query from each allow-list, the
    TPC-H suite and the training queries, and stays small."""
    modules = {entrymod.queries()[name].__module__ for name in SAMPLE}
    assert len(SAMPLE) <= 12
    assert not set(SAMPLE) & SETUP_HEAVY
    for allowed in (BNLJ_ALLOWED, GLOBAL_WINDOW_ALLOWED,
                    LOG_FIXTURE_CONSUMERS):
        assert set(SAMPLE) & allowed
    assert {"dbsync_spark.queries_tpch2",
            "dbsync_spark.queries_training"} <= modules


def test_no_cartesian_products(plans):
    bad = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not bad, f"cartesian products in: {bad}"


def test_broadcast_nested_loop_only_where_intended(plans):
    bad = [n for n, p in plans.items()
           if "BroadcastNestedLoopJoin" in p and n not in BNLJ_ALLOWED]
    assert not bad, f"unexpected BroadcastNestedLoopJoin in: {bad}"


def test_no_global_window_on_fact_tables(plans):
    """A window spec with an empty PARTITION BY forces every row through
    one task. Only allowed for declared dimension-table queries."""
    from tests.plans import _has_global_window

    bad = [name for name, plan in plans.items()
           if name not in GLOBAL_WINDOW_ALLOWED | LOG_FIXTURE_CONSUMERS
           and _has_global_window(plan)]
    assert not bad, f"global (unpartitioned) window in: {bad}"


def test_audit_plan_api(spark, sf_dir):
    """audit_plan flags scale-hostile shapes and reports pushdown."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tests.plans import audit_plan

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    good = (li.where(F.col("l_quantity") > 10)
            .groupBy("l_returnflag").count())
    a = audit_plan(good)
    assert not a.scale_hostile
    assert a.n_exchanges >= 1
    assert any("l_quantity" in f for f in a.pushed_filters)
    assert all(len(cols) <= 3 for cols in a.read_schemas)  # pruned scan

    ranked = li.withColumn(
        "rn", F.row_number().over(Window.orderBy("l_orderkey")))
    b = audit_plan(ranked)
    assert b.has_global_window
    assert "unpartitioned window (single-task sort)" in b.scale_hostile


def test_parquet_scans_are_pruned(plans):
    """No query may read every column of lineitem (widest fact table)
    unless it genuinely projects the full row (apply-path queries do —
    their payload is the full row image)."""
    full_row_ok = {"q_apply_upsert", "q_apply_delete", "q_salted_lww",
                   "q_poll_antijoin", "q_partition", "q_cond_filter",
                   "q_fanout", "q_route", "q_status_agg", "q_retention",
                   "q_ack_retry", "q_bootstrap_reset", "q_state_enriched",
                   "q_topk_orders", "q_change_history"}
    bad = []
    for name, plan in plans.items():
        if name in full_row_ok:
            continue
        for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
            cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
            if "l_comment" in cols or len(
                    [c for c in cols if c.startswith("l_")]) >= 11:
                bad.append(name)
                break
    assert not bad, f"unpruned lineitem scan in: {bad}"
