from __future__ import annotations


import __spark_entry__ as entrymod
from dbsync_spark.changelog import ORDERS_PAYLOAD_SCHEMA, build_log_orders
from dbsync_spark.operators.apply import (last_writer_wins, live_rows,
                                          merge_snapshot, parse_changes)
from tests.compare import assert_matches


def test_q_apply_upsert_matches_oracle(spark, sf_dir, duck):
    q = entrymod.queries()["q_apply_upsert"]
    assert_matches(q(spark, sf_dir), duck, entrymod.oracle_sql()["q_apply_upsert"])


def test_q_apply_delete_matches_oracle(spark, sf_dir, duck):
    q = entrymod.queries()["q_apply_delete"]
    assert_matches(q(spark, sf_dir), duck, entrymod.oracle_sql()["q_apply_delete"])


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert "o_orderkey" in df.columns


def test_lww_tiny_manual(spark):
    rows = [
        (1, "I", 10, "a"),
        (2, "U", 10, "b"),
        (3, "I", 20, "x"),
        (4, "D", 20, "x"),
        (5, "I", 30, "z"),
    ]
    df = spark.createDataFrame(rows, ["id", "operation", "k", "v"])
    out = {r["k"]: r["v"] for r in last_writer_wins(df, ["k"]).collect()}
    assert out == {10: "b", 30: "z"}


def test_merge_into_idempotent_replay(spark, sf_dir):
    """At-least-once replay converges: applying the same log onto the
    already-merged snapshot yields the identical state (reference relies on
    idempotent upserts, dbopt/PgOperation.scala:47-79)."""
    log = build_log_orders(spark, sf_dir)
    changes = parse_changes(log, ORDERS_PAYLOAD_SCHEMA)
    once = merge_snapshot(None, changes, ["o_orderkey"])
    twice = merge_snapshot(once, changes, ["o_orderkey"])
    assert once.count() == twice.count()
    assert once.exceptAll(twice).count() == 0
    assert twice.exceptAll(once).count() == 0
    want = last_writer_wins(changes, ["o_orderkey"])
    assert live_rows(twice).exceptAll(want).count() == 0
    assert want.exceptAll(live_rows(twice)).count() == 0


def test_merge_into_applies_increment(spark):
    existing = merge_snapshot(None, spark.createDataFrame(
        [(1, "I", 10, "old"), (2, "I", 20, "keep")],
        ["id", "operation", "k", "v"]), ["k"])
    inc = spark.createDataFrame(
        [(3, "U", 10, "new"), (4, "I", 30, "ins"), (5, "D", 20, "keep")],
        ["id", "operation", "k", "v"],
    )
    merged = live_rows(merge_snapshot(existing, inc, ["k"]))
    out = {r["k"]: r["v"] for r in merged.collect()}
    assert out == {10: "new", 30: "ins"}
