from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from dbsync_spark.operators.apply import last_writer_wins
from dbsync_spark.operators.retry import (
    apply_with_retry,
    bootstrap_reset,
    converged_apply,
)
from tests.compare import assert_matches


def test_q_retry_replay_matches_failure_free_oracle(spark, sf_dir, duck):
    q = entrymod.queries()["q_retry_replay"]
    assert_matches(q(spark, sf_dir), duck, entrymod.oracle_sql()["q_retry_replay"])


def test_converges_within_three_passes(spark, sf_dir):
    """BASELINE.md criterion: 1%-ish injected failures converge within 3
    retry passes."""
    from dbsync_spark.changelog import ORDERS_PAYLOAD_SCHEMA, build_log_orders
    from dbsync_spark.operators.apply import parse_changes

    log = build_log_orders(spark, sf_dir)
    changes = parse_changes(log, ORDERS_PAYLOAD_SCHEMA)
    fail_until = F.when(F.col("o_orderkey") % 97 == 0, 2).otherwise(0)
    state, passes = apply_with_retry(
        changes, key=F.col("o_orderkey").cast("string"), fail_until=fail_until)
    assert state.where(F.col("status") != "OK").isEmpty()
    # per-ROW retries are bounded by the injected fail_until=2; global passes
    # are bounded by the longest per-key chain (I,U,D = 3 events, each
    # attempted only after its predecessor succeeds — strict per-key order):
    # 3 events x 2 failures + 1 = 7.
    assert state.agg(F.max("tries")).first()[0] == 2
    assert passes <= 7


def test_blocking_preserves_per_key_order(spark):
    """A failed change must block LATER changes of the same key (BLK) while
    unrelated keys flow — then replay in id order once resolved."""
    rows = [
        # key 1: id1 fails once -> id2/id3 blocked on pass 1
        (1, 1, 1), (2, 1, 0), (3, 1, 0),
        # key 2: never fails
        (4, 2, 0),
    ]
    df = spark.createDataFrame(rows, ["id", "k", "fail_until"])
    # Pass 1 only:
    state, passes = apply_with_retry(
        df, key=F.col("k").cast("string"), fail_until=F.col("fail_until"),
        max_passes=1)
    st1 = {r["id"]: r["status"] for r in state.collect()}
    assert st1 == {1: "ERR", 2: "BLK", 3: "BLK", 4: "OK"}
    # To convergence:
    state, passes = apply_with_retry(
        df, key=F.col("k").cast("string"), fail_until=F.col("fail_until"))
    assert passes == 2
    assert all(r["status"] == "OK" for r in state.collect())
    retries = {r["id"]: r["tries"] for r in state.collect()}
    assert retries == {1: 1, 2: 0, 3: 0, 4: 0}


@settings(max_examples=10, deadline=None)
@given(
    ops=st.lists(
        st.tuples(st.integers(0, 4),              # key
                  st.sampled_from(["I", "U", "D"]),
                  st.integers(0, 100)),           # value
        min_size=1, max_size=30),
    fail_keys=st.sets(st.integers(0, 4)),
)
@pytest.mark.slow
def test_property_convergence_equals_failure_free(spark, ops, fail_keys):
    """Random I/U/D sequences + random injected failures: the converged
    state always equals the failure-free LWW reduction (idempotence under
    at-least-once replay)."""
    rows = [(i + 1, op, k, v) for i, (k, op, v) in enumerate(ops)]
    df = spark.createDataFrame(rows, ["id", "operation", "k", "v"])
    baseline = {(r["k"], r["v"]) for r in last_writer_wins(df, ["k"]).collect()}

    fail_until = F.when(F.col("k").isin(list(fail_keys) or [-1]), 2).otherwise(0)
    state, _ = apply_with_retry(df, key=F.col("k").cast("string"),
                                fail_until=fail_until)
    applied = converged_apply(df, state)
    got = {(r["k"], r["v"]) for r in last_writer_wins(applied, ["k"]).collect()}
    assert got == baseline


def test_bootstrap_reset(spark):
    rows = [
        (1, "OK", "", 0), (2, "ERR", "x", 1), (3, "BLK", "", 0),
        (4, "ERR", "x", 5),
    ]
    df = spark.createDataFrame(rows, ["dataId", "status", "message", "retry"])
    kept = {r["dataId"] for r in bootstrap_reset(df).collect()}
    assert kept == {1}
    kept2 = {r["dataId"] for r in bootstrap_reset(df, max_retry=5).collect()}
    assert kept2 == {1, 4}  # exhausted ERR stays as dead letter
