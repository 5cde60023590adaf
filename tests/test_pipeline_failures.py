from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from dbsync_spark.changelog import ORDERS_PAYLOAD_SCHEMA, build_log_orders
from dbsync_spark.operators.apply import last_writer_wins, live_rows, parse_changes
from dbsync_spark.operators.route import SyncRule
from dbsync_spark.operators.status import current_status
from dbsync_spark.streaming.pipeline import SyncPipeline


def _fail_once_policy(changes):
    # keys %13==0 fail on their first attempt, then succeed — a flaky target
    return F.when(F.col("o_orderkey") % 13 == 0, 1).otherwise(0)


def test_streaming_with_failures_then_retry_converges(spark, sf_dir):
    """Full reference failure loop on the streaming pipeline: first drain
    leaves ERR (failed) + BLK (same-key followers) out of the target;
    driver retry passes converge to the failure-free LWW state with all
    rows acked OK and retry counters recorded."""
    workdir = tempfile.mkdtemp(prefix="dbsync_fail_")
    log = build_log_orders(spark, sf_dir).cache()
    log.repartition(2).write.parquet(f"{workdir}/log")
    rule = SyncRule("db1", "public", "orders", ("o_orderkey",))
    pipe = SyncPipeline(
        spark, rule, ORDERS_PAYLOAD_SCHEMA,
        log_path=f"{workdir}/log", target_path=f"{workdir}/target",
        status_path=f"{workdir}/status", checkpoint_path=f"{workdir}/ckpt",
        failure_policy=_fail_once_policy)
    pipe.run_to_completion()

    status1 = current_status(spark.read.parquet(f"{workdir}/status"))
    by_status = {r["status"]: r["cnt"] for r in
                 status1.groupBy("status").agg(F.count("*").alias("cnt")).collect()}
    assert by_status.get("ERR", 0) > 0
    # failed keys' data must NOT be in the target yet
    failed_live = live_rows(pipe.target.read(spark)).where(
        F.col("o_orderkey") % 13 == 0)
    expected_all = last_writer_wins(
        parse_changes(log, ORDERS_PAYLOAD_SCHEMA), ["o_orderkey"]).cache()
    exp_failed = expected_all.where(F.col("o_orderkey") % 13 == 0).count()
    assert failed_live.count() < exp_failed

    # driver retry loop: each tick lands the key's next event (fail-once
    # per event + strict per-key order) — a key with I,U,D all failing once
    # needs 3 ticks, exactly the reference's resolver cadence
    ticks = 0
    while pipe.retry_pass():
        ticks += 1
        assert ticks <= 4, "retry loop failed to converge"
    assert 1 <= ticks <= 3
    status2 = current_status(spark.read.parquet(f"{workdir}/status"))
    assert status2.where(F.col("status") != "OK").isEmpty()
    assert status2.agg(F.max("retry")).first()[0] >= 1  # counters persisted

    final = live_rows(pipe.target.read(spark))
    assert final.count() == expected_all.count()
    assert final.exceptAll(expected_all).count() == 0

    # idempotence: another retry pass with nothing to do
    assert pipe.retry_pass() is False


def test_max_retry_dead_letters(spark, sf_dir):
    """sys.maxRetry semantics (reference PgOperation.scala:389-405): a
    permanently-failing key is retried while retry < maxRetry, then
    becomes a dead letter — still ERR in the status table, excluded from
    further resolver passes (retry_pass returns False), never merged."""
    workdir = tempfile.mkdtemp(prefix="dbsync_deadletter_")
    log = build_log_orders(spark, sf_dir).cache()
    log.repartition(2).write.parquet(f"{workdir}/log")
    rule = SyncRule("db1", "public", "orders", ("o_orderkey",))

    def always_fail(changes):
        return F.when(F.col("o_orderkey") % 97 == 0, 10**9).otherwise(0)

    pipe = SyncPipeline(
        spark, rule, ORDERS_PAYLOAD_SCHEMA,
        log_path=f"{workdir}/log", target_path=f"{workdir}/target",
        status_path=f"{workdir}/status", checkpoint_path=f"{workdir}/ckpt",
        failure_policy=always_fail, max_retry=2)
    pipe.run_to_completion()

    ticks = 0
    while pipe.retry_pass():
        ticks += 1
        assert ticks <= 6, "dead-letter budget not enforced"
    assert ticks >= 1  # at least one resolver pass ran

    status = current_status(spark.read.parquet(f"{workdir}/status"))
    dead = status.where(F.col("status") == "ERR")
    assert not dead.isEmpty()                       # visible dead letters
    assert dead.agg(F.min("retry")).first()[0] >= 2  # budget exhausted
    # the failing keys never reached the target
    assert live_rows(pipe.target.read(spark)).where(
        F.col("o_orderkey") % 97 == 0).count() == 0
    # and a fresh pass confirms nothing retryable remains
    assert pipe.retry_pass() is False


def test_corrupt_only_backlog_does_not_busy_loop(spark, tmp_path, sf_dir):
    """A status table containing ONLY malformed-payload dead letters must
    make retry_pass a cheap no-op (False), not a full log read + empty
    ack append per tick — and must append no new status files."""
    import os

    from dbsync_spark.changelog import ORDERS_PAYLOAD_SCHEMA, build_log_orders
    from dbsync_spark.operators.route import SyncRule
    from dbsync_spark.streaming.pipeline import SyncPipeline
    from pyspark.sql import functions as F

    log = build_log_orders(spark, sf_dir).limit(20)
    corrupt = log.withColumn(
        "data", F.when(F.col("id") % 2 == 0, F.lit("{not json"))
        .otherwise(F.col("data")))
    log_path = str(tmp_path / "log")
    corrupt.write.parquet(log_path)
    pipe = SyncPipeline(
        spark, SyncRule("db1", "public", "orders", ("o_orderkey",)),
        ORDERS_PAYLOAD_SCHEMA, log_path=log_path,
        target_path=str(tmp_path / "t"), status_path=str(tmp_path / "s"),
        checkpoint_path=str(tmp_path / "c"))
    pipe.run_to_completion()
    n_files = len(os.listdir(str(tmp_path / "s")))
    # good rows applied OK; corrupt rows are ERR dead letters -> nothing
    # retryable remains
    assert pipe.retry_pass() is False
    assert len(os.listdir(str(tmp_path / "s"))) == n_files
