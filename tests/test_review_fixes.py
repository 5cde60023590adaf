"""Regression tests for defects found in the round-3 self-review:

1. sweep() joined the log against NON-deduplicated OK acks — an
   at-least-once replayed micro-batch re-acks the same dataId, and the
   left join then emitted one copy of every KEPT row per duplicate ack,
   which rewrite-mode retention wrote back to the log permanently.
2. update_shards ran no crash recovery before reading the layout and
   did not pin the sharding rule — a re-run after a mid-swap crash saw
   an empty shard (data loss; that re-run is one of the crash windows of
   tests/test_dir_swap.py), and a refresh with a different n_shards
   scattered keys into wrong directories.
3. A log file swept by segment retention between a batch's ack write
   and its checkpoint commit wedged the stream forever on restart
   (FILE_NOT_EXIST on every replay).
4. ComponentRegistry.statuses() iterated the live dicts while the
   listener-bus thread register()ed new queries.
5. ConnectionPool._open slept its backoff after the FINAL failed
   attempt, delaying the raise for nothing.
"""

from __future__ import annotations

import os
import threading
import time

from pyspark.sql import functions as F

from dbsync_spark.changelog import ORDERS_PAYLOAD_SCHEMA, build_log_orders
from dbsync_spark.functions.export import export_shards, update_shards
from dbsync_spark.operators.retention import sweep
from dbsync_spark.operators.route import SyncRule
from dbsync_spark.streaming.pipeline import SyncPipeline


def test_sweep_not_multiplied_by_duplicate_acks(spark):
    log = spark.range(100).select(
        F.col("id"),
        F.timestamp_seconds(F.lit(1_000_000) + F.col("id")).alias("createTime"))
    # every id acked OK TWICE (replayed micro-batch), half expired
    acks = spark.range(100).select(
        F.col("id").alias("dataId"), F.lit("OK").alias("status"))
    acks = acks.unionByName(acks)
    cutoff = F.timestamp_seconds(F.lit(1_000_050))  # ids 0..49 expired
    kept = sweep(log, acks, cutoff)
    assert kept.count() == 50              # NOT 100 (pre-fix: dup copies)
    assert kept.select("id").distinct().count() == 50


def test_update_shards_pins_sharding_rule(spark, sf_dir, tmp_path):
    import pytest

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = str(tmp_path / "shards")
    export_shards(docs, out, "doc_id", n_shards=8)
    batch = docs.limit(2)
    with pytest.raises(ValueError, match="n_shards"):
        update_shards(spark, out, batch, "doc_id", 4)
    with pytest.raises(ValueError, match="key"):
        update_shards(spark, out, batch, "text", 8)


def test_replay_with_swept_log_file_does_not_wedge(spark, sf_dir, tmp_path):
    """Crash between a batch's ack write and its checkpoint commit, with
    segment retention having unlinked the batch's (fully OK-acked) file:
    the restarted stream must skip the missing file and converge, not
    fail FILE_NOT_EXIST forever."""
    workdir = str(tmp_path / "wedge")
    log = build_log_orders(spark, sf_dir).cache()
    first = log.where(F.col("operation") == "I")
    second = log.where(F.col("operation") != "I")

    first.coalesce(1).write.mode("append").parquet(f"{workdir}/log")
    rule = SyncRule("db1", "public", "orders", ("o_orderkey",))
    pipe = SyncPipeline(
        spark, rule, ORDERS_PAYLOAD_SCHEMA,
        log_path=f"{workdir}/log", target_path=f"{workdir}/target",
        status_path=f"{workdir}/status", checkpoint_path=f"{workdir}/ckpt")
    pipe.run_to_completion()

    before_files = set(os.listdir(f"{workdir}/log"))
    second.coalesce(1).write.mode("append").parquet(f"{workdir}/log")
    pipe.run_to_completion()  # batch 1 processed, acked, committed
    from dbsync_spark.operators.apply import live_rows

    want = sorted(r["o_orderkey"] for r in
                  live_rows(pipe.target.read(spark))
                  .select("o_orderkey").collect())

    # simulate the crash: un-commit the latest batch (Spark will replay
    # it from offsets/ on restart) AND sweep the file it read — exactly
    # what segment retention does to a fully-acked expired file
    commits = sorted(f for f in os.listdir(f"{workdir}/ckpt/commits")
                     if f.isdigit())
    os.remove(os.path.join(f"{workdir}/ckpt/commits", commits[-1]))
    crc = os.path.join(f"{workdir}/ckpt/commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):  # stale Hadoop checksum would block re-commit
        os.remove(crc)
    for f in set(os.listdir(f"{workdir}/log")) - before_files:
        p = os.path.join(f"{workdir}/log", f)
        if f.endswith(".parquet"):
            os.remove(p)

    pipe2 = SyncPipeline(
        spark, rule, ORDERS_PAYLOAD_SCHEMA,
        log_path=f"{workdir}/log", target_path=f"{workdir}/target",
        status_path=f"{workdir}/status", checkpoint_path=f"{workdir}/ckpt")
    pipe2.run_to_completion()  # replay must not throw
    got = sorted(r["o_orderkey"] for r in
                 live_rows(pipe2.target.read(spark))
                 .select("o_orderkey").collect())
    assert got == want  # replay of already-merged changes was a no-op


def test_registry_statuses_safe_under_concurrent_register():
    from dbsync_spark.monitor.health import ComponentRegistry

    reg = ComponentRegistry()
    stop = threading.Event()
    errors: list[Exception] = []

    def writer():
        i = 0
        while not stop.is_set():
            reg.register(f"q{i}", 1000.0)
            i += 1

    t = threading.Thread(target=writer)
    t.start()
    try:
        deadline = time.monotonic() + 1.0
        while time.monotonic() < deadline:
            try:
                reg.statuses()
            except Exception as e:  # noqa: BLE001
                errors.append(e)
                break
    finally:
        stop.set()
        t.join()
    assert not errors, f"statuses() raced register(): {errors[0]!r}"


def test_pool_no_backoff_sleep_after_final_attempt():
    from dbsync_spark.sinks.pool import ConnectionPool

    def dead():
        raise ConnectionError("down")

    pool = ConnectionPool(dead, max_active=1, name="p",
                          connect_retries=3, retry_backoff=0.2)
    t0 = time.monotonic()
    try:
        pool.acquire()
        raise AssertionError("expected ConnectionError")
    except ConnectionError:
        pass
    elapsed = time.monotonic() - t0
    # backoffs 0.2 + 0.4 between attempts; pre-fix added a pointless
    # 0.8s sleep after the last failure
    assert elapsed < 1.0, f"final-attempt backoff still present: {elapsed:.2f}s"
