"""Round-3 additions:
- status-dir small-files compaction (SyncApp.status_compaction_pass):
  a long-lived deployment appends one parquet file per micro-batch per
  status dir; the retention tick rewrites dirs past sys.statusCompactFiles
  down to a few files with the row set unchanged, serialized against the
  ack appenders by the shared ack_lock and crash-safe via rename-aside;
- the deterministic training-shard export writer (functions/export.py):
  shard = h15(key) % n, one file per shard directory, reproducible
  run-to-run, manifest == physical layout.
"""

from __future__ import annotations

import glob
import os
import shutil
import threading

import pytest
from pyspark.sql import functions as F

from dbsync_spark.app import DbSyncApp
from dbsync_spark.changelog import ORDERS_PAYLOAD_SCHEMA, build_log_orders
from dbsync_spark.config import parse_config
from dbsync_spark.functions.export import (export_shards, shard_assign,
                                           shard_manifest, update_shards)

APP_YAML = """
sys: {maxPollWait: 5000, dataKeepHours: 24, statusCompactFiles: 8}
db:
  - {name: db1, type: parquet}
  - {name: t1, type: parquet}
sync:
  - sourceDb: db1
    targetDb: t1
    sourceSchema: public
    sourceTable: orders
    sourceKeys: o_orderkey
"""


def _parquet_files(path):
    return [f for f in os.listdir(path) if f.endswith(".parquet")]


def _ack_rows(spark, path):
    return sorted(
        (r["dataId"], r["status"], r["retry"])
        for r in spark.read.parquet(path).collect())


def _mk_app(spark, sf_dir, tmp_path):
    cfg = parse_config(APP_YAML)
    app = DbSyncApp(spark, cfg, str(tmp_path / "app"),
                    {"db1.public.orders": ORDERS_PAYLOAD_SCHEMA})
    app.bootstrap()
    build_log_orders(spark, sf_dir).write.mode("append").parquet(
        app.pipelines[0].log_path)
    app.run_all_available()
    return app


@pytest.mark.slow
def test_status_compaction_preserves_rows_and_bounds_files(
        spark, sf_dir, tmp_path):
    app = _mk_app(spark, sf_dir, tmp_path)
    status_path = app.pipelines[0].status_path
    # simulate a long-lived stream: many tiny ack appends (materialized
    # rows — a real appender writes batch data, it does not re-list the
    # status dir compaction is about to rewrite)
    src = spark.read.parquet(status_path)
    one = spark.createDataFrame(src.limit(5).collect(), src.schema)
    for _ in range(12):
        one.write.mode("append").parquet(status_path)
    before = _ack_rows(spark, status_path)
    assert len(_parquet_files(status_path)) > 8

    assert app.status_compaction_pass() == 1
    assert _ack_rows(spark, status_path) == before  # row multiset identical
    assert len(_parquet_files(status_path)) <= 8

    # below threshold now -> second pass is a no-op
    assert app.status_compaction_pass() == 0
    # retention tick drives it (reference: VACUUM after the clean sweep)
    for _ in range(12):
        one.write.mode("append").parquet(status_path)
    rows_before_sweep = len(_ack_rows(spark, status_path))
    app.retention_pass(now=None)
    assert len(_parquet_files(status_path)) <= 8
    # compaction never drops acks: the full history is still readable
    # (retention of STATUS rows is a separate, log-driven concern)
    assert len(_ack_rows(spark, status_path)) == rows_before_sweep
    app.stop()


def test_status_compaction_waits_for_ack_lock(spark, sf_dir, tmp_path):
    """An appender holding the ack_lock blocks the swap: no ack written
    under the lock can be dropped by a concurrent compaction."""
    app = _mk_app(spark, sf_dir, tmp_path)
    status_path = app.pipelines[0].status_path
    src = spark.read.parquet(status_path)
    one = spark.createDataFrame(src.limit(1).collect(), src.schema)
    for _ in range(10):
        one.write.mode("append").parquet(status_path)

    lock = app._ack_locks[status_path]
    done = threading.Event()

    def compact_thread():
        app.status_compaction_pass()
        done.set()

    with lock:  # simulate an in-flight ack append
        t = threading.Thread(target=compact_thread)
        t.start()
        assert not done.wait(timeout=0.5)  # blocked on the lock
        extra = _ack_rows(spark, status_path)
        one.write.mode("append").parquet(status_path)
    t.join(timeout=60)
    assert done.is_set()
    # the row appended while compaction waited survived the swap
    assert len(_ack_rows(spark, status_path)) == len(extra) + 1
    app.stop()


def test_export_shards_layout_roundtrip_determinism(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = str(tmp_path / "shards")
    export_shards(docs, out, "doc_id", n_shards=8, order_col="doc_id")

    # layout: every shard directory exists with exactly one data file
    for s in range(8):
        files = glob.glob(os.path.join(out, f"shard={s}", "*.parquet"))
        assert len(files) == 1, f"shard {s}: {files}"

    # roundtrip: nothing lost, nothing duplicated
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()

    # physical placement matches the declared assignment rule
    assigned = shard_assign(docs, "doc_id", 8).select("doc_id", "shard")
    mism = (back.select("doc_id", "shard")
            .join(assigned.withColumnRenamed("shard", "expect"), "doc_id")
            .where(F.col("shard") != F.col("expect")))
    assert mism.count() == 0

    # manifest == what was written, and a re-export is byte-identical
    # in assignment (reproducible dataset builds)
    man = {r["shard"]: r["n_rows"]
           for r in shard_manifest(docs, "doc_id", 8).collect()}
    on_disk = {s: spark.read.parquet(out).where(F.col("shard") == s).count()
               for s in range(8)}
    assert man == on_disk
    out2 = str(tmp_path / "shards2")
    export_shards(docs, out2, "doc_id", n_shards=8, order_col="doc_id")
    a = sorted((r["doc_id"], r["shard"]) for r in
               spark.read.parquet(out).select("doc_id", "shard").collect())
    b = sorted((r["doc_id"], r["shard"]) for r in
               spark.read.parquet(out2).select("doc_id", "shard").collect())
    assert a == b
    shutil.rmtree(out2)


def test_update_shards_touches_only_affected_dirs(spark, sf_dir, tmp_path):
    """Incremental corpus refresh: new/updated docs rewrite only the
    shards they hash into; untouched shard files are bit-identical
    (same inode set untouched), and the result equals a full re-export."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = str(tmp_path / "inc_shards")
    export_shards(docs, out, "doc_id", n_shards=8, order_col="doc_id")

    # 3 updated docs + 2 brand-new ones
    from dbsync_spark.functions.export import update_shards
    upd = (docs.limit(3)
           .withColumn("text", F.concat(F.col("text"), F.lit(" v2"))))
    new = (docs.limit(2)
           .withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000)))
    batch = upd.unionByName(new)
    expect_touched = sorted(
        r["shard"] for r in
        shard_assign(batch, "doc_id", 8).select("shard").distinct().collect())

    stat_before = {
        f: os.stat(os.path.join(out, f"shard={s}", f)).st_mtime_ns
        for s in range(8) if s not in expect_touched
        for f in os.listdir(os.path.join(out, f"shard={s}"))
        if f.endswith(".parquet")
    }
    touched = update_shards(spark, out, batch, "doc_id", 8,
                            order_col="doc_id")
    assert touched == expect_touched
    stat_after = {
        f: os.stat(os.path.join(out, f"shard={s}", f)).st_mtime_ns
        for s in range(8) if s not in expect_touched
        for f in os.listdir(os.path.join(out, f"shard={s}"))
        if f.endswith(".parquet")
    }
    assert stat_before == stat_after  # untouched shards never rewritten

    # content == full re-export of the logically-updated corpus
    full = docs.join(batch.select("doc_id"), "doc_id", "left_anti") \
        .unionByName(batch)
    back = spark.read.parquet(out)
    assert back.count() == full.count()
    got = sorted((r["doc_id"], r["text"]) for r in
                 back.select("doc_id", "text").collect())
    want = sorted((r["doc_id"], r["text"]) for r in
                  full.select("doc_id", "text").collect())
    assert got == want

    # idempotent: re-applying the same batch changes nothing
    update_shards(spark, out, batch, "doc_id", 8, order_col="doc_id")
    assert spark.read.parquet(out).count() == full.count()


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
