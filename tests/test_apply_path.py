"""SyncPipeline's one apply path, on hand-built change logs of a few rows.

The stream (process_batch) and the resolver tick (retry_pass) decode once,
pin once and append one ack row per change: applied -> OK, failed -> ERR
with same-key followers BLK, malformed -> ERR dead letter, filtered by the
rule's condition -> OK. Fast enough for the default selection; the
orders-scale failure loops stay in test_pipeline_failures.py.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import os
import sqlite3
import threading
import time

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from dbsync_spark.operators.apply import live_rows
from dbsync_spark.operators.route import SyncRule
from dbsync_spark.operators.status import current_status
from dbsync_spark.schemas import SYNC_DATA_SCHEMA
from dbsync_spark.sinks.jdbc import JdbcTable, sqlite_connect_factory
from dbsync_spark.sinks.table import BucketedTable
from dbsync_spark.streaming.pipeline import MALFORMED_MSG, SyncPipeline

SCHEMA = StructType([StructField("k", IntegerType()),
                     StructField("v", IntegerType())])
RULE = SyncRule("db1", "public", "kv", ("k",), target_db="t1")
T0 = dt.datetime(2026, 1, 1)
BAD = "{not json"


def _kv(k, v):
    return json.dumps({"k": k, "v": v})


# (id, operation, data): 20 changes over 10 keys
LOG = [
    (1, "I", _kv(1, 10)), (2, "U", _kv(1, 11)), (3, "U", _kv(1, 12)),
    (4, "I", _kv(2, 20)), (5, "D", _kv(2, 20)),
    (6, "I", _kv(3, 30)), (7, "U", _kv(3, 31)),
    (8, "I", BAD),
    (9, "I", _kv(4, 40)), (10, "U", _kv(4, 41)),
    (11, "I", _kv(5, 50)), (12, "D", _kv(5, 50)), (13, "I", _kv(5, 52)),
    (14, "I", _kv(6, 60)), (15, "I", _kv(7, 70)), (16, "U", _kv(6, 61)),
    (17, "I", _kv(8, 80)), (18, "I", _kv(9, 90)), (19, "U", _kv(8, 81)),
    (20, "I", _kv(10, 100)),
]
# change id -> failed attempts before the target takes it: id 2 fails
# once (id 3 is BLK behind it), id 4 twice (id 5 BLK behind it)
FAILS = {2: 1, 4: 2}


def _policy(_changes):
    col = F.lit(0)
    for cid, n in FAILS.items():
        col = F.when(F.col("id") == cid, n).otherwise(col)
    return col


def _write_log(spark, path, changes):
    rows = [(cid, RULE.source_db, RULE.target_db, RULE.source_schema,
             RULE.source_table, op, data, T0 + dt.timedelta(seconds=cid))
            for cid, op, data in changes]
    spark.createDataFrame(rows, SYNC_DATA_SCHEMA).coalesce(1).write.mode(
        "append").parquet(path)


def _oracle(changes, kept=lambda op, row: True):
    """Per key, the changes in id order, skipping malformed payloads and
    the changes `kept` rejects."""
    state = {}
    for _, op, data in sorted(changes):
        if data == BAD or not kept(op, json.loads(data)):
            continue
        row = json.loads(data)
        if op == "D":
            state.pop(row["k"], None)
        else:
            state[row["k"]] = row["v"]
    return state


_GROUPS = itertools.count()


def _jobs(spark, fn) -> int:
    """Spark jobs fn() runs on this thread."""
    sc = spark.sparkContext
    group = f"apply-path-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is fed by an asynchronous listener queue: on a
    # loaded host fn's last job can still be queued when fn returns, so
    # drain the bus before counting
    sc._jsc.sc().listenerBus().waitUntilEmpty(120_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _acks(spark, status_path):
    """dataId -> [(status, message, retry)] over the raw ack log."""
    out = {}
    for r in spark.read.parquet(status_path).orderBy("createTime").collect():
        out.setdefault(r["dataId"], []).append(
            (r["status"], r["message"], r["retry"]))
    return out


def _final(spark, status_path):
    return {r["dataId"]: (r["status"], r["retry"]) for r in
            current_status(spark.read.parquet(status_path)).collect()}


def _pipe(spark, tmp_path, target=None, rule=RULE, policy=None):
    target_path = str(tmp_path / "target")
    if target is None:
        target = BucketedTable(target_path, list(rule.source_keys), 4)
    return SyncPipeline(
        spark, rule, SCHEMA, log_path=str(tmp_path / "log"),
        target_path=target_path,
        status_path=str(tmp_path / "status"),
        checkpoint_path=str(tmp_path / "ckpt"),
        failure_policy=policy, target_layout=target)


def _sqlite_target(tmp_path):
    db = str(tmp_path / "target.db")
    with sqlite3.connect(db) as con:
        con.execute('CREATE TABLE "kv" (k INTEGER PRIMARY KEY, v INTEGER, '
                    '"_last_id" INTEGER)')
    table = JdbcTable("postgresql", "", "main", "kv", ["k"],
                      connect=sqlite_connect_factory(db),
                      pool_name=f"apply-path-{tmp_path.name}", n_writers=1)
    return table, db


def _batch(spark, tmp_path):
    return spark.read.schema(SYNC_DATA_SCHEMA).parquet(str(tmp_path / "log"))


# Spark jobs of one process_batch call over LOG into an empty 4-bucket
# target, pinned the way test_plan_audit pins exchanges: a job more per
# micro-batch is per-batch latency on every trickle batch.
JOBS_PER_BATCH = {"plain": 6, "policy": 7, "policy_sqlite": 5}


def _last_job_id(sc) -> int:
    """Highest Spark job id so far (ids are dense, so a difference of two
    readings counts the jobs between them)."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    it = sc._jsc.sc().statusStore().jobsList(
        sc._jvm.java.util.ArrayList()).iterator()
    top = -1
    while it.hasNext():
        top = max(top, it.next().jobId())
    return top


def test_targets_share_merge_changes_signature():
    """Every pipeline target takes SyncPipeline.apply_changes' call
    `merge_changes(spark, frame, keys, pinned=True)`."""
    import inspect

    from dbsync_spark.sinks.table import ParquetTable

    want = inspect.signature(ParquetTable.merge_changes)
    for target in (BucketedTable, JdbcTable):
        got = inspect.signature(target.merge_changes)
        assert list(got.parameters) == list(want.parameters), target
        assert got.parameters["pinned"].default is False, target


def test_trigger_runs_no_job_outside_foreach_batch(spark, tmp_path):
    """One trigger over 40 log files, more than Spark's default parallel-
    listing threshold (32): the trigger lists them on the driver, so the
    only Spark jobs it runs are process_batch's own."""
    log = str(tmp_path / "log")
    # 40 one-row files from one write: 40 changes over 10 keys
    spark.range(0, 40, 1, numPartitions=40).select(
        (F.col("id") + 1).alias("id"),
        F.lit(RULE.source_db).alias("sourceDb"),
        F.lit(RULE.target_db).alias("targetDb"),
        F.lit(RULE.source_schema).alias("schema"),
        F.lit(RULE.source_table).alias("table"),
        F.lit("U").alias("operation"),
        F.to_json(F.struct((F.col("id") % 10).cast("int").alias("k"),
                           F.col("id").cast("int").alias("v"))).alias("data"),
        F.lit(T0).alias("createTime")).write.parquet(log)
    assert len([f for f in os.listdir(log) if f.endswith(".parquet")]) == 40

    sc = spark.sparkContext
    pipe = _pipe(spark, tmp_path)
    apply_batch, inside = pipe.process_batch, []

    def counted(batch_df, batch_id):
        first = _last_job_id(sc)
        apply_batch(batch_df, batch_id)
        inside.append(_last_job_id(sc) - first)

    pipe.process_batch = counted
    before = _last_job_id(sc)
    pipe.run_to_completion()
    assert len(inside) == 1  # one trigger admitted all 40 files
    assert _last_job_id(sc) - before - inside[0] == 0
    assert len(_final(spark, str(tmp_path / "status"))) == 40
    got = {r["k"]: r["v"] for r in live_rows(pipe.target.read(spark)).collect()}
    assert got == {k: 30 + k for k in range(10)}


def test_process_batch_acks_every_change_once(spark, tmp_path):
    """Without a failure_policy: one pin, one ack write, every change
    acked exactly once — OK, or ERR for the malformed payload."""
    _write_log(spark, str(tmp_path / "log"), LOG)
    pipe = _pipe(spark, tmp_path)
    jobs = _jobs(spark, lambda: pipe.process_batch(_batch(spark, tmp_path), 0))
    assert jobs == JOBS_PER_BATCH["plain"]
    acks = _acks(spark, str(tmp_path / "status"))
    assert sorted(acks) == [cid for cid, _, _ in LOG]
    assert all(len(rows) == 1 for rows in acks.values())
    assert acks[8] == [("ERR", MALFORMED_MSG, 0)]
    assert {rows[0] for cid, rows in acks.items() if cid != 8} == {("OK", "", 0)}
    got = {r["k"]: r["v"] for r in live_rows(pipe.target.read(spark)).collect()}
    assert got == _oracle(LOG)
    assert pipe.retry_pass() is False  # the dead letter is never retried


@pytest.mark.parametrize("kind", ["policy", "policy_sqlite"])
def test_failure_loop_converges(spark, tmp_path, kind):
    """ERR -> BLK -> retry_pass -> all OK, into a BucketedTable and into a
    SQLite JdbcTable; the malformed row stays an ERR dead letter with its
    one ack row."""
    _write_log(spark, str(tmp_path / "log"), LOG)
    if kind == "policy_sqlite":
        target, db = _sqlite_target(tmp_path)
    else:
        target = None
    pipe = _pipe(spark, tmp_path, target=target, policy=_policy)
    jobs = _jobs(spark, lambda: pipe.process_batch(_batch(spark, tmp_path), 0))
    assert jobs == JOBS_PER_BATCH[kind]

    status = str(tmp_path / "status")
    first = _final(spark, status)
    assert {cid: s for cid, s in first.items() if s[0] != "OK"} == {
        2: ("ERR", 1), 3: ("BLK", 0), 4: ("ERR", 1), 5: ("BLK", 0),
        8: ("ERR", 0)}

    ticks = 0
    while pipe.retry_pass():
        ticks += 1
        assert ticks <= 3, "retry loop failed to converge"
    assert ticks == 2  # id 4 needs its second retry
    final = _final(spark, status)
    assert final.pop(8) == ("ERR", 0)
    assert {s for s, _ in final.values()} == {"OK"}
    assert (final[2], final[4]) == (("OK", 1), ("OK", 2))
    assert _acks(spark, status)[8] == [("ERR", MALFORMED_MSG, 0)]

    if kind == "policy_sqlite":
        with sqlite3.connect(db) as con:
            got = dict(con.execute("SELECT k, v FROM kv").fetchall())
    else:
        got = {r["k"]: r["v"] for r in
               live_rows(pipe.target.read(spark)).collect()}
    assert got == _oracle(LOG)


def test_condition_filtered_changes_ack_ok(spark, tmp_path):
    """A change the rule's condition filters out is done: it acks OK with
    a message naming the filter, never stays pending, and is not merged."""
    rule = SyncRule("db1", "public", "kv", ("k",), target_db="t1",
                    update_condition="v > 1")
    changes = [(1, "I", _kv(1, 5)), (2, "U", _kv(1, 0)), (3, "U", _kv(1, 7)),
               (4, "I", _kv(2, 9)), (5, "U", _kv(2, 1))]
    _write_log(spark, str(tmp_path / "log"), changes)
    pipe = _pipe(spark, tmp_path, rule=rule)
    pipe.run_to_completion()

    acks = _acks(spark, str(tmp_path / "status"))
    assert sorted(acks) == [1, 2, 3, 4, 5]
    for cid in (2, 5):
        [(status, message, _)] = acks[cid]
        assert status == "OK" and "condition" in message
    got = {r["k"]: r["v"] for r in live_rows(pipe.target.read(spark)).collect()}
    assert got == _oracle(changes, lambda op, row: op != "U" or row["v"] > 1)
    assert got == {1: 7, 2: 9}


def test_retry_pass_fails_on_corrupt_ack_log(spark, tmp_path):
    """An unreadable ack file is an error, not "nothing to retry"."""
    _write_log(spark, str(tmp_path / "log"), LOG)
    pipe = _pipe(spark, tmp_path, policy=_policy)
    pipe.process_batch(_batch(spark, tmp_path), 0)
    status = str(tmp_path / "status")
    for name in os.listdir(status):
        if name.endswith(".parquet"):
            path = os.path.join(status, name)
            os.truncate(path, os.path.getsize(path) // 2)
    with pytest.raises(Py4JJavaError, match="FAILED_READ_FILE"):
        pipe.retry_pass()


class _WatchedLock:
    """A lock wrapper that flags when a second thread has to wait."""

    def __init__(self, lock):
        self._lock = lock
        self.contended = threading.Event()

    def acquire(self, blocking=True, timeout=-1):
        if self._lock.acquire(blocking=False):
            return True
        self.contended.set()
        return self._lock.acquire(blocking, timeout)

    def release(self):
        self._lock.release()

    def __enter__(self):
        return self.acquire()

    def __exit__(self, *exc):
        self.release()


APP_YAML = """
sys: {maxPollWait: 5000, dataKeepHours: 24}
db:
  - {name: db1, type: parquet}
  - {name: t1, type: parquet}
sync:
  - sourceDb: db1
    targetDb: t1
    sourceSchema: public
    sourceTable: kv
    sourceKeys: k
"""


def test_status_read_is_serialized_with_retention(spark, tmp_path,
                                                  monkeypatch):
    """A retention pass that starts while a status read sits between
    listing the log and collecting its counts waits for the read; the
    read sees the files it listed."""
    from dbsync_spark import app as app_mod
    from dbsync_spark.config import parse_config

    app = app_mod.DbSyncApp(spark, parse_config(APP_YAML),
                            str(tmp_path / "app"), {"db1.public.kv": SCHEMA})
    app.bootstrap()
    pipe = app.pipelines[0]
    for part in (LOG[:10], LOG[10:]):
        _write_log(spark, pipe.log_path, part)
    pipe.process_batch(spark.read.schema(SYNC_DATA_SCHEMA)
                       .parquet(pipe.log_path), 0)

    lock = _WatchedLock(app._control_lock)
    app._control_lock = lock
    errors = []

    def retention():
        try:
            app.retention_pass(now=dt.datetime(2030, 1, 1))
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    worker = threading.Thread(target=retention)
    real = app_mod.status_counts

    def between(log, status):
        worker.start()
        deadline = time.monotonic() + 120
        while (worker.is_alive() and not lock.contended.is_set()
               and time.monotonic() < deadline):
            time.sleep(0.01)
        return real(log, status)

    monkeypatch.setattr(app_mod, "status_counts", between)
    try:
        state = app.sync_state()
    finally:
        worker.join(timeout=120)
        app.stop()
    assert not worker.is_alive()
    assert (state.success, state.error, state.pending) == (19, 1, 0)
    assert not errors
    # retention ran after the read: the all-OK segment is gone
    assert len([f for f in os.listdir(pipe.log_path)
                if f.endswith(".parquet")]) == 1


def test_sync_state_counts_each_change_once(spark, tmp_path):
    """/status/sync counts each change once, by its latest status: after
    the failure loop converges, error and blocked are back to 0 although
    the append-only ack log still holds the ERR and BLK rows."""
    from dbsync_spark.app import DbSyncApp
    from dbsync_spark.config import parse_config

    changes = [c for c in LOG if c[2] != BAD]
    app = DbSyncApp(spark, parse_config(APP_YAML), str(tmp_path / "app"),
                    {"db1.public.kv": SCHEMA})
    app.bootstrap()
    pipe = app.pipelines[0]
    pipe.failure_policy = _policy
    _write_log(spark, pipe.log_path, changes)
    try:
        pipe.process_batch(spark.read.schema(SYNC_DATA_SCHEMA)
                           .parquet(pipe.log_path), 0)
        first = app.sync_state()
        ticks = 0
        while pipe.retry_pass():
            ticks += 1
            assert ticks <= 3, "retry loop failed to converge"
        state = app.sync_state()
    finally:
        app.stop()
    n = len(changes)
    assert (first.success, first.error, first.blocked) == (n - 4, 2, 2)
    assert (state.success, state.error, state.blocked, state.pending,
            state.others) == (n, 0, 0, 0, 0)
