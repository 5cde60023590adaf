from __future__ import annotations

import json
import urllib.request

from dbsync_spark.app import DbSyncApp
from dbsync_spark.config import parse_config
from dbsync_spark.operators.route import SyncRule
from dbsync_spark.sources.capture import (
    mysql_trigger_ddl,
    pg_trigger_ddl,
    reconcile_triggers,
    sys_table_ddl,
    trigger_version,
    unique_index_ddl,
    unique_index_name,
)

RULE = SyncRule("db1", "test", "test01", ("f1", "f2"),
                insert_condition="NEW.f3 > 'x'")


def test_pg_trigger_ddl_shape():
    ddl = pg_trigger_ddl(RULE, "dbsync", ["db2", "db3"], "insert")
    assert "AFTER INSERT ON test.test01" in ddl
    assert ddl.count("INSERT INTO dbsync.sync_data") == 2  # fan-out per target
    assert "row_to_json(NEW)" in ddl
    assert "IF NEW.f3 > 'x' THEN" in ddl
    ddl_d = pg_trigger_ddl(RULE, "dbsync", ["db2"], "delete")
    assert "row_to_json(OLD)" in ddl_d and "'D'" in ddl_d


def test_mysql_trigger_uses_own_conditions():
    rule = SyncRule("db1", "test", "t", ("k",),
                    insert_condition="NEW.v > 0", update_condition="NEW.v > 1")
    ddl_u = mysql_trigger_ddl(rule, "dbsync", ["db2"], "update", ["k", "v"])
    # intended semantics: update trigger gates on updateCondition (the
    # reference's MySQL dialect reuses insertCondition — a bug we don't keep)
    assert "NEW.v > 1" in ddl_u and "NEW.v > 0" not in ddl_u
    assert "JSON_OBJECT('k', NEW.`k`, 'v', NEW.`v`)" in ddl_u


def test_trigger_version_and_reconcile():
    ddl = pg_trigger_ddl(RULE, "dbsync", ["db2"], "insert")
    v1 = trigger_version(ddl)
    assert len(v1) == 8 and v1 == trigger_version(ddl)  # deterministic
    ddl2 = pg_trigger_ddl(RULE, "dbsync", ["db2", "db3"], "insert")
    assert trigger_version(ddl2) != v1  # config drift -> new version
    plan = reconcile_triggers(
        desired={"a": "v1", "b": "v2", "c": "v3"},
        installed={"b": "OLD", "c": "v3", "zombie": "vX"})
    assert plan == {"create": ["a"], "rebuild": ["b"], "drop": ["zombie"]}


def test_unique_index_deterministic():
    assert unique_index_name(RULE) == unique_index_name(RULE)
    ddl = unique_index_ddl(RULE)
    assert "CREATE UNIQUE INDEX IF NOT EXISTS" in ddl and "(f1, f2)" in ddl


def test_sys_table_ddl_both_dialects():
    pg = sys_table_ddl("dbsync")
    my = sys_table_ddl("dbsync", "mysql")
    assert any("BIGSERIAL" in s for s in pg)
    assert any("AUTO_INCREMENT" in s for s in my)
    assert len(pg) == len(my) == 5


APP_YAML = """
sys: {maxPollWait: 5000, dataKeepHours: 24}
db:
  - {name: db1, type: parquet}
  - {name: t1, type: parquet}
sync:
  - sourceDb: db1
    targetDb: t1
    sourceSchema: public
    sourceTable: orders
    sourceKeys: o_orderkey
monitor:
  - {syncPendingOver: 0, action: webhook}
"""


def test_app_end_to_end(spark, sf_dir, tmp_path):
    """Bootstrap from YAML, feed a change log, drain pipelines, check state,
    monitor rules, retention, and the HTTP endpoints."""
    from dbsync_spark.changelog import ORDERS_PAYLOAD_SCHEMA, build_log_orders

    cfg = parse_config(APP_YAML)
    app = DbSyncApp(spark, cfg, str(tmp_path / "app"),
                    {"db1.public.orders": ORDERS_PAYLOAD_SCHEMA})
    app.bootstrap()
    log = build_log_orders(spark, sf_dir)
    log.write.mode("append").parquet(app.pipelines[0].log_path)

    app.run_all_available()
    state = app.sync_state()
    assert state.success == log.count()  # everything acked OK
    assert state.pending == 0

    from dbsync_spark.operators.apply import last_writer_wins, parse_changes
    from dbsync_spark.operators.apply import live_rows
    expected = last_writer_wins(
        parse_changes(log, ORDERS_PAYLOAD_SCHEMA), ["o_orderkey"]).count()
    assert live_rows(app.pipelines[0].target.read(spark)).count() == expected

    # monitor: pending==0 means the rule (pending > 0) must NOT trip
    assert app.monitor_pass() == []

    # retention with a future "now": all OK rows swept
    import datetime as dt
    app.retention_pass(now=dt.datetime(2030, 1, 1))
    from dbsync_spark.schemas import SYNC_DATA_SCHEMA
    remaining = spark.read.schema(SYNC_DATA_SCHEMA).parquet(
        app.pipelines[0].log_path)  # segment sweep can empty the dir
    assert remaining.count() == 0

    port = app.serve_endpoints()
    with urllib.request.urlopen(f"http://127.0.0.1:{port}/status/sync") as r:
        payload = json.loads(r.read())
    assert payload["success"] == 0  # post-retention recount
    app.stop()


def test_app_reload_resumes_from_checkpoint(spark, sf_dir, tmp_path):
    """M5 reload-is-restart: after reload, pipelines rebuild and resume
    from checkpoints (no reprocessing, increments still apply)."""
    from pyspark.sql import functions as F

    from dbsync_spark.changelog import ORDERS_PAYLOAD_SCHEMA, build_log_orders
    from dbsync_spark.operators.apply import live_rows

    cfg = parse_config(APP_YAML)
    schemas = {"db1.public.orders": ORDERS_PAYLOAD_SCHEMA}
    app = DbSyncApp(spark, cfg, str(tmp_path / "app2"), schemas)
    app.bootstrap()
    log = build_log_orders(spark, sf_dir).cache()
    log.where(F.col("operation") == "I").write.mode("append").parquet(
        app.pipelines[0].log_path)
    app.run_all_available()
    v_before = app.pipelines[0].target.state_fingerprint()

    app.reload(parse_config(APP_YAML))
    # no new data: drain must be a no-op (checkpoint preserved)
    app.run_all_available()
    assert app.pipelines[0].target.state_fingerprint() == v_before

    # increment applies after reload
    log.where(F.col("operation") != "I").write.mode("append").parquet(
        app.pipelines[0].log_path)
    app.run_all_available()
    from dbsync_spark.operators.apply import last_writer_wins, parse_changes
    expected = last_writer_wins(
        parse_changes(log, ORDERS_PAYLOAD_SCHEMA), ["o_orderkey"]).count()
    assert live_rows(app.pipelines[0].target.read(spark)).count() == expected


MULTI_YAML = """
sys: {maxPollWait: 5000}
db:
  - {name: db1, type: parquet}
  - {name: t1, type: parquet}
  - {name: t2, type: parquet}
sync:
  - sourceDb: db1
    targetDb: t1,t2
    sourceSchema: public
    sourceTable: events
    sourceKeys: event_id
"""


def test_app_multi_target_fanout(spark, sf_dir, tmp_path):
    """S11 end-to-end: one sync entry with targetDb 't1,t2' becomes two
    pipelines; capture-side fan-out (one log row per target) routes all
    events to t1 but only purchase events to t2."""
    from pyspark.sql import functions as F

    from dbsync_spark.changelog import EVENTS_PAYLOAD_SCHEMA, build_log_events
    from dbsync_spark.operators.apply import live_rows
    from dbsync_spark.operators.route import fanout_targets

    cfg = parse_config(MULTI_YAML)
    assert [r.target_db for r in cfg.syncs] == ["t1", "t2"]

    schemas = {"db1.public.events": EVENTS_PAYLOAD_SCHEMA}
    app = DbSyncApp(spark, cfg, str(tmp_path / "multi"), schemas)
    app.bootstrap()
    assert len(app.pipelines) == 2
    # both pipelines share one source log (same sourceDb)
    assert app.pipelines[0].log_path == app.pipelines[1].log_path

    # capture-side fan-out: one row per target with a fresh unique id
    log = build_log_events(spark, sf_dir)
    fanned = fanout_targets(log).withColumn(
        "id", F.col("id") * 4 + F.when(F.col("targetDb") == "t2", 1).otherwise(0))
    fanned.write.mode("append").parquet(app.pipelines[0].log_path)

    app.run_all_available()
    t1_rows = live_rows(app.pipelines[0].target.read(spark))
    t2_rows = live_rows(app.pipelines[1].target.read(spark))
    events = log.count()
    purchases = log.where(F.col("targetDb") == "t1,t2").count()
    assert t1_rows.count() == events
    assert t2_rows.count() == purchases
    assert t2_rows.where(F.col("event_type") != "purchase").count() == 0


def test_app_sql_surface(spark, sf_dir, tmp_path):
    """Ad-hoc SQL over the applied state via registered target views."""
    from dbsync_spark.changelog import ORDERS_PAYLOAD_SCHEMA, build_log_orders

    cfg = parse_config(APP_YAML)
    app = DbSyncApp(spark, cfg, str(tmp_path / "sqlapp"),
                    {"db1.public.orders": ORDERS_PAYLOAD_SCHEMA})
    app.bootstrap()
    log = build_log_orders(spark, sf_dir)
    log.write.mode("append").parquet(app.pipelines[0].log_path)
    app.run_all_available()

    views = app.register_views()
    assert views == ["t1_public_orders"]
    row = app.sql(
        "SELECT count(*) AS n, count(DISTINCT o_custkey) AS c "
        "FROM t1_public_orders").first()
    from dbsync_spark.operators.apply import last_writer_wins, parse_changes
    expected = last_writer_wins(
        parse_changes(log, ORDERS_PAYLOAD_SCHEMA), ["o_orderkey"]).count()
    assert row["n"] == expected
    app.stop()
