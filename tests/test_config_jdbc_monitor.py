from __future__ import annotations

import threading
import time

import pytest

from dbsync_spark.config import parse_config
from dbsync_spark.monitor.health import (
    GREEN,
    RED,
    YELLOW,
    ComponentRegistry,
    SyncState,
    ActionDispatcher,
    evaluate_rules,
    heartbeat_status,
)
from dbsync_spark.sinks.jdbc import (
    delete_by_keys,
    gp_upsert_steps,
    mysql_upsert,
    pg_upsert,
    upsert_steps,
)

DEMO_YAML = """
sys:
  batch: 5000
  partition: 0
db:
  - name: db1
    type: postgresql
    sysSchema: dbsync
  - name: db2
    type: mysql
sync:
  - sourceDb: db1
    targetDb: db2
    sourceSchema: test
    sourceTable: test01
    sourceKeys: f1,f2
    insertCondition: "f3 > 'x'"
monitor:
  - syncErrorOver: 10
    action: webhook
"""


def test_parse_config_defaults():
    cfg = parse_config(DEMO_YAML)
    assert cfg.sys.batch == 5000
    assert cfg.sys.partition == 100          # validator floor (0 -> 100)
    assert cfg.sys.maxPollWait == 60000      # default
    assert cfg.sys.dataKeepHours == 24
    rule = cfg.syncs[0]
    assert rule.source_keys == ("f1", "f2")
    assert rule.resolved_target() == ("test", "test01")  # defaults to source
    assert rule.insert_condition == "f3 > 'x'"
    assert rule.update_condition == "1=1"
    assert rule.target_db == "db2"


def test_parse_config_rejects_unknown_db():
    bad = DEMO_YAML.replace("targetDb: db2", "targetDb: nope")
    with pytest.raises(ValueError, match="unknown targetDb"):
        parse_config(bad)


def test_parse_config_rejects_duplicate_db():
    bad = DEMO_YAML.replace("name: db2", "name: db1")
    with pytest.raises(ValueError, match="duplicate"):
        parse_config(bad)


def test_pg_upsert_sql():
    sql = pg_upsert("s", "t", ["k", "v", "wm"], ["k"], "wm")
    assert sql == ('INSERT INTO "s"."t" AS tgt ("k", "v", "wm") '
                   'VALUES (?, ?, ?) ON CONFLICT ("k") DO UPDATE SET '
                   '"v" = EXCLUDED."v", "wm" = EXCLUDED."wm" '
                   'WHERE EXCLUDED."wm" > tgt."wm"')


def test_mysql_upsert_sql():
    sql = mysql_upsert("s", "t", ["wm", "k", "v"], ["k"], "wm")
    # the watermark is assigned last, so every guard reads the old one
    assert sql == ("INSERT INTO `s`.`t` (`wm`, `k`, `v`) VALUES (?, ?, ?) "
                   "ON DUPLICATE KEY UPDATE "
                   "`v` = IF(VALUES(`wm`) > `wm`, VALUES(`v`), `v`), "
                   "`wm` = IF(VALUES(`wm`) > `wm`, VALUES(`wm`), `wm`)")


def test_gp_upsert_update_else_insert():
    (upd, upd_idx), (ins, ins_idx) = gp_upsert_steps(
        "s", "t", ["k", "v", "wm"], ["k"], "wm")
    assert upd == ('UPDATE "s"."t" SET "v" = ?, "wm" = ? '
                   'WHERE "k" = ? AND "wm" < ?')
    assert upd_idx == [1, 2, 0, 2]
    assert ins == ('INSERT INTO "s"."t" ("k", "v", "wm") SELECT ?, ?, ? '
                   'WHERE NOT EXISTS (SELECT 1 FROM "s"."t" WHERE "k" = ?)')
    assert ins_idx == [0, 1, 2, 0]


def test_delete_and_ack_sql():
    assert delete_by_keys("s", "t", ["k1", "k2"], "postgresql", "wm") == (
        'DELETE FROM "s"."t" WHERE "k1" = ? AND "k2" = ? AND "wm" < ?')
    assert delete_by_keys("s", "t", ["k"], "mysql", "wm") == (
        "DELETE FROM `s`.`t` WHERE `k` = ? AND `wm` < ?")


def test_flaky_target_sql_is_pinned():
    """The statements JdbcTable sends a postgresql target for perfbench's
    items table, byte for byte."""
    cols = ["k", "qty", "price_cents", "name", "status", "_last_id"]
    assert upsert_steps("postgresql", "main", "items", cols, ["k"],
                        "_last_id") == [(
        'INSERT INTO "main"."items" AS tgt ("k", "qty", "price_cents", '
        '"name", "status", "_last_id") VALUES (?, ?, ?, ?, ?, ?) '
        'ON CONFLICT ("k") DO UPDATE SET "qty" = EXCLUDED."qty", '
        '"price_cents" = EXCLUDED."price_cents", "name" = EXCLUDED."name", '
        '"status" = EXCLUDED."status", "_last_id" = EXCLUDED."_last_id" '
        'WHERE EXCLUDED."_last_id" > tgt."_last_id"', [0, 1, 2, 3, 4, 5])]
    assert delete_by_keys("main", "items", ["k"], "postgresql",
                          "_last_id") == (
        'DELETE FROM "main"."items" WHERE "k" = ? AND "_last_id" < ?')


def test_upsert_sql_rejects_unknown_dialect_and_identifiers():
    with pytest.raises(ValueError, match="unsupported dialect"):
        upsert_steps("oracle", "s", "t", ["k", "wm"], ["k"], "wm")
    with pytest.raises(ValueError, match="unsafe identifier"):
        pg_upsert("s", 't"; DROP TABLE x;--', ["k", "wm"], ["k"], "wm")
    with pytest.raises(ValueError, match="unsafe identifier"):
        delete_by_keys("s", "t", ["k"], "postgresql", 'wm" OR 1=1 --')


def test_heartbeat_thresholds():
    assert heartbeat_status(0, 1000, now_ms=1999) == GREEN
    assert heartbeat_status(0, 1000, now_ms=2000) == YELLOW
    assert heartbeat_status(0, 1000, now_ms=5000) == RED


def test_rules_compare_matching_counts():
    from dbsync_spark.config import MonitorRule

    state = SyncState(pending=100, blocked=0, error=50, success=0)
    rules = [MonitorRule(syncErrorOver=10, action="webhook"),
             MonitorRule(syncBlockedOver=10, action="email"),
             MonitorRule(syncPendingOver=10, action="restart")]
    tripped = evaluate_rules(rules, state, {})
    actions = {r.action for r, _ in tripped}
    # error and pending rules trip on their OWN counts (blocked=0 must NOT
    # suppress them the way the reference's copy-paste bug would)
    assert actions == {"webhook", "restart"}


def test_action_dispatch():
    from dbsync_spark.config import MonitorRule

    sent = []
    d = ActionDispatcher(webhook=lambda reason, **kw: sent.append(reason))
    d.dispatch(MonitorRule(action="webhook"), "error 50 > 10")
    assert sent == ["error 50 > 10"]


def test_sync_state_from_status_counts():
    rows = [{"status": "OK", "cnt": 5}, {"status": "ERR", "cnt": 2},
            {"status": "PENDING", "cnt": 3}, {"status": "BLK", "cnt": 1}]
    s = SyncState.from_status_counts(rows)
    assert (s.success, s.error, s.pending, s.blocked) == (5, 2, 3, 1)


_SQLITE_PATH = "/tmp/dbsync_jdbc_test.db"


def test_write_upserts_end_to_end_sqlite(spark):
    """Drive the foreachPartition upsert writer against a real DB-API
    target (SQLite parses the PG ON CONFLICT dialect)."""
    import os
    import sqlite3

    if os.path.exists(_SQLITE_PATH):
        os.remove(_SQLITE_PATH)
    con = sqlite3.connect(_SQLITE_PATH)
    con.execute('CREATE TABLE "t" (k INTEGER PRIMARY KEY, v TEXT, '
                '"_last_id" INTEGER)')
    con.execute("INSERT INTO t VALUES (1, 'old', 1), (2, 'stays', 2)")
    con.commit()
    con.close()

    from dbsync_spark.sinks.jdbc import sqlite_connect_factory, write_upserts

    df = spark.createDataFrame(
        [("U", 1, "new", 10), ("I", 3, "ins", 11), ("D", 2, None, 12)],
        ["operation", "k", "v", "_last_id"],
    ).coalesce(1).sortWithinPartitions("k")
    write_upserts(df, "postgresql", url="", schema="main", table="t",
                  keys=["k"], watermark_col="_last_id",
                  connect=sqlite_connect_factory(_SQLITE_PATH))

    con = sqlite3.connect(_SQLITE_PATH)
    rows = dict(con.execute("SELECT k, v FROM t ORDER BY k").fetchall())
    con.close()
    os.remove(_SQLITE_PATH)
    assert rows == {1: "new", 3: "ins"}


def test_demo_config_file_parses():
    """examples/app-demo.yaml is a working user-facing config: parses,
    applies defaulting rules, and yields runnable sync rules."""
    import pathlib

    from dbsync_spark.config import parse_config

    text = (pathlib.Path(__file__).parent.parent / "examples"
            / "app-demo.yaml").read_text()
    cfg = parse_config(text)
    assert [d.name for d in cfg.dbs] == ["db1", "db2", "pgprod"]
    assert cfg.sys.partition == 20
    assert cfg.sys.maxPollWait == 5000
    rules = {r.source_table: r for r in cfg.syncs}
    assert rules["orders"].resolved_target()[1] == "orders"       # defaulted lazily
    assert rules["events"].resolved_target() == ("analytics", "events_synced")
    assert rules["orders"].update_condition == "o_totalprice > 0"
    assert rules["events"].insert_condition == "1=1"     # defaulted
    assert cfg.monitors[0].action == "webhook"


def test_default_action_handlers(monkeypatch):
    """The shipped M3 handlers: webhook POSTs JSON to a live local server,
    email drives smtplib, and a failing action is recorded, not raised."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from dbsync_spark.config import MonitorRule
    from dbsync_spark.monitor.health import (ActionDispatcher, email_action,
                                             webhook_action)

    received = []

    class Capture(BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802
            n = int(self.headers["Content-Length"])
            received.append(json.loads(self.rfile.read(n)))
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Capture)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_port}/alerts"
        d = ActionDispatcher(webhook=webhook_action, email=email_action)
        rule = MonitorRule(action="webhook", params={"url": url})
        d.dispatch(rule, "blocked over threshold")
        assert received == [{"reason": "blocked over threshold"}]
        assert d.failures == []

        # webhook to a closed port: recorded as failure, not raised
        bad = MonitorRule(action="webhook",
                          params={"url": "http://127.0.0.1:9/x",
                                  "timeout": 0.2})
        d.dispatch(bad, "x")
        assert d.failures and d.failures[-1][0] == "webhook"
    finally:
        srv.shutdown()

    sent = []

    class FakeSMTP:
        def __init__(self, host, port, timeout=None):
            sent.append(("connect", host, port))
            assert timeout is not None, "email_action must bound the connect"

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def send_message(self, msg):
            sent.append(("send", msg["Subject"], msg.get_content().strip()))

    import smtplib
    monkeypatch.setattr(smtplib, "SMTP", FakeSMTP)
    d2 = ActionDispatcher(email=email_action)
    d2.dispatch(MonitorRule(action="email",
                            params={"smtp_host": "mail", "smtp_port": 2525}),
                "errors over threshold")
    assert ("connect", "mail", 2525) in sent
    assert ("send", "dbsync alert", "errors over threshold") in sent
    assert d2.failures == []


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
