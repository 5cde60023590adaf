"""Application orchestration: config -> running pipelines + control loops.

The Spark shape of the reference's bootstrap (§3.1, DbSyncLauncher.scala):
parse config -> SparkSession -> ensure storage -> one streaming pipeline
per sync rule -> driver-side monitor/retention loops -> HTTP endpoints.
Thread-per-component becomes: concurrent streaming queries (executors) +
a single driver control loop.
"""

from __future__ import annotations

import json
import os
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from dbsync_spark.config import AppConfig
from dbsync_spark.monitor.health import (
    ActionDispatcher,
    ComponentRegistry,
    SyncState,
    evaluate_rules,
    status_endpoints,
)
from dbsync_spark.operators.retention import expired_segments
from dbsync_spark.operators.status import current_status, status_counts
from dbsync_spark.schemas import SYNC_DATA_SCHEMA, SYNC_STATUS_SCHEMA
from dbsync_spark.sinks.layout import compact, recover_dir
from dbsync_spark.sources.tables import read_state
from dbsync_spark.streaming.pipeline import SyncPipeline


class DbSyncApp:
    def __init__(self, spark: SparkSession, config: AppConfig, base_dir: str,
                 payload_schemas: dict[str, object], dispatcher: ActionDispatcher | None = None):
        self.spark = spark
        self.config = config
        self.base_dir = base_dir
        self.payload_schemas = payload_schemas
        self.registry = ComponentRegistry()
        if dispatcher is None:
            from dbsync_spark.monitor.health import (email_action,
                                                     restart_action_for,
                                                     webhook_action)
            dispatcher = ActionDispatcher(
                email=email_action, webhook=webhook_action,
                restart=restart_action_for(self))
        self.dispatcher = dispatcher
        self.pipelines: list[SyncPipeline] = []
        self._http: ThreadingHTTPServer | None = None
        self._listener = None
        self._started = time.time()
        self.restart_reason: str | None = None
        self._reloaded = False
        # main()'s relaunch loop must not read app.pipelines while a
        # reload (HTTP/dispatcher thread) is mid-rebuild: reload() clears
        # this before stopping queries and sets it after bootstrap — the
        # loop waits on it before starting the rebuilt pipelines
        self._reload_complete = threading.Event()
        self._reload_complete.set()
        # app-LIFETIME lock tables: reload() rebuilds pipelines but must
        # never replace these — an old pipeline's in-flight tick and a
        # rebuilt pipeline append to the SAME status dir, and two "locks"
        # for one path is no lock at all. Keyed by status path.
        self._ack_locks: dict[str, threading.Lock] = {}
        # serializes control-loop ticks against reload(): a tick runs on
        # an entirely-old or entirely-new pipeline set, never on a
        # half-rebuilt one, and an old tick's bucket merges finish before
        # reload tears the pipelines down (same target dirs, different
        # per-object merge locks otherwise)
        self._control_lock = threading.RLock()

    # -- bootstrap ----------------------------------------------------------
    def bootstrap(self) -> None:
        os.makedirs(self.base_dir, exist_ok=True)
        from dbsync_spark.monitor.listener import (HeartbeatListener,
                                                  component_name)

        if self._listener is None:
            self._listener = HeartbeatListener(
                self.registry, interval_ms=self.config.sys.maxPollWait or 60000)
            self.spark.streams.addListener(self._listener)
        # app-lifetime dict (see __init__): reload keeps lock identity
        ack_locks = self._ack_locks
        for rule in self.config.syncs:
            key = f"{rule.source_db}.{rule.source_schema}.{rule.source_table}"
            tgt_key = f"{rule.target_db}.{'.'.join(rule.resolved_target())}"
            status_path = os.path.join(self.base_dir, "status", rule.source_db)
            pipe = SyncPipeline(
                self.spark, rule, self.payload_schemas[key],
                log_path=os.path.join(self.base_dir, "log", rule.source_db),
                target_path=os.path.join(self.base_dir, "targets", tgt_key),
                status_path=status_path,
                checkpoint_path=os.path.join(self.base_dir, "ckpt", f"{key}->{tgt_key}"),
                # one lock per shared status dir: concurrent parquet appends
                # to the same path corrupt each other's committer temp files
                ack_lock=ack_locks.setdefault(status_path, threading.Lock()),
                max_retry=self.config.sys.maxRetry,
            )
            recover_dir(status_path)  # crashed status compaction
            os.makedirs(pipe.log_path, exist_ok=True)
            self.pipelines.append(pipe)
            # the entry the listener beats on the query's every progress
            # and idle event (the query is named after the pipeline)
            self.registry.register(component_name(pipe.name),
                                   interval_ms=self.config.sys.maxPollWait or 60000)

    def run_all_available(self) -> None:
        """Drain all pending log data through every pipeline. All queries
        START before any is awaited, so rules drain concurrently — the
        Spark scheduler interleaves their micro-batch jobs the way the
        reference runs one poller thread per db plus partition workers
        (DbSyncLauncher.scala:62-73). Target and checkpoint paths are
        per-pipeline; the status path is shared per SOURCE db, which is
        exactly why bootstrap hands pipelines on the same source a shared
        ack_lock — concurrent parquet appends to one path corrupt each
        other's committer temp files."""
        queries = [pipe.start(available_now=True) for pipe in self.pipelines]
        for q in queries:
            q.awaitTermination()

    def start_pipelines(self) -> list:
        """Start every pipeline in continuous mode: a processing-time
        trigger every maxPollWait, 5 s at most. Spark posts an idle event
        instead of progress on a trigger that finds no new data, by
        default at most once per 10 s; the queries start with that
        throttle off, so the listener beats each pipeline's entry on every
        trigger, busy or quiet. The conf is read when a query starts, so
        its previous value is restored right after."""
        period_ms = min(self.config.sys.maxPollWait or 60000, 5000)
        key = "spark.sql.streaming.noDataProgressEventInterval"
        old = self.spark.conf.get(key)
        self.spark.conf.set(key, "0")
        try:
            return [p.start(available_now=False,
                            processing_time=f"{period_ms} milliseconds")
                    for p in self.pipelines]
        finally:
            self.spark.conf.set(key, old)

    # -- control loops -------------------------------------------------------
    def _status_df(self, source_db: str):
        return read_state(self.spark,
                          os.path.join(self.base_dir, "status", source_db),
                          read_schema=SYNC_STATUS_SCHEMA,
                          empty_schema=SYNC_STATUS_SCHEMA)

    def sync_state(self) -> SyncState:
        """Global pending/blocked/error/success fold across databases (A1).
        Holds the control lock, as retention_pass does, so no file it lists
        is unlinked or swapped before it collects; an HTTP read therefore
        waits out a running control tick (retry, retention or monitor)."""
        total = SyncState()
        with self._control_lock:
            for db in {r.source_db for r in self.config.syncs}:
                log = read_state(self.spark,
                                 os.path.join(self.base_dir, "log", db),
                                 read_schema=SYNC_DATA_SCHEMA)
                if log is None:
                    continue
                # one row per change, by its latest status: the ack log
                # is append-only, so a retried change has one row per
                # status it has held
                rows = status_counts(
                    log, current_status(self._status_df(db))).collect()
                part = SyncState.from_status_counts(
                    [{"status": r["status"], "cnt": r["cnt"]} for r in rows])
                for f_ in ("pending", "blocked", "error", "success", "others"):
                    setattr(total, f_, getattr(total, f_) + getattr(part, f_))
        return total

    def monitor_pass(self) -> list[tuple]:
        """One M2 evaluation tick: rules over counts + heartbeats -> actions."""
        tripped = evaluate_rules(self.config.monitors, self.sync_state(),
                                 self.registry.statuses())
        for rule, reason in tripped:
            self.dispatcher.dispatch(rule, reason)
        return tripped

    def retry_pass(self) -> bool:
        """One ErrorResolver tick across all pipelines (cadence =
        sys.retryInterval in the reference)."""
        return any([p.retry_pass() for p in self.pipelines])

    def retention_pass(self, now=None) -> None:
        """O8 sweep of each database's change log: unlink only FILES whose
        every row is OK-acked and expired — no rewrite, so a live file-
        stream source neither re-ingests kept rows nor hits a vanishing
        file it was about to read (unlinked files are by construction
        already processed). File-granular, converges as segments age."""
        cutoff_expr = F.lit(now) if now is not None else F.current_timestamp()
        cutoff = cutoff_expr - F.expr(
            f"INTERVAL {self.config.sys.dataKeepHours} HOURS")
        with self._control_lock:  # see sync_state
            for db in {r.source_db for r in self.config.syncs}:
                log = read_state(self.spark,
                                 os.path.join(self.base_dir, "log", db),
                                 read_schema=SYNC_DATA_SCHEMA)
                if log is None:
                    continue
                for f in expired_segments(log, self._status_df(db), cutoff):
                    try:
                        os.remove(f)
                    except FileNotFoundError:
                        pass  # another tick won the race; same outcome
            self.status_compaction_pass()

    def status_compaction_pass(self, max_files: int | None = None,
                               target_files: int = 8) -> int:
        """Small-files maintenance for the ack/status tables: every
        micro-batch (and every retry/dead-letter tick) APPENDS one small
        parquet file per status dir, so a long-lived deployment
        accumulates thousands of tiny files and every status read
        (current_status, monitor counts, resolver scans) pays the full
        listing. When a dir exceeds `max_files` (sys.statusCompactFiles;
        0 disables), rewrite it to `target_files` under that dir's
        ack_lock — the same lock the streaming appenders take, so no ack
        written concurrently can be dropped by the swap. Row-set
        identical before/after (pure file-count compaction; history is
        retention_pass's job, not this one's). Runs on the retention tick
        — the reference likewise VACUUMs its status tables after the
        clean sweep (PgOperation.scala:378-385). Returns dirs compacted."""
        threshold = (self.config.sys.statusCompactFiles
                     if max_files is None else max_files)
        if threshold <= 0:
            return 0
        done = 0
        for db in {r.source_db for r in self.config.syncs}:
            path = os.path.join(self.base_dir, "status", db)
            try:
                n = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
            except FileNotFoundError:
                continue
            if n <= threshold:
                continue
            # setdefault: if compaction reaches this dir before any
            # pipeline registered it, future appenders still share THIS
            # lock (a private fallback lock would exclude nobody)
            lock = self._ack_locks.setdefault(path, threading.Lock())
            with lock:
                compact(self.spark, path, target_files=target_files,
                        schema=SYNC_STATUS_SCHEMA)
            done += 1
        return done

    # -- scheduled control loops (the reference's interval jobs) --------------
    def start_control_loops(self, reconcile_fn=None) -> None:
        """Drive the periodic ticks the reference schedules as jobs:
        retry_pass every sys.retryInterval (ErrorResolver cadence),
        retention_pass every sys.cleanInterval (CleanWorker),
        monitor_pass every sys.maxPollWait (SelfMonitor), and — when a
        live-DB capture executor is injected as `reconcile_fn` — trigger
        reconciliation every sys.syncTriggerInterval (job/SyncTrigger:
        the DDL plans come from sources/capture.reconcile_triggers; this
        engine has no live DB, so execution is caller-provided). One
        daemon thread, monotonic deadlines, a tick that throws is
        logged-by-counting and never kills the loop (an alert outage
        must not stop retries). Idempotent: calling twice reuses the
        running thread."""
        if getattr(self, "_loops_thread", None) is not None \
                and self._loops_thread.is_alive():
            return
        self._loops_stop = threading.Event()
        self.loop_stats = {"retry": 0, "retention": 0, "monitor": 0,
                           "reconcile": 0, "errors": 0}
        ticks = [
            ["retry", self.config.sys.retryInterval / 1000, self.retry_pass],
            ["retention", self.config.sys.cleanInterval / 1000,
             self.retention_pass],
            ["monitor", (self.config.sys.maxPollWait or 60000) / 1000,
             self.monitor_pass],
        ]
        if reconcile_fn is not None:
            ticks.append(["reconcile",
                          self.config.sys.syncTriggerInterval / 1000,
                          reconcile_fn])

        # the thread binds ITS OWN stop event: if a long tick outlasts
        # stop's join timeout and a later start creates a fresh event,
        # the old thread must still see its (set) event and exit — not
        # re-read self._loops_stop and come back as a duplicate ticker
        stop_evt = self._loops_stop

        def run():
            import time as _t

            deadlines = {name: _t.monotonic() + period
                         for name, period, _ in ticks}
            while not stop_evt.is_set():
                now = _t.monotonic()
                next_due = min(deadlines.values())
                if stop_evt.wait(timeout=max(0.0, next_due - now)):
                    return
                now = _t.monotonic()
                for name, period, fn in ticks:
                    if deadlines[name] <= now:
                        deadlines[name] = now + period
                        try:
                            with self._control_lock:
                                fn()
                            self.loop_stats[name] += 1
                        except Exception:  # noqa: BLE001 - a failing tick
                            self.loop_stats["errors"] += 1  # must not kill
                            # the scheduler (reference jobs are isolated)

        self._loops_thread = threading.Thread(target=run, daemon=True)
        self._loops_thread.start()

    def stop_control_loops(self) -> None:
        if getattr(self, "_loops_thread", None) is not None:
            self._loops_stop.set()
            self._loops_thread.join(timeout=5)
            self._loops_thread = None

    # -- SQL surface over the synced state ------------------------------------
    def register_views(self) -> list[str]:
        """Expose every target table's live rows as a temp view named
        `<targetDb>_<schema>_<table>` — ad-hoc Spark SQL over the applied
        state (the analytics-engine face of the sync engine)."""
        from dbsync_spark.operators.apply import live_rows

        names = []
        for pipe in self.pipelines:
            snap = pipe.target.read(self.spark)
            if snap is None:
                continue
            ts, tt = pipe.rule.resolved_target()
            name = f"{pipe.rule.target_db or 'target'}_{ts}_{tt}"
            live_rows(snap).createOrReplaceTempView(name)
            names.append(name)
        return names

    def sql(self, query: str):
        """Run SQL over the registered target views."""
        self.register_views()
        return self.spark.sql(query)

    # -- endpoints (M4) -------------------------------------------------------
    def endpoint_payloads(self) -> dict[str, dict]:
        payloads = status_endpoints(self.sync_state(), self.registry,
                                    queries=self.pipelines,
                                    config=self.config)
        # the reference's /status/sys fields (Endpoints.scala:28-37)
        payloads["/status/sys"].update({
            "uptime": time.time() - self._started,
            "running": any(getattr(p, "last_query", None) is not None
                           and p.last_query.isActive for p in self.pipelines),
            "restartReason": self.restart_reason,
            # copy first: the listener-bus thread inserts keys
            # concurrently, and sorted(...items()) over the live dict
            # can raise mid-iteration (dict(d) is a GIL-atomic C copy)
            "lastProgress": dict(sorted(dict(self.registry.progress)
                                        .items())),
        })
        return payloads

    def serve_endpoints(self, port: int = 0) -> int:
        """Start the HTTP server with the reference's full 7-route surface
        (monitor/Endpoints.scala:27-96): 5 GET snapshots
        (/status/{sync,component,sys,datasource}, /config) plus the 2
        action routes (/control/restart, /config/reload) — both GET in
        the reference too, both mapping to reload-is-restart (M5).
        Returns the bound port."""
        app = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802
                if self.path in ("/control/restart", "/config/reload"):
                    reason = ("Restart by restart api"
                              if self.path == "/control/restart"
                              else "Restart by reload config")
                    app.restart_reason = reason
                    app.reload(app.config)
                    self.send_response(200)
                    self.send_header("Content-Type", "text/plain")
                    self.end_headers()
                    self.wfile.write(b"OK")
                    return
                payloads = app.endpoint_payloads()
                if self.path in payloads:
                    body = json.dumps(payloads[self.path]).encode()
                    self.send_response(200)
                    self.send_header("Content-Type", "application/json")
                    self.end_headers()
                    self.wfile.write(body)
                else:
                    self.send_response(404)
                    self.end_headers()

            def log_message(self, *a):  # silence
                pass

        self._http = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        threading.Thread(target=self._http.serve_forever, daemon=True).start()
        return self._http.server_address[1]

    def stop(self) -> None:
        self.stop_control_loops()
        if self._http:
            self._http.shutdown()
            self._http = None
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    # -- M5 hot restart / config reload ---------------------------------------
    def reload(self, new_config: AppConfig) -> None:
        """The reference's reload-is-restart (DbSyncLauncher.scala:21-42,
        Endpoints.scala:75-95): STOP running queries, tear down pipelines,
        swap config, rebuild. Checkpoints make this lossless — rebuilt
        pipelines resume from their offsets. Stopping first matters:
        restarting a pipeline while its old query still runs would launch
        a second query on the same checkpoint location, which Spark
        rejects."""
        # order matters, twice over: _reloaded goes up FIRST (main()'s
        # relaunch loop checks it the moment awaitTermination returns
        # from the stops below — setting it after bootstrap would turn a
        # restart request into a shutdown), and _reload_complete comes
        # DOWN before any teardown so the loop cannot read half-rebuilt
        # state (empty or stale self.pipelines) between the stops and
        # the end of bootstrap
        self._reload_complete.clear()
        self._reloaded = True
        try:
            self._control_lock.acquire()
            for pipe in self.pipelines:
                q = getattr(pipe, "last_query", None)
                if q is not None and q.isActive:
                    q.stop()
            self.config = new_config
            self.pipelines = []
            self.registry = ComponentRegistry()
            if self._listener is not None:
                self._listener.registry = self.registry
            self.bootstrap()
        finally:
            self._control_lock.release()
            self._reload_complete.set()


def main(argv: list[str] | None = None) -> int:
    """CLI: `python -m dbsync_spark.app config.yaml [--drain]`.

    --drain applies all pending log data once and exits (availableNow);
    without it, pipelines run on a processing-time trigger until Ctrl-C.
    """
    import argparse

    from dbsync_spark.config import parse_config
    from dbsync_spark.schemas import SYNC_DATA_SCHEMA  # noqa: F401
    from dbsync_spark.session import get_spark

    ap = argparse.ArgumentParser(description="dbsync-spark sync engine")
    ap.add_argument("config")
    ap.add_argument("--base-dir", default="./dbsync_state")
    ap.add_argument("--drain", action="store_true")
    ap.add_argument("--schemas", default=None,
                    help="path to a JSON file of {db.schema.table: DDL string}")
    args = ap.parse_args(argv)

    with open(args.config) as f:
        cfg = parse_config(f.read())
    spark = get_spark("dbsync-app")
    schemas: dict[str, object] = {}
    if args.schemas:
        # fromDDL needs the active session's parser
        from pyspark.sql.types import StructType

        with open(args.schemas) as f:
            schemas = {k: StructType.fromDDL(v) for k, v in json.load(f).items()}
    app = DbSyncApp(spark, cfg, args.base_dir, schemas)
    app.bootstrap()
    port = app.serve_endpoints(cfg.sys.endpointPort)
    print(f"status endpoints on http://127.0.0.1:{port}/status/sync")
    if args.drain:
        app.run_all_available()
        app.monitor_pass()
        app.stop()
        return 0
    # continuous mode: if the queries stopped because a restart action
    # reloaded the app (app._reloaded), start the rebuilt pipelines and
    # keep serving — the reference's in-process relaunch loop
    # (DbSyncLauncher.scala:31-42)
    app.start_control_loops()  # retry/retention/monitor interval jobs
    while True:
        app._reloaded = False
        queries = app.start_pipelines()
        try:
            for q in queries:
                q.awaitTermination()
        except KeyboardInterrupt:
            for q in queries:
                q.stop()
            app.stop()
            break
        if not app._reloaded:
            break
        # a reload triggered the stops: wait for its bootstrap to finish
        # before reading app.pipelines (see reload())
        app._reload_complete.wait(timeout=300)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
