"""The two workloads and their checks.

trickle       steady-state CDC: `DbSyncApp` in continuous mode with its
              control loops on and an open-loop generator adding one small
              file per tick.
flaky_target  live-DB delivery through `JdbcTable` into a SQLite file,
              with injected per-key failures and malformed payloads, then
              `retry_pass` on the resolver's cadence until every change
              has landed.

Each workload returns end-to-end samples, the checked counts and, in a
traced run, the per-layer numbers (see `layers`).
"""

from __future__ import annotations

import collections
import json
import math
import os
import shutil
import sqlite3
import statistics
import threading
import time
import urllib.request

from perfbench import gen, spans

RULE_YAML = """
sys:
  maxPollWait: {poll}
  retryInterval: {retry}
  cleanInterval: {clean}
  dataKeepHours: {keep}
  statusCompactFiles: {compact}
  targetLayout: bucketed
  targetBuckets: null
db:
  - {{name: {src}, type: parquet}}
  - {{name: {tgt}, type: parquet}}
sync:
  - sourceDb: {src}
    targetDb: {tgt}
    sourceSchema: {schema}
    sourceTable: {table}
    sourceKeys: {key}
"""


class Run:
    """What one workload run needs: the session, the seed, the measured
    duration, the tracer and a scratch directory inside the checkout."""

    def __init__(self, spark, seed: int, seconds: float, traced: bool,
                 work: str):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.tracer = spans.Tracer(spark.sparkContext if traced else None)
        self.job_mark = -1
        self.sizes: dict = {}
        self.samples: dict[str, list[float]] = collections.defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.detail: dict = {}
        self.warm_s: list[float] = []
        self.wait_s = 0.0

    def tally(self, what: str, attempted: int, failed: int) -> None:
        """Count checked operations; the record keeps failures by kind."""
        self.attempted += attempted
        self.failed += failed
        key = f"failed_{what}"
        self.detail[key] = self.detail.get(key, 0) + failed

    def warm_up(self, pass_fn) -> None:
        """Run the set-up pass `pass_fn(i)` SETUP_REPEATS times, timing
        each; set-up time counts it once, at the median (see setup_s)."""
        for i in range(SETUP_REPEATS):
            t = time.perf_counter()
            pass_fn(i)
            self.warm_s.append(time.perf_counter() - t)

    def setup_s(self, t_start: float) -> float:
        """Start of the process until the measured phase, with the
        repeated warm-up pass counted once at its median, and without
        `wait_s`, the idle wait that puts the window in phase."""
        wall = self.t_measure - t_start - self.wait_s
        if not self.warm_s:
            return wall
        return wall - sum(self.warm_s) + statistics.median(self.warm_s)

    def mark(self) -> None:
        """Start of the measured phase: the job-id watermark for the
        traced Spark deltas."""
        self.t_measure = time.perf_counter()
        if self.traced:
            self.job_mark = spans.max_job_id(self.spark.sparkContext)


# --- shared pieces -------------------------------------------------------

# the warm-up pass runs this many times; the first one is cold (JIT,
# codegen, Python workers), the median is what set-up time counts
SETUP_REPEATS = 3
# status reads and target scans of the final state after the window, in a
# traced run (an untraced one takes one of each, for its checks)
READS_AFTER = 3


def _rule():
    from dbsync_spark.operators.route import SyncRule

    return SyncRule(gen.SOURCE_DB, gen.SCHEMA, gen.TABLE, (gen.KEY,),
                    target_db=gen.TARGET_DB)


def _payload_schema():
    from pyspark.sql.types import StructType

    return StructType.fromDDL(gen.PAYLOAD_DDL)


def _app(run: Run, base: str, poll=60000, retry=600000, clean=3600000,
         keep=24, compact=64):
    from dbsync_spark.app import DbSyncApp
    from dbsync_spark.config import parse_config

    cfg = parse_config(RULE_YAML.format(
        poll=poll, retry=retry, clean=clean, keep=keep, compact=compact,
        src=gen.SOURCE_DB, tgt=gen.TARGET_DB, schema=gen.SCHEMA,
        table=gen.TABLE, key=gen.KEY))
    key = f"{gen.SOURCE_DB}.{gen.SCHEMA}.{gen.TABLE}"
    return DbSyncApp(run.spark, cfg, base, {key: _payload_schema()})


def _paths(base: str) -> dict:
    """The app's own layout under `base` (DbSyncApp.bootstrap)."""
    tgt = f"{gen.TARGET_DB}.{gen.SCHEMA}.{gen.TABLE}"
    src = f"{gen.SOURCE_DB}.{gen.SCHEMA}.{gen.TABLE}"
    return {"log": os.path.join(base, "log", gen.SOURCE_DB),
            "status": os.path.join(base, "status", gen.SOURCE_DB),
            "target": os.path.join(base, "targets", tgt),
            "ckpt": os.path.join(base, "ckpt", f"{src}->{tgt}")}


def get_status(port: int) -> dict:
    with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/status/sync", timeout=60) as r:
        return json.loads(r.read())


def _timed_status_reads(run: Run, port: int, n: int, expect_success: int):
    """`n` closed-loop status reads after convergence; a read that errors
    or reports pending changes or the wrong success count fails."""
    for _ in range(n):
        t = time.perf_counter()
        try:
            body = get_status(port)
            ok = body["pending"] == 0 and body["success"] == expect_success
        except (OSError, ValueError, KeyError):
            ok = False
        run.samples["status_read_s"].append(time.perf_counter() - t)
        run.tally("status_reads", 1, 0 if ok else 1)


def read_bucketed_target(target: str) -> dict[int, tuple]:
    """Live rows of a bucketed target, read with DuckDB."""
    import duckdb

    glob = os.path.join(target, "data", "*", "*.parquet")
    cols = ", ".join(gen.COLUMNS)
    with duckdb.connect() as con:
        rows = con.execute(
            f"SELECT {cols} FROM read_parquet('{glob}', "
            "hive_partitioning=true, union_by_name=true) "
            "WHERE NOT _deleted").fetchall()
    return {r[0]: tuple(r) for r in rows}


def read_sqlite_target(db: str) -> dict[int, tuple]:
    cols = ", ".join(gen.COLUMNS)
    with sqlite3.connect(db) as con:
        rows = con.execute(f"SELECT {cols} FROM {gen.TABLE}").fetchall()
    return {r[0]: tuple(r) for r in rows}


def read_final_status(status_dir: str) -> dict[int, str]:
    """dataId -> latest acked status, read from the ack log with DuckDB."""
    import duckdb

    glob = os.path.join(status_dir, "*.parquet")
    with duckdb.connect() as con:
        rows = con.execute(
            f"SELECT dataId, arg_max(status, epoch_us(createTime) * 1000 "
            f"+ retry) FROM read_parquet('{glob}') GROUP BY dataId").fetchall()
    return dict(rows)


def ack_counts(status_dir: str) -> dict[str, int]:
    """Ack rows by status, malformed-payload dead letters apart."""
    import duckdb

    glob = os.path.join(status_dir, "*.parquet")
    with duckdb.connect() as con:
        rows = con.execute(
            "SELECT CASE WHEN message = 'malformed payload' THEN 'MALFORMED' "
            f"ELSE status END, count(*) FROM read_parquet('{glob}') "
            "GROUP BY 1").fetchall()
    return dict(rows)


def check(run: Run, log: gen.ChangeLog, target: dict[int, tuple],
          status: dict[int, str]) -> None:
    """Count every generated change as one attempted operation; it fails
    when its key's final target row differs from the oracle, or its final
    status is not OK (ERR for a malformed payload)."""
    bad_keys = gen.diff_rows(log.live, target)
    failed = 0
    for cid in range(1, log.next_id):
        want = "ERR" if cid in log.malformed else "OK"
        if status.get(cid) != want or log.key_of[cid - 1] in bad_keys:
            failed += 1
    run.tally("changes", log.next_id - 1, failed)
    run.detail["mismatched_keys"] = (run.detail.get("mismatched_keys", 0)
                                     + len(bad_keys))


def check_aggregate(run: Run, log: gen.ChangeLog, agg) -> None:
    """The target's (count, sum qty, sum price) against the oracle."""
    run.tally("aggregates", 1, 0 if tuple(agg) == _oracle_aggregate(log)
              else 1)


def source_batches(ckpt: str) -> dict[str, int]:
    """File name -> micro-batch id, from the query's own file-source log
    in its checkpoint (plain and compacted entries alike)."""
    out = {}
    d = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def batch_commits(tracer: spans.Tracer) -> dict[int, float]:
    """Micro-batch id -> end of its (wrapped) process_batch call."""
    return {s["args"][1]: s["end"] for s in tracer.named("pipeline.batch")}


def _wrap_pipeline(run: Run, pipe, table_kind: str) -> None:
    """Spans around the public calls of one pipeline instance. Must run
    before start(): foreachBatch binds process_batch at start time."""
    tr = run.tracer
    tr.wrap(pipe, "process_batch", "pipeline.batch")
    if not run.traced:
        return
    tr.wrap(pipe, "apply_changes", "apply.apply_changes")
    tr.wrap(pipe, "retry_pass", "retry.pass")
    target = pipe.target
    if table_kind == "jdbc":
        tr.wrap(target, "merge_changes", "jdbc.merge")
        return

    def before(rec):
        rec["fp"] = target.state_fingerprint()
        rec["n_buckets"] = target.n_buckets

    def after(rec, _result):
        old = set(rec.pop("fp"))
        new = [f for f in target.state_fingerprint()
               if f not in old and f[0].endswith(".parquet")]
        rec["bytes_rewritten"] = sum(f[1] for f in new)
        rec["touched"] = len({os.path.dirname(f[0]) for f in new})
        rec["rebucket"] = target.n_buckets != rec["n_buckets"]
        rec["n_buckets"] = target.n_buckets

    tr.wrap(target, "merge_changes", "table.merge", on_exit=after,
            on_enter=before)


def _parquet_files(d: str) -> set[str]:
    try:
        return {f for f in os.listdir(d) if f.endswith(".parquet")}
    except FileNotFoundError:
        return set()


def _wrap_app(run: Run, app, paths: dict) -> None:
    """Spans around the control-loop ticks and status reads of an app.
    Must run before start_control_loops(), which binds the ticks."""
    tr = run.tracer
    if not run.traced:
        return
    tr.wrap(app, "sync_state", "status.read")
    tr.wrap(app, "monitor_pass", "monitor.tick")
    tr.wrap(app, "retry_pass", "retry.tick")

    def removed_from(d):
        """Span hooks counting the parquet files a call removes from d."""
        def before(rec):
            rec["files"] = _parquet_files(d)

        def after(rec, _result):
            rec["removed"] = len(rec.pop("files") - _parquet_files(d))
        return {"on_enter": before, "on_exit": after}

    tr.wrap(app, "retention_pass", "retention.pass",
            **removed_from(paths["log"]))
    tr.wrap(app, "status_compaction_pass", "layout.compact",
            **removed_from(paths["status"]))


def _scan(run: Run, pipe) -> tuple:
    """One full aggregate over the live target: the read beside the
    write."""
    from pyspark.sql import functions as F

    from dbsync_spark.operators.apply import live_rows

    t = time.perf_counter()
    with run.tracer.span("table.scan"):
        row = live_rows(pipe.target.read(run.spark)).agg(
            F.count("*"), F.sum("qty"), F.sum("price_cents")).first()
    run.samples["target_scan_s"].append(time.perf_counter() - t)
    return tuple(row)


def _oracle_aggregate(log: gen.ChangeLog) -> tuple:
    rows = log.live.values()
    return (len(log.live), sum(r[1] for r in rows) if rows else None,
            sum(r[2] for r in rows) if rows else None)


def _write_backlog(log: gen.ChangeLog, directory: str, n: int,
                   per_file: int, p_delete: float, keys,
                   p_malformed: float = 0.0) -> list[dict]:
    os.makedirs(directory, exist_ok=True)
    files = []
    for i in range(0, n, per_file):
        ch = log.changes(keys[i:i + per_file], p_delete, p_malformed)
        name = f"part-{i // per_file:05d}.parquet"
        log.write_file(directory, name, ch)
        files.append({"name": name, "rows": len(ch),
                      "bytes": gen.payload_bytes(ch)})
    return files


def _copy_files(src: str, dst: str) -> None:
    """Copy a backlog, stamping file i with an mtime one second after
    file i-1: the file source orders files by mtime, so a backlog copied
    within one millisecond would otherwise reach the engine in an
    arbitrary file order (a capture spool grows in id order)."""
    os.makedirs(dst, exist_ok=True)
    names = sorted(os.listdir(src))
    now = time.time()
    for i, name in enumerate(names):
        path = os.path.join(dst, name)
        shutil.copyfile(os.path.join(src, name), path)
        t = now - len(names) + i
        os.utime(path, (t, t))


def _cycles(run: Run, cycle_fn):
    """Measured phase of a batch workload: run `cycle_fn(base_dir)` once,
    then again while another cycle as long as the last still fits in
    `run.seconds`. `cycle_fn` returns its cycle's `finish(reads=0)`,
    which checks and closes it; each is called before the next cycle
    starts. Returns the cycle count, the last cycle's dir and its
    `finish`, left for the caller to call after reading the final
    state."""
    run.samples.clear()
    run.mark()
    n, last, finish = 0, 0.0, None
    while finish is None or (time.perf_counter() - run.t_measure + last
                             <= run.seconds):
        if finish is not None:
            finish()
            # keep disk use flat: only the last cycle stays
            shutil.rmtree(base, ignore_errors=True)
        t = time.perf_counter()
        base = os.path.join(run.work, f"cycle{n}")
        finish = cycle_fn(base)
        last = time.perf_counter() - t
        n += 1
    run.t_end = time.perf_counter()
    return n, base, finish


# --- trickle --------------------------------------------------------------

TRICKLE_SEED_CHANGES = 8_000
TRICKLE_KEYS = 6_400
TRICKLE_PERIOD_S = 0.1
TRICKLE_FILE_ROWS = 20
# the processing-time trigger: about two and a half batches (planning
# included), so a batch that runs twice as slow on a busy host still
# mostly ends before the next one is due, and lag (half a period of
# waiting plus a batch) moves by under half the batch time's change
# instead of queueing batches behind it
TRIGGER_S = 10
TRICKLE_TIMEOUT_S = 60.0


class Generator(threading.Thread):
    """Open loop: file i is due i periods after the thread starts,
    whatever the engine does; a late write is recorded, never skipped or
    slowed."""

    def __init__(self, log: gen.ChangeLog, directory: str):
        super().__init__(daemon=True)
        self.log, self.dir = log, directory
        self.files: list[dict] = []
        self.stop_evt = threading.Event()

    def run(self) -> None:
        t0, i = time.perf_counter(), 0
        while True:
            due = t0 + i * TRICKLE_PERIOD_S
            if self.stop_evt.wait(max(0.0, due - time.perf_counter())):
                return
            ch = self.log.changes(self.log.zipf_keys(TRICKLE_FILE_ROWS), 0.05)
            name = f"tick-{i:06d}.parquet"
            self.log.write_file(self.dir, name, ch)
            self.files.append({"name": name, "rows": len(ch),
                               "bytes": gen.payload_bytes(ch), "due": due,
                               "late": time.perf_counter() - due})
            i += 1


def trickle(run: Run) -> None:
    # set-up pass: an app in a fresh directory whose target is pre-seeded
    # by draining an 8k-change backlog; the stream runs on the last one
    passes = []

    def seed_pass(i):
        if passes:
            passes[-1][1].stop()
        log = gen.ChangeLog(run.seed, TRICKLE_KEYS)
        base = os.path.join(run.work, f"app{i}")
        # tick intervals are whole trigger periods (see _open_window)
        app = _app(run, base, poll=2000 * TRIGGER_S, retry=1000 * TRIGGER_S,
                   clean=2000 * TRIGGER_S, keep=0, compact=4)
        app.bootstrap()
        _write_backlog(log, _paths(base)["log"], TRICKLE_SEED_CHANGES,
                       TRICKLE_SEED_CHANGES // 4, 0.1,
                       log.uniform_keys(TRICKLE_SEED_CHANGES))
        app.pipelines[0].run_to_completion()
        passes.append((log, app, base))

    run.warm_up(seed_pass)
    log, app, base = passes[-1]
    p = _paths(base)
    pipe = app.pipelines[0]
    _wrap_pipeline(run, pipe, "table")
    _wrap_app(run, app, p)
    port = app.serve_endpoints(0)
    reads = READS_AFTER if run.traced else 1
    genr = Generator(log, p["log"])
    query = None
    try:
        query = pipe.start(available_now=False,
                           processing_time=f"{TRIGGER_S} seconds")
        # Spark fires a query's first trigger at once, off the period
        # grid; the window must not hold it
        _await(lambda: query.recentProgress)
        genr.start()
        t0, t1 = _open_window(run, app)
        # the generator stops just before the window's last trigger, with
        # room for a late write, so the batch it fires holds the window's
        # last files and the drain after the window is that one batch
        time.sleep(max(0.0, t1 - 0.15 - time.perf_counter()))
        genr.stop_evt.set()
        genr.join(timeout=30)
        _await(lambda: all(source_batches(p["ckpt"]).get(f["name"])
                           in batch_commits(run.tracer)
                           for f in genr.files))
        _stop_loops(app)
        query.stop()
        # quiet reads: every change still in the log (retention removed
        # the rest) is acked OK exactly once
        _timed_status_reads(run, port, reads, _log_rows(p["log"]))
    finally:
        genr.stop_evt.set()
        _stop_loops(app)
        app.stop()
        if query is not None:
            query.stop()
    fb = source_batches(p["ckpt"])
    commits = batch_commits(run.tracer)
    window = [f for f in genr.files if t0 <= f["due"] < t1]
    for f in window:
        run.samples["lag_s"].append(commits[fb[f["name"]]] - f["due"])
    # the batches fired at the window's triggers, its first to its last:
    # the rows of all but the first over the time between their commits,
    # so the rate spans whole trigger periods
    rows_by_batch = collections.Counter()
    for f in genr.files:
        rows_by_batch[fb.get(f["name"])] += f["rows"]
    spanned = sorted((s["end"], s["args"][1]) for s in run.tracer.named(
        "pipeline.batch") if s["start"] >= t0 - TRIGGER_S / 2)
    run.samples["rows_per_s"].append(
        sum(rows_by_batch[b] for _, b in spanned[1:])
        / (spanned[-1][0] - spanned[0][0]))
    # the read metrics come from the final state once quiet, as on
    # flaky_target: reads beside the stream are bimodal (with or without a
    # batch running), and their median flips from run to run
    for _ in range(reads):
        agg = _scan(run, pipe)
    check_aggregate(run, log, agg)
    check(run, log, read_bucketed_target(p["target"]),
          read_final_status(p["status"]))
    run.sizes.update(seed_changes=TRICKLE_SEED_CHANGES, keys=TRICKLE_KEYS,
                     tick_rows=TRICKLE_FILE_ROWS,
                     period_s=TRICKLE_PERIOD_S,
                     offered_rows_per_s=TRICKLE_FILE_ROWS / TRICKLE_PERIOD_S,
                     generated_changes=sum(f["rows"] for f in genr.files))
    measured_batches = {s["args"][1] for s in run.tracer.named(
        "pipeline.batch") if t0 <= s["start"] < t1}
    run.detail.update(
        loop_stats=dict(app.loop_stats), n_buckets=pipe.target.n_buckets,
        window_payload_bytes=sum(f["bytes"] for f in genr.files
                                 if fb.get(f["name"]) in measured_batches),
        window_rows=sum(f["rows"] for f in genr.files
                        if fb.get(f["name"]) in measured_batches),
        gen_rows=sum(f["rows"] for f in window),
        gen_late_s_max=max(f["late"] for f in genr.files),
        gen_files=len(genr.files), last_paths=p, window=[t0, t1],
        backlog_rows_end=sum(
            f["rows"] for f in genr.files
            if f["due"] < t1 and commits.get(fb.get(f["name"], -1),
                                             float("inf")) >= t1))


def _open_window(run: Run, app) -> tuple[float, float]:
    """Start the control loops and open the measured window, both in
    phase with the stream's triggers, which Spark fires at wall-clock
    multiples of the period. The window opens on a trigger at least half
    a period away and spans whole periods (about `run.seconds`, at least
    one). The loops start half a period before it and tick at whole
    periods, so every run sees the same ticks at the same points: retry
    half a period into each period, retention and monitor in every other
    one, all between two batches while a batch takes under half a
    period. Returns the window on the perf_counter clock."""
    now = time.perf_counter()
    offset = time.time() - now
    t0 = (TRIGGER_S * math.ceil((now + offset + TRIGGER_S / 2) / TRIGGER_S)
          - offset)
    # set-up time counts the half period before the window (the stream's
    # first batches), not the wait for the phase before it
    run.wait_s = t0 - TRIGGER_S / 2 - now
    time.sleep(max(0.0, t0 - TRIGGER_S / 2 - time.perf_counter()))
    app.start_control_loops()
    time.sleep(max(0.0, t0 - time.perf_counter()))
    run.mark()
    run.t_end = t0 + TRIGGER_S * max(1, round(run.seconds / TRIGGER_S))
    return t0, run.t_end


def _stop_loops(app) -> None:
    """Stop the control loops and wait for a tick in flight to finish."""
    loops = getattr(app, "_loops_thread", None)
    app.stop_control_loops()
    if loops is not None:
        loops.join(timeout=120)


def _log_rows(log_dir: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(os.path.join(log_dir, f)).metadata.num_rows
               for f in _parquet_files(log_dir))


def _await(done, timeout: float = TRICKLE_TIMEOUT_S) -> None:
    """Poll `done()` until it is true; the stream fell behind otherwise."""
    deadline = time.perf_counter() + timeout
    while not done():
        if time.perf_counter() > deadline:
            raise TimeoutError("the stream did not keep up")
        time.sleep(0.1)


# --- flaky_target --------------------------------------------------------

FLAKY_CHANGES = 2_000
FLAKY_KEYS = 1_200
FLAKY_FILE_ROWS = 250
FLAKY_FILES_PER_BATCH = FLAKY_CHANGES // FLAKY_FILE_ROWS  # one batch
FLAKY_FAIL_FRAC = 0.02
FLAKY_MALFORMED_FRAC = 0.001
FLAKY_MAX_RETRY_PASSES = 12
# the resolver's cadence (sys.retryInterval): retry pass k of a measured
# cycle is due k intervals after the drain started, or at once if the
# one before ran past that; well above the drain and pass times, so a
# busy host moves convergence by the last pass's slowdown, not every
# step's
FLAKY_RETRY_S = 6.0
SQLITE_DDL = (f'CREATE TABLE "{gen.TABLE}" (k INTEGER PRIMARY KEY, '
              'qty INTEGER, price_cents INTEGER, name TEXT, status TEXT, '
              '"_last_id" INTEGER)')


def failing_keys(log: gen.ChangeLog, seed: int) -> dict[int, int]:
    """key -> attempts that fail for about FLAKY_FAIL_FRAC of the changed
    keys, drawn among keys changed at most twice: 2 attempts for a key
    changed once, 1 for a key changed twice (whose second change is
    blocked behind the first). Every change then lands within two retry
    passes, which bounds the run time."""
    import numpy as np

    counts = collections.Counter(log.key_of)
    pool = sorted(k for k, c in counts.items() if c <= 2)
    rng = np.random.default_rng(seed + 1)
    n = round(FLAKY_FAIL_FRAC * len(counts))
    chosen = rng.choice(pool, size=min(n, len(pool)), replace=False)
    return {int(k): 3 - counts[int(k)] for k in chosen}


def _failure_policy(fail: dict[int, int]):
    """The SyncPipeline failure_policy: a change of key k fails while its
    attempt count is below fail[k]."""
    from pyspark.sql import functions as F

    def policy(_changes):
        col = F.lit(0)
        for attempts in sorted(set(fail.values())):
            keys = [k for k, a in fail.items() if a == attempts]
            col = F.when(F.col(gen.KEY).isin(keys), attempts).otherwise(col)
        return col

    return policy


def _flaky_cycle(run: Run, master: str, log: gen.ChangeLog, base: str,
                 files: list[dict], measured: bool, warm_retry=False):
    """One delivery of the backlog in `master` through a fresh app,
    pipeline and SQLite target: the drain, then retry passes on the
    resolver's cadence until every change has landed (a set-up pass runs
    one at once if `warm_retry`, else none). Returns the cycle's
    `finish(reads=0)`: `reads` timed status reads and ack-log scans, the
    checks against the oracle (of a measured cycle), and the app's
    stop."""
    from dbsync_spark.sinks.jdbc import JdbcTable, sqlite_connect_factory
    from dbsync_spark.streaming.pipeline import SyncPipeline

    p = _paths(base)
    app = _app(run, base)
    app.bootstrap()
    _copy_files(master, p["log"])
    db = os.path.join(base, "target.db")
    with sqlite3.connect(db) as con:
        con.execute(SQLITE_DDL)
    target = JdbcTable("postgresql", "", "main", gen.TABLE, [gen.KEY],
                       connect=sqlite_connect_factory(db),
                       pool_name=f"perfbench-{os.path.basename(base)}",
                       n_writers=1)
    pipe = SyncPipeline(
        run.spark, _rule(), _payload_schema(), log_path=p["log"],
        target_path=p["target"], status_path=p["status"],
        checkpoint_path=p["ckpt"],
        max_files_per_trigger=FLAKY_FILES_PER_BATCH,
        failure_policy=_failure_policy(failing_keys(log, run.seed)),
        target_layout=target)
    _wrap_pipeline(run, pipe, "jdbc")
    _wrap_app(run, app, p)
    port = app.serve_endpoints(0)
    try:
        t0 = time.perf_counter()
        pipe.run_to_completion()
        # convergence: the end of the last pass that retried something
        passes, t_conv = 0, time.perf_counter()
        if not measured:
            if warm_retry:
                pipe.retry_pass()
        else:
            while not _landed(log, p["status"]):
                time.sleep(max(0.0, t0 + (passes + 1) * FLAKY_RETRY_S
                               - time.perf_counter()))
                if not pipe.retry_pass():
                    break  # nothing retryable: check() counts what is off
                passes, t_conv = passes + 1, time.perf_counter()
                if passes >= FLAKY_MAX_RETRY_PASSES:
                    raise RuntimeError("retry passes did not converge")
            _flaky_lags(run, log, files, p["status"], t0)
            run.samples["rows_per_s"].append(log.well_formed
                                             / (t_conv - t0))
            _flaky_counts(run, log, p["status"], passes, t_conv - t0)
    except BaseException:
        app.stop()
        raise

    def finish(reads: int = 0) -> None:
        if not measured:
            app.stop()
            return
        by_status = None
        try:
            _timed_status_reads(run, port, reads, log.well_formed)
            for _ in range(reads):
                by_status = _scan_status(run, p["status"])
        finally:
            app.stop()
        check(run, log, read_sqlite_target(db),
              read_final_status(p["status"]))
        if by_status is not None:
            want = {k: n for k, n in (("OK", log.well_formed),
                                      ("ERR", len(log.malformed))) if n}
            run.tally("aggregates", 1, 0 if by_status == want else 1)

    return finish


def _landed(log: gen.ChangeLog, status_dir: str) -> bool:
    """Every change holds its final status in the ack log (OK, or ERR
    for a malformed payload): the oracle's end of convergence, read with
    DuckDB between retry passes instead of one more pass that finds
    nothing to retry."""
    status = read_final_status(status_dir)
    return all(status.get(cid) == ("ERR" if cid in log.malformed else "OK")
               for cid in range(1, log.next_id))


def _scan_status(run: Run, status_dir: str) -> dict[str, int]:
    """The engine-side read beside the write on a SQLite target (which is
    outside the engine): the ack log folded to each change's current
    status (operators.status.current_status), counted by status."""
    from pyspark.sql import functions as F

    from dbsync_spark.operators.status import current_status

    t = time.perf_counter()
    with run.tracer.span("table.scan"):
        rows = (current_status(run.spark.read.parquet(status_dir))
                .groupBy("status").agg(F.count("*").alias("n")).collect())
    run.samples["target_scan_s"].append(time.perf_counter() - t)
    return {r["status"]: r["n"] for r in rows}


def _flaky_counts(run: Run, log: gen.ChangeLog, status_dir: str,
                  passes: int, converge_s: float) -> None:
    """Retry-layer counts of one measured cycle, from the ack log: the
    drain acks every change once, each retry pass re-acks what it
    retried, and each pass that retried scanned the whole log."""
    acks = ack_counts(status_dir)
    d = run.detail
    n = log.next_id - 1
    retried = sum(acks.values()) - n
    d["converge_s"] = d.get("converge_s", []) + [converge_s]
    d["retry_passes"] = passes
    d["retry_err_rows"] = acks.get("ERR", 0)
    d["retry_blk_rows"] = acks.get("BLK", 0)
    d["retry_log_rows_scanned"] = passes * n
    d["retry_useful_ratio"] = retried / (passes * n) if passes else 0.0
    d["delivered_rows"] = d.get("delivered_rows", 0) + log.well_formed


def _flaky_lags(run: Run, log: gen.ChangeLog, files: list[dict],
                status_dir: str, t0: float) -> None:
    """Per file: when its last well-formed change became OK, from the OK
    ack's createTime (written by the batch or retry pass that landed it),
    minus the drain start. Wall-clock ack times map onto the
    perf_counter timeline through one paired clock reading."""
    import duckdb

    glob = os.path.join(status_dir, "*.parquet")
    with duckdb.connect() as con:
        ok = dict(con.execute(
            "SELECT dataId, epoch_us(max(createTime)) FROM "
            f"read_parquet('{glob}') WHERE status = 'OK' "
            "GROUP BY dataId").fetchall())
    offset = time.time() - time.perf_counter()
    first = 1
    for f in files:
        ids = [i for i in range(first, first + f["rows"])
               if i not in log.malformed]
        first += f["rows"]
        done = max(ok[i] for i in ids) / 1e6 - offset
        run.samples["lag_s"].append(done - t0)


def flaky_target(run: Run) -> None:
    log = gen.ChangeLog(run.seed, FLAKY_KEYS)
    master = os.path.join(run.work, "backlog")
    files = _write_backlog(log, master, FLAKY_CHANGES, FLAKY_FILE_ROWS, 0.1,
                           log.uniform_keys(FLAKY_CHANGES),
                           FLAKY_MALFORMED_FRAC)
    run.sizes.update(changes=FLAKY_CHANGES, keys=FLAKY_KEYS,
                     files=len(files), malformed=len(log.malformed),
                     failing_keys=len(failing_keys(log, run.seed)))
    # the set-up pass: the drain of the same backlog; the first, cold one
    # also runs a retry pass, so every code path of a measured cycle has
    # run once (set-up time counts the pass at its median, a warm drain)
    run.warm_up(lambda i: _flaky_cycle(
        run, master, log, os.path.join(run.work, f"warm{i}"), files,
        measured=False, warm_retry=i == 0)())
    cycle, base, finish = _cycles(
        run, lambda b: _flaky_cycle(run, master, log, b, files,
                                    measured=True))
    finish(READS_AFTER if run.traced else 1)
    run.detail.update(cycles=cycle, last_paths=_paths(base),
                      gen_rows=FLAKY_CHANGES,
                      window_rows=cycle * FLAKY_CHANGES)


WORKLOADS = {"trickle": trickle, "flaky_target": flaky_target}


# --- per-layer numbers (traced runs) ---------------------------------------

def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def layers(run: Run, names: list[str]) -> dict[str, float]:
    """Every per-layer metric in `names`, from the spans and the Spark
    status store, over the measured phase; a layer the workload does not
    enter reads 0."""
    tr = run.tracer
    t0, t1 = run.t_measure, run.t_end
    inside = [s for s in tr.spans if s["end"] is not None
              and t0 <= s["start"] < t1]
    by = collections.defaultdict(list)
    for s in inside:
        by[s["name"]].append(s)
    selft = spans.self_times(tr.spans)
    kids = collections.defaultdict(list)
    for s in tr.spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = dict.fromkeys(names, 0.0)

    def dur(s):
        return s["end"] - s["start"]

    jobs = spans.spark_jobs(run.spark.sparkContext, run.job_mark)
    owned = spans.attribute_jobs(jobs, tr.spans)
    tot = spans.spark_totals(jobs)
    wall = t1 - t0
    out.update({"spark.jobs": tot["jobs"], "spark.stages": tot["stages"],
                "spark.task_s": tot["task_s"],
                "spark.cores_busy": tot["task_s"] / wall,
                "spark.shuffle_read_mb": tot["shuffle_read_mb"],
                "spark.shuffle_write_mb": tot["shuffle_write_mb"],
                "spark.spill_mb": tot["spill_mb"]})

    def subtree(s):
        todo, ids = [s], []
        while todo:
            x = todo.pop()
            ids.append(x["id"])
            todo.extend(kids[x["id"]])
        return ids

    batches = by["pipeline.batch"]
    if batches:
        out["pipeline.batches"] = len(batches)
        out["pipeline.batch_s_p50"] = _median(dur(s) for s in batches)
        out["pipeline.batch_s_max"] = max(dur(s) for s in batches)
        batch_jobs = [sum(len(owned.get(i, [])) for i in subtree(s))
                      for s in batches]
        out["pipeline.jobs_per_batch"] = sum(batch_jobs) / len(batches)
        out["pipeline.rows_per_batch"] = (run.detail["window_rows"]
                                          / len(batches))
        busy, reach = 0.0, t0
        for s in sorted(batches, key=lambda s: s["start"]):
            lo, hi = max(s["start"], reach), min(s["end"], t1)
            if hi > lo:
                busy += hi - lo
                reach = hi
        out["pipeline.idle_s"] = wall - busy
        out["apply.precheck_s"] = _median(selft[s["id"]] for s in batches)
    applies = by["apply.apply_changes"]
    if applies:
        out["apply.pin_ack_s"] = _median(selft[s["id"]] for s in applies)
        waits = [min(c["start"] for c in kids[s["id"]]) - s["start"]
                 for s in applies if kids[s["id"]]]
        out["pipeline.merge_lock_wait_s"] = _median(waits)
    merges = by["table.merge"]
    if merges:
        out["table.merge_s"] = _median(dur(s) for s in merges)
        out["table.touched_buckets"] = _median(s["touched"] for s in merges)
        rewritten = sum(s["bytes_rewritten"] for s in merges)
        out["table.bytes_rewritten_mb"] = rewritten / (1 << 20)
        out["table.rebuckets"] = sum(1 for s in merges if s["rebucket"])
        payload = run.detail.get("window_payload_bytes", 0)
        out["table.write_amp"] = rewritten / payload if payload else 0.0
    out["table.n_buckets"] = run.detail.get("n_buckets", 0)
    out["table.scan_s"] = _median(run.samples["target_scan_s"])
    jm = by["jdbc.merge"]
    if jm:
        out["jdbc.merge_s"] = _median(dur(s) for s in jm)
        delivered = run.detail.get("delivered_rows", 0)
        out["jdbc.rows_per_s"] = delivered / sum(dur(s) for s in jm)
    rp = by["retry.pass"]
    if rp:
        out["retry.ticks"] = len(rp)
        out["retry.tick_s"] = _median(dur(s) for s in rp)
        out["retry.passes"] = sum(1 for s in rp if s["result"])
    for key in ("err_rows", "blk_rows", "log_rows_scanned", "useful_ratio"):
        out[f"retry.{key}"] = run.detail.get(f"retry_{key}", 0)
    out["status.read_s"] = _median(dur(s) for s in by["status.read"])
    out["monitor.tick_s"] = _median(dur(s) for s in by["monitor.tick"])
    out["app.tick_errors"] = run.detail.get("loop_stats", {}).get("errors", 0)
    status_dir = run.detail["last_paths"]["status"]
    files = _parquet_files(status_dir)
    out["status.files"] = len(files)
    out["status.mb"] = sum(os.path.getsize(os.path.join(status_dir, f))
                           for f in files) / (1 << 20)
    ret = by["retention.pass"]
    out["retention.pass_s"] = _median(dur(s) for s in ret)
    out["retention.files_removed"] = sum(s["removed"] for s in ret)
    comp = by["layout.compact"]
    out["layout.compact_s"] = _median(dur(s) for s in comp if s["result"])
    out["layout.files_compacted"] = sum(s["removed"] for s in comp)
    out["gen.rows"] = run.detail.get("gen_rows", 0)
    out["gen.late_s_max"] = run.detail.get("gen_late_s_max", 0.0)
    out["gen.backlog_rows_end"] = run.detail.get("backlog_rows_end", 0)
    out["trace.spans"] = len(tr.spans)
    out["trace.cost_s"] = tr.cost_s
    # per span name: Spark deltas of the jobs it ran itself
    per_span = {}
    for name, ss in by.items():
        if not ss:
            continue
        js = [j for s in ss for j in owned.get(s["id"], [])]
        per_span[name] = {"calls": len(ss),
                          "total_s": sum(dur(s) for s in ss),
                          "self_s": sum(selft[s["id"]] for s in ss),
                          **spans.spark_totals(js)}
    run.detail["per_span"] = per_span
    if batches:
        covered = [sum(selft[i] for i in subtree(s)) / dur(s)
                   for s in batches]
        run.detail["batch_self_time_coverage"] = _median(covered)
    return out

