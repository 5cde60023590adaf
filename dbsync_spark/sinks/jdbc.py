"""JDBC upsert/delete/ack SQL dialects + foreachPartition writer.

Spark's JDBC writer has no MERGE mode, so live-DB targets get prepared-
statement upserts issued per partition (the reference's batchUpdate path,
sync/DataSyncer.scala:140). Every upsert and delete is guarded by a
watermark column (a monotone change id stored in the target) and applies
only when the change advances the row's watermark, so a replayed micro-
batch or a re-delivered older change never clobbers newer target state.
The SQL shapes re-express the reference's dialect semantics (not its
code):
- PostgreSQL: INSERT .. ON CONFLICT (keys) DO UPDATE SET c=EXCLUDED.c
  WHERE EXCLUDED.wm > tgt.wm (spec: dbopt/PgOperation.scala:47-79)
- MySQL: INSERT .. ON DUPLICATE KEY UPDATE c=IF(VALUES(wm) > wm,
  VALUES(c), c) (spec: dbopt/MysqlOperation.scala:47-78)
- Greenplum (no ON CONFLICT): update-else-insert as two plain statements
  instead of the reference's server-side PL/pgSQL gp_upsert
  (GpOperation.scala:47-96)
- delete by key columns, guarded the same way (PgOperation.scala:81-96)
- status ack upsert incrementing retry (PgOperation.scala:98-107)

The watermark column is never a key, so every upsert has a column to
update. Everything here is a pure function of (schema, table, columns,
keys) and unit-testable without a database. The writer groups rows per
(table, op) and issues executemany batches — strictly better than the
reference's run-length grouping of adjacent identical SQL
(DataSyncer.scala:86-111), because a set-based upsert applies a whole
group at once.
"""

from __future__ import annotations

from collections.abc import Iterable


def _ident(name: str) -> str:
    if not name.replace("_", "").isalnum():
        raise ValueError(f"unsafe identifier: {name!r}")
    return name


def _qual(schema: str, table: str, quote: str) -> str:
    return f"{quote}{_ident(schema)}{quote}.{quote}{_ident(table)}{quote}"


def pg_upsert(schema: str, table: str, columns: list[str], keys: list[str],
              watermark_col: str) -> str:
    """`... DO UPDATE SET ... WHERE EXCLUDED.wm > tgt.wm` applies only
    when the incoming change advances the row's watermark, so re-running
    a micro-batch (streaming checkpoint recovery) or re-delivering an
    older change can never clobber newer target state — the same
    `_last_id` contract merge_snapshot enforces on parquet targets
    (SQLite parses this dialect too, incl. the INSERT alias)."""
    tgt = _qual(schema, table, '"')
    cols = ", ".join(f'"{_ident(c)}"' for c in columns)
    ph = ", ".join(["?"] * len(columns))
    key_cols = ", ".join(f'"{_ident(k)}"' for k in keys)
    sets = ", ".join(f'"{_ident(c)}" = EXCLUDED."{_ident(c)}"'
                     for c in columns if c not in keys)
    wm = _ident(watermark_col)
    return (f"INSERT INTO {tgt} AS tgt ({cols}) VALUES ({ph}) "
            f"ON CONFLICT ({key_cols}) DO UPDATE SET {sets} "
            f'WHERE EXCLUDED."{wm}" > tgt."{wm}"')


def mysql_upsert(schema: str, table: str, columns: list[str], keys: list[str],
                 watermark_col: str) -> str:
    """Every SET clause is wrapped in IF(VALUES(wm) > wm, new, old) —
    MySQL applies assignments LEFT TO RIGHT with earlier assignments
    visible to later ones, so the watermark column is assigned LAST and
    every payload guard reads the row's OLD watermark (same replay-
    idempotence contract as pg_upsert's DO UPDATE ... WHERE)."""
    tgt = _qual(schema, table, "`")
    cols = ", ".join(f"`{_ident(c)}`" for c in columns)
    ph = ", ".join(["?"] * len(columns))
    wm = _ident(watermark_col)
    guarded = [c for c in columns if c not in keys and c != wm] + [wm]
    sets = ", ".join(
        f"`{_ident(c)}` = IF(VALUES(`{wm}`) > `{wm}`, "
        f"VALUES(`{_ident(c)}`), `{_ident(c)}`)" for c in guarded)
    return (f"INSERT INTO {tgt} ({cols}) VALUES ({ph}) "
            f"ON DUPLICATE KEY UPDATE {sets}")


def gp_upsert_steps(schema: str, table: str, columns: list[str],
                    keys: list[str], watermark_col: str
                    ) -> list[tuple[str, list[int]]]:
    """Watermark-guarded update-else-insert as two plain-SQL statements
    (the reference's server-side gp_upsert shape, GpOperation.scala:47-96,
    done client-side):

      1. UPDATE tgt SET payload..., wm WHERE keys AND wm < new-wm
      2. INSERT ... SELECT ... WHERE NOT EXISTS (row with these keys)

    A fresh key inserts (1 matches nothing, 2 fires); a newer change
    updates (1 fires, 2 sees the row and skips); a replayed or stale
    change is a full no-op (1's guard fails, 2 still sees the row).
    Statement 2 checks the TABLE, not the update's row count — a stale
    change must not fall through to a duplicate insert. Plain SQL on
    purpose: executes identically on Greenplum and on SQLite (the
    rehearsal engine). Not atomic across the two statements; safe under
    the per-key single-writer partitioning merge_changes guarantees.

    Returns [(sql, param_indices_into_columns)] — columns must include
    watermark_col."""
    tgt = _qual(schema, table, '"')
    wm = _ident(watermark_col)
    non_keys = [c for c in columns if c not in keys and c != watermark_col]
    key_pred = " AND ".join(f'"{_ident(k)}" = ?' for k in keys)
    cols = ", ".join(f'"{_ident(c)}"' for c in columns)
    ph = ", ".join(["?"] * len(columns))
    sets = ", ".join(f'"{_ident(c)}" = ?' for c in non_keys + [wm])
    idx = {c: i for i, c in enumerate(columns)}
    upd = (f"UPDATE {tgt} SET {sets} WHERE {key_pred} AND \"{wm}\" < ?",
           [idx[c] for c in non_keys] + [idx[watermark_col]]
           + [idx[k] for k in keys] + [idx[watermark_col]])
    ins = (f"INSERT INTO {tgt} ({cols}) SELECT {ph} "
           f"WHERE NOT EXISTS (SELECT 1 FROM {tgt} WHERE {key_pred})",
           list(range(len(columns))) + [idx[k] for k in keys])
    return [upd, ins]


def delete_by_keys(schema: str, table: str, keys: list[str],
                   dialect: str, watermark_col: str) -> str:
    """The delete only applies when the stored row is OLDER than the
    delete's change id (`wm < ?` with the delete's id bound as the
    trailing parameter) — a replayed stale delete cannot remove a newer
    row. The delete itself is physical (no tombstone): safe because
    Structured Streaming replays batches in order, so an upsert older
    than an applied delete is never re-delivered after it."""
    quote = "`" if dialect == "mysql" else '"'
    tgt = _qual(schema, table, quote)
    pred = " AND ".join(f"{quote}{_ident(k)}{quote} = ?" for k in keys)
    wm = f"{quote}{_ident(watermark_col)}{quote}"
    return f"DELETE FROM {tgt} WHERE {pred} AND {wm} < ?"


def upsert_steps(dialect: str, schema: str, table: str,
                 columns: list[str], keys: list[str], watermark_col: str
                 ) -> list[tuple[str, list[int]]]:
    """Upsert as an ordered list of (sql, param_indices_into_columns)
    statements — one for the ON CONFLICT / ON DUPLICATE KEY dialects,
    two for greenplum's update-else-insert. All three enforce the same
    replay-idempotence contract (apply only when the change advances the
    row's watermark)."""
    ident = list(range(len(columns)))
    if dialect == "postgresql":
        return [(pg_upsert(schema, table, columns, keys, watermark_col),
                 ident)]
    if dialect == "mysql":
        return [(mysql_upsert(schema, table, columns, keys, watermark_col),
                 ident)]
    if dialect == "greenplum":
        return gp_upsert_steps(schema, table, columns, keys, watermark_col)
    raise ValueError(f"unsupported dialect {dialect!r}; one of "
                     "['greenplum', 'mysql', 'postgresql']")


def _sqlite_connect(path: str):
    import sqlite3

    return sqlite3.connect(path, timeout=30)


def sqlite_connect_factory(path: str):
    """Picklable DB-API connect factory for tests/local targets (SQLite
    parses the PostgreSQL ON CONFLICT dialect)."""
    import functools

    return functools.partial(_sqlite_connect, path)


def write_upserts(df, dialect: str, url: str, schema: str, table: str,
                  keys: list[str], watermark_col: str,
                  batch_size: int = 1000,
                  connect=None, pool_name: str | None = None,
                  max_active: int = 15, acquire_timeout: float = 30.0,
                  connect_retries: int = 3,
                  statement_timeout_ms: int = 0) -> None:
    """Distributed JDBC-style upsert: each Spark partition takes one
    connection and executes batched upserts (deletes for operation='D'),
    guarded by `watermark_col`, a column of `df` and of the target.
    `connect` is a zero-arg factory returning a DB-API connection —
    injectable for tests; defaults to raising (no JDBC driver here).

    Pooling (reference DatasourcePools.scala:16-42): with `pool_name`,
    connections come from a per-worker-process bounded pool —
    `max_active` concurrent connections (DbConfig.maxPoolSize), bounded
    connect retries with backoff, acquire timeout, reuse across
    partitions, and a session query timeout (`statement_timeout_ms`,
    DbConfig.queryTimeout) issued on every fresh connection so a wedged
    statement cannot pin the pool. Without it, one connection is opened
    and closed per partition (still retried)."""
    columns = [c for c in df.columns if c != "operation"]
    up_steps = upsert_steps(dialect, schema, table, columns, keys,
                            watermark_col)
    del_sql = delete_by_keys(schema, table, keys, dialect, watermark_col)
    # the guarded delete binds the delete's own change id last
    del_idx = [columns.index(c) for c in [*keys, watermark_col]]

    if connect is None:
        raise NotImplementedError(
            "no live JDBC driver in this environment; pass a DB-API "
            "`connect` factory (e.g. psycopg2.connect)")

    from dbsync_spark.sinks.pool import (ConnectionPool, get_pool,
                                         timeout_statement)

    session_sql = timeout_statement(dialect, statement_timeout_ms)

    def apply_partition(rows: Iterable) -> None:
        # run-length batching: adjacent rows with the same statement shape
        # go into one executemany, flushed whenever the op flips — preserves
        # row order within the partition (the reference's order-preserving
        # adjacent grouping, DataSyncer.scala:86-111, done set-based)
        if pool_name is not None:
            pool = get_pool(pool_name, connect, max_active=max_active,
                            acquire_timeout=acquire_timeout,
                            connect_retries=connect_retries,
                            session_sql=session_sql)
        else:  # unpooled: still gets bounded connect retries
            pool = ConnectionPool(connect, max_active=1,
                                  connect_retries=connect_retries,
                                  session_sql=session_sql)
        with pool.connection() as conn:
            cur = conn.cursor()
            cur_op, buf = None, []

            def flush():
                if buf:
                    if cur_op == "D":
                        cur.executemany(del_sql, buf)
                    else:
                        # a multi-statement dialect (greenplum) runs
                        # each step over the whole batch in
                        # order — executemany preserves row order within
                        # a step, and the steps are per-key independent
                        for sql, idxs in up_steps:
                            cur.executemany(
                                sql, [[r[i] for i in idxs] for r in buf])
                    buf.clear()

            for row in rows:
                op = "D" if row["operation"] == "D" else "UI"
                if op != cur_op:
                    flush()
                    cur_op = op
                vals = [row[c] for c in columns]
                buf.append([vals[i] for i in del_idx] if op == "D" else vals)
                if len(buf) >= batch_size:
                    flush()
            flush()
            conn.commit()
        if pool_name is None:
            pool.close_all()

    df.foreachPartition(apply_partition)


class JdbcTable:
    """Live-DB sync target — the reference's actual production mode
    (sync/DataSyncer.scala pushing prepared-statement batches into the
    target database) — behind the same `merge_changes` protocol as
    ParquetTable/BucketedTable, so a SyncPipeline can stream
    micro-batches straight into a relational target through the pooled
    DB-API writer (sinks/pool.py: bounded pool, acquire timeout,
    connect retries, per-connection statement timeout, run-length
    executemany batching).

    Semantics: each batch is reduced last-writer-per-key (max change
    id) by merge_snapshot, the reducer of the parquet targets, then
    delivered as watermark-guarded upserts and deletes — every
    statement carries the key's winning change id and applies only when
    it ADVANCES the stored `_last_id`, so replaying a micro-batch after
    a crash (or re-delivering any older change) can never clobber newer
    target state. This is merge_snapshot's `_last_id` contract enforced
    IN the database, where it also holds across concurrent writer
    partitions. Deletes are physical (no tombstone): safe under
    Structured Streaming's in-order batch replay (an upsert older than
    an applied delete is never re-delivered after it); a full bootstrap
    replay from id 0 also converges because it re-applies in order.

    The target table must contain the payload columns plus the
    `_last_id` watermark column (BIGINT). `n_writers` caps concurrent writer
    partitions — size it to the target's connection budget (for SQLite
    targets use 1-2; its writer lock serializes anyway)."""

    def __init__(self, dialect: str, url: str, schema: str, table: str,
                 key_cols: list[str], connect,
                 pool_name: str | None = None, n_writers: int = 4,
                 batch_size: int = 1000, max_active: int = 15,
                 acquire_timeout: float = 30.0, connect_retries: int = 3,
                 statement_timeout_ms: int = 0):
        self.dialect = dialect
        self.url = url
        self.schema = schema
        self.table = table
        self.key_cols = list(key_cols)
        self.connect = connect
        self.pool_name = pool_name
        self.n_writers = n_writers
        self.batch_size = batch_size
        self.max_active = max_active
        self.acquire_timeout = acquire_timeout
        self.connect_retries = connect_retries
        self.statement_timeout_ms = statement_timeout_ms

    def merge_changes(self, spark, changes, key_cols=None,
                      pinned: bool = False) -> None:
        from pyspark.sql import functions as F

        from dbsync_spark.operators.apply import (DELETED_COL, LAST_ID_COL,
                                                  OP_DELETE, OP_INSERT,
                                                  merge_snapshot)

        if key_cols is not None and list(key_cols) != self.key_cols:
            raise ValueError(f"target is keyed on {self.key_cols}, "
                             f"cannot merge on {list(key_cols)}")
        keys = self.key_cols
        payload_cols = [c for c in changes.columns
                        if c not in ("id", "operation")]
        winners = merge_snapshot(None, changes, keys)
        rows = winners.select(
            *payload_cols, LAST_ID_COL,
            F.when(F.col(DELETED_COL), OP_DELETE).otherwise(OP_INSERT)
            .alias("operation"))
        write_upserts(
            rows.coalesce(self.n_writers),
            dialect=self.dialect, url=self.url, schema=self.schema,
            table=self.table, keys=keys, watermark_col=LAST_ID_COL,
            batch_size=self.batch_size,
            connect=self.connect, pool_name=self.pool_name,
            max_active=self.max_active,
            acquire_timeout=self.acquire_timeout,
            connect_retries=self.connect_retries,
            statement_timeout_ms=self.statement_timeout_ms)
