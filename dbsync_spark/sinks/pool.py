"""Bounded connection pool for the JDBC-style writers.

Re-expresses the reference's per-database Druid pools
(DatasourcePools.scala:16-42: two pools per db — sync + sys — with
maxPoolSize and query timeouts) for the Spark execution model: a pool is
per PYTHON WORKER PROCESS (the unit that runs foreachPartition), bounding
that worker's concurrent connections and reusing them across partitions
instead of open/close per partition. Druid's JVM-wide pool has no Spark
equivalent — executors are separate processes by design.

Features mirrored from the reference config surface:
- `max_active` (DbConfig.maxPoolSize): hard bound on concurrent
  connections; acquirers block (bounded by `acquire_timeout`) when the
  pool is exhausted.
- connect retries with backoff: a flaky endpoint gets `connect_retries`
  attempts before the acquire fails; failures are counted, never looped
  forever.
- `statement_timeout_ms` (DbConfig.queryTimeout): issued as the dialect's
  session-timeout statement on each fresh connection (PostgreSQL
  `SET statement_timeout`, MySQL `SET SESSION max_execution_time`) so a
  wedged statement cannot hold a pooled connection forever.
- live stats in the reference's /status/datasource vocabulary:
  maxActive / activeCount / errorCount / poolingCount / waitCount.
"""

from __future__ import annotations

import functools
import threading
import time


def timeout_statement(dialect: str, statement_timeout_ms: int) -> str | None:
    """The session query-timeout statement for a dialect (None if the
    engine has no session-level timeout, e.g. SQLite/greenplum-as-pg uses
    the pg form)."""
    if statement_timeout_ms <= 0:
        return None
    if dialect in ("postgresql", "greenplum"):
        return f"SET statement_timeout = {int(statement_timeout_ms)}"
    if dialect == "mysql":
        return f"SET SESSION max_execution_time = {int(statement_timeout_ms)}"
    return None


class PoolExhausted(RuntimeError):
    pass


class ConnectionPool:
    def __init__(self, connect, max_active: int = 15,
                 acquire_timeout: float = 30.0, connect_retries: int = 3,
                 retry_backoff: float = 0.2, name: str = "",
                 session_sql: str | None = None):
        self._connect = connect
        # config snapshot for get_pool's replace-on-change comparison:
        # plain values, so a repeat call from a freshly unpickled task
        # compares equal
        self._config_kwargs = {
            "max_active": max_active, "acquire_timeout": acquire_timeout,
            "connect_retries": connect_retries,
            "retry_backoff": retry_backoff, "session_sql": session_sql}
        self.max_active = max_active
        self.acquire_timeout = acquire_timeout
        self.connect_retries = connect_retries
        self.retry_backoff = retry_backoff
        self.name = name
        # run once on each fresh connection (e.g. timeout_statement)
        self.session_sql = session_sql
        self._cond = threading.Condition()
        self._idle: list = []
        self._active = 0
        self._errors = 0
        self._waits = 0

    # -- core ---------------------------------------------------------------
    def _open(self):
        last = None
        # at least one attempt regardless of the retry setting — a
        # "raise None" from an empty loop would mask the misconfiguration
        attempts = max(1, self.connect_retries)
        for attempt in range(attempts):
            try:
                return self._connect()
            except Exception as e:  # noqa: BLE001 - counted + retried
                last = e
                with self._cond:
                    self._errors += 1
                if attempt < attempts - 1:  # no pointless sleep after
                    # the final failure — the caller should see the
                    # error immediately
                    time.sleep(self.retry_backoff * (2 ** attempt))
        raise last

    def acquire(self):
        deadline = time.monotonic() + self.acquire_timeout
        with self._cond:
            while not self._idle and self._active >= self.max_active:
                self._waits += 1
                remaining = deadline - time.monotonic()
                if remaining <= 0 or not self._cond.wait(timeout=remaining):
                    raise PoolExhausted(
                        f"pool {self.name!r}: no connection within "
                        f"{self.acquire_timeout}s "
                        f"(active={self._active}/{self.max_active})")
            conn = self._idle.pop() if self._idle else None
            self._active += 1
        if conn is None:
            try:
                conn = self._open()
                if self.session_sql is not None:
                    conn.cursor().execute(self.session_sql)
            except Exception:
                with self._cond:
                    self._active -= 1
                    self._cond.notify()
                raise
        return conn

    def release(self, conn, broken: bool = False) -> None:
        with self._cond:
            self._active -= 1
            if broken:
                self._errors += 1
            else:
                self._idle.append(conn)
            self._cond.notify()
        if broken:
            try:
                conn.close()
            except Exception:  # noqa: BLE001 - already broken
                pass

    def connection(self):
        """Context manager: acquire, release (marking broken on error)."""
        pool = self

        class _Ctx:
            def __enter__(self):
                self.conn = pool.acquire()
                return self.conn

            def __exit__(self, exc_type, *a):
                pool.release(self.conn, broken=exc_type is not None)
                return False

        return _Ctx()

    def close_all(self) -> None:
        with self._cond:
            idle, self._idle = self._idle, []
        for c in idle:
            try:
                c.close()
            except Exception:  # noqa: BLE001
                pass

    # -- monitoring (the /status/datasource vocabulary) ---------------------
    def stats(self) -> dict:
        with self._cond:
            return {
                "name": self.name,
                "maxActive": self.max_active,
                "activeCount": self._active,
                "errorCount": self._errors,
                "poolingCount": len(self._idle),
                "waitCount": self._waits,
            }


def _same_factory(a, b) -> bool:
    """True when two connect factories open the same connection: the same
    object; functools.partial objects with the same func and equal args
    and keywords; or functions with equal code, defaults and closure
    contents. Every Spark task unpickles its own copy of a factory, and a
    function or closure that is not importable by name (a lambda, a
    nested def) is pickled by value, so an identity test alone would
    never match across tasks. A changed closure value (a rotated
    password) still makes a different factory."""
    if a is b:
        return True
    if isinstance(a, functools.partial) and isinstance(b, functools.partial):
        return (_same_factory(a.func, b.func)
                and (a.args, a.keywords) == (b.args, b.keywords))
    code = getattr(a, "__code__", None)
    if code is None or code != getattr(b, "__code__", None):
        return False
    if (a.__defaults__, a.__kwdefaults__) != (b.__defaults__,
                                              b.__kwdefaults__):
        return False
    try:
        ca = [c.cell_contents for c in a.__closure__ or ()]
        cb = [c.cell_contents for c in b.__closure__ or ()]
    except ValueError:  # a closure variable not yet assigned
        return False
    return len(ca) == len(cb) and all(
        x is y or _same_factory(x, y) or x == y for x, y in zip(ca, cb))


_REGISTRY: dict[str, ConnectionPool] = {}
_REGISTRY_LOCK = threading.Lock()


def get_pool(name: str, connect=None, **kwargs) -> ConnectionPool:
    """Per-process pool registry (one pool per datasource name, reused
    across foreachPartition calls within a worker).

    A repeat call for an existing name must not silently hand back the
    old configuration: a changed connect factory (credentials rotation)
    or changed limits/timeouts REPLACES the pool — the old one's idle
    connections are closed and in-flight checkouts drain against the
    old object harmlessly. Passing no factory reuses as-is (the common
    per-partition fast path)."""
    with _REGISTRY_LOCK:
        pool = _REGISTRY.get(name)
        if pool is None:
            if connect is None:
                raise KeyError(f"no pool named {name!r} and no factory given")
            pool = ConnectionPool(connect, name=name, **kwargs)
            _REGISTRY[name] = pool
            return pool
        import inspect

        defaults = {
            k: v.default for k, v in inspect.signature(
                ConnectionPool.__init__).parameters.items()
            if v.default is not inspect.Parameter.empty and k != "name"}
        wanted = {**defaults, **kwargs}
        if connect is not None and (
                not _same_factory(connect, pool._connect)
                or wanted != pool._config_kwargs):
            replacement = ConnectionPool(connect, name=name, **kwargs)
            _REGISTRY[name] = replacement
            old_pool = pool
            pool = replacement
            # close outside nothing: close_all only touches idle conns
            old_pool.close_all()
        return pool


def pool_stats() -> dict[str, dict]:
    with _REGISTRY_LOCK:
        return {name: p.stats() for name, p in sorted(_REGISTRY.items())}
