"""Connect functions for JDBC-sink tests that Spark's Python workers
import by reference (the package's parent directory is on their
PYTHONPATH), so a functools.partial over one unpickles to an equal
partial in every task."""

from __future__ import annotations

import os
import sqlite3


def counting_connect(db: str, opens_log: str):
    """Open `db`, appending this process's pid to `opens_log`."""
    with open(opens_log, "a") as f:
        f.write(f"{os.getpid()}\n")
    return sqlite3.connect(db, timeout=30)


def duckdb_connect(db: str):
    """Open DuckDB file `db`. DuckDB parses the PostgreSQL dialect
    strictly, so it is the second parser for the generated statements.
    Single-writer engine: use n_writers=1."""
    import duckdb

    return duckdb.connect(db)
