"""Seeded change-log generator and the oracle that checks the engine.

The generator writes change files in the engine's wire shape (the
`sync_data` columns) with pyarrow, under a dot-prefixed temporary name
renamed into place, so a streaming file source never lists a partial
file. The engine receives nothing but these files.

The oracle is a plain-Python last-writer-wins fold kept beside the
generator: every well-formed change is applied to a dict in id order, a
delete removes the key, malformed payloads are skipped. It shares no
code with `dbsync_spark`.
"""

from __future__ import annotations

import json
import os

import numpy as np

SOURCE_DB, TARGET_DB = "src", "tgt"
SCHEMA, TABLE, KEY = "public", "items", "k"
COLUMNS = ("k", "qty", "price_cents", "name", "status")
PAYLOAD_DDL = "k BIGINT, qty INT, price_cents BIGINT, name STRING, status STRING"
STATUSES = ("new", "paid", "shipped", "returned")
# fixed, past log timestamps: the same seed writes byte-identical files,
# and retention with dataKeepHours=0 finds every row already expired
BASE_TS_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z


def _schema():
    import pyarrow as pa

    return pa.schema([
        ("id", pa.int64()), ("sourceDb", pa.string()),
        ("targetDb", pa.string()), ("schema", pa.string()),
        ("table", pa.string()), ("operation", pa.string()),
        ("data", pa.string()), ("createTime", pa.timestamp("us", tz="UTC")),
    ])


class ChangeLog:
    """Generator state plus oracle state for one seeded run.

    `live` is the oracle: key -> row tuple (COLUMNS order) after every
    well-formed change generated so far. `malformed` holds the ids whose
    payload cannot parse; `well_formed` counts the others."""

    def __init__(self, seed: int, n_keys: int):
        self.rng = np.random.default_rng(seed)
        self.n_keys = n_keys
        self.next_id = 1
        self.live: dict[int, tuple] = {}
        self.key_of: list[int] = []  # key of change id i at [i - 1]
        self.malformed: set[int] = set()
        self.well_formed = 0
        # Zipf ranks -> keys through a seeded permutation, so hot keys
        # spread over the key space (and over the target's buckets)
        self._perm = self.rng.permutation(n_keys)

    def uniform_keys(self, n: int) -> np.ndarray:
        return self.rng.integers(0, self.n_keys, size=n)

    def zipf_keys(self, n: int, s: float = 1.1) -> np.ndarray:
        ranks = np.arange(1, self.n_keys + 1, dtype=np.float64)
        p = ranks ** -s
        return self._perm[self.rng.choice(self.n_keys, size=n, p=p / p.sum())]

    def changes(self, keys: np.ndarray, p_delete: float,
                p_malformed: float = 0.0) -> list[tuple[int, str, str]]:
        """One change per key, in order: I for a key not live, else U or
        (with `p_delete`) D. Returns [(id, operation, data)] and folds the
        well-formed ones into the oracle."""
        n = len(keys)
        draws = self.rng.random((n, 2))
        qty = self.rng.integers(0, 1000, size=n)
        price = self.rng.integers(0, 10**7, size=n)
        name = self.rng.integers(0, 1 << 32, size=n)
        status = self.rng.integers(0, len(STATUSES), size=n)
        out = []
        for i in range(n):
            k = int(keys[i])
            cid = self.next_id
            self.next_id += 1
            self.key_of.append(k)
            if k not in self.live:
                op = "I"
            else:
                op = "D" if draws[i, 0] < p_delete else "U"
            row = (k, int(qty[i]), int(price[i]), f"n{int(name[i]):08x}",
                   STATUSES[int(status[i])])
            data = json.dumps({"k": k} if op == "D"
                              else dict(zip(COLUMNS, row)))
            if draws[i, 1] < p_malformed:
                # a truncated row image: structurally invalid JSON
                self.malformed.add(cid)
                out.append((cid, op, data[: len(data) // 2]))
                continue
            self.well_formed += 1
            if op == "D":
                del self.live[k]
            else:
                self.live[k] = row
            out.append((cid, op, data))
        return out

    def write_file(self, directory: str, name: str,
                   changes: list[tuple[int, str, str]]) -> str:
        """Write `changes` as one parquet file `directory/name`, renamed
        into place from a dot-prefixed temporary name."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        n = len(changes)
        ids = [c[0] for c in changes]
        table = pa.table({
            "id": ids,
            "sourceDb": [SOURCE_DB] * n, "targetDb": [TARGET_DB] * n,
            "schema": [SCHEMA] * n, "table": [TABLE] * n,
            "operation": [c[1] for c in changes],
            "data": [c[2] for c in changes],
            "createTime": [BASE_TS_US + i for i in ids],
        }, schema=_schema())
        path = os.path.join(directory, name)
        tmp = os.path.join(directory, "." + name + ".tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, path)
        return path


def payload_bytes(changes: list[tuple[int, str, str]]) -> int:
    """Row-image bytes of a change list (the denominator of write
    amplification)."""
    return sum(len(c[2]) for c in changes)


def diff_rows(expected: dict[int, tuple], got: dict[int, tuple]) -> set[int]:
    """Keys whose row differs between the oracle and a target (missing,
    extra, or different values)."""
    return {k for k in expected.keys() | got.keys()
            if expected.get(k) != got.get(k)}
