"""Key-hash partitioning (O1) — per-key serialization via hash partitioning.

The reference computes murmur3_128("schema:table:keyValues") and routes each
change to partition abs(hash % P) so all changes of one row are serialized
through one worker (sync/DataPoller.scala:92-96, doc/architecture.cn.md:14).

Spark-first: we use the engine-native murmur3_x86_32 (`F.hash`, seed 42) on
the same "schema:table:k1:k2" key string and `pmod` instead of `abs`
(pmod is total — abs(Int.MinValue) overflows; the reference's abs is on a
128-bit value so it never hits that edge). `repartition(N, key)` gives the
identical co-location guarantee natively; `partition_id` exposes the
assignment for inspection/accounting.

A pure-Python reimplementation of Spark's Murmur3_x86_32 lives here as the
declared parity spec for Q-partition (matched in tests, not via DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def key_string(schema_col: str = "schema", table_col: str = "table",
               *key_cols: str) -> Column:
    """'schema:table:k1:k2...' — the reference's hash input
    (DataPoller.scala:92-93 stringifies key values and joins with ':')."""
    return F.concat_ws(":", F.col(schema_col), F.col(table_col),
                       *[F.col(c).cast("string") for c in key_cols])


def partition_id(key: Column, num_partitions: int) -> Column:
    """pmod(murmur3(key), N) — stable partition assignment."""
    return F.pmod(F.hash(key), F.lit(num_partitions))


def assign_partitions(df: DataFrame, num_partitions: int,
                      schema_col: str = "schema", table_col: str = "table",
                      key_cols: tuple[str, ...] = ()) -> DataFrame:
    key = key_string(schema_col, table_col, *key_cols)
    return df.withColumn("partition", partition_id(key, num_partitions))


def portable_partition_id(key: Column, num_partitions: int) -> Column:
    """pmod(h15(key), N) — the cross-engine-portable variant of
    `partition_id`: h15 (md5-derived, 60-bit, non-negative) computes
    identically in Spark and DuckDB, so this assignment is fully
    oracle-checkable. Same contract as the murmur3 path (stable
    per-key assignment, pmod total); only the hash function differs —
    the in-engine co-location path stays `partition_id`/`F.hash`
    (native codegen murmur3, PY-MATCHed in tests/test_partition.py)."""
    from dbsync_spark.functions.text import h15

    return F.pmod(h15(key), F.lit(num_partitions))


def assign_partitions_portable(df: DataFrame, num_partitions: int,
                               schema_col: str = "schema",
                               table_col: str = "table",
                               key_cols: tuple[str, ...] = ()) -> DataFrame:
    key = key_string(schema_col, table_col, *key_cols)
    return df.withColumn(
        "partition", portable_partition_id(key, num_partitions))


# ---------------------------------------------------------------------------
# Pure-Python parity spec of Spark's Murmur3_x86_32 over UTF-8 strings
# (org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes, seed 42).
# Note Spark's tail handling differs from canonical murmur3: every trailing
# byte is mixed as a full k1 block.
# ---------------------------------------------------------------------------

_C1 = 0xCC9E2D51
_C2 = 0x1B873593


def _rotl(x: int, r: int) -> int:
    x &= 0xFFFFFFFF
    return ((x << r) | (x >> (32 - r))) & 0xFFFFFFFF


def _mix_k1(k1: int) -> int:
    k1 = (k1 * _C1) & 0xFFFFFFFF
    k1 = _rotl(k1, 15)
    return (k1 * _C2) & 0xFFFFFFFF


def _mix_h1(h1: int, k1: int) -> int:
    h1 ^= k1
    h1 = _rotl(h1, 13)
    return (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF


def _fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1


def murmur3_spark_string(s: str, seed: int = 42) -> int:
    """Signed 32-bit hash equal to Spark SQL's hash(string) with seed 42."""
    data = s.encode("utf-8")
    length = len(data)
    h1 = seed & 0xFFFFFFFF
    aligned = length - (length % 4)
    for i in range(0, aligned, 4):
        word = int.from_bytes(data[i:i + 4], "little")
        h1 = _mix_h1(h1, _mix_k1(word))
    for i in range(aligned, length):
        b = data[i]
        if b >= 128:  # Java bytes are signed
            b -= 256
        h1 = _mix_h1(h1, _mix_k1(b & 0xFFFFFFFF))
    out = _fmix(h1, length)
    return out - (1 << 32) if out >= (1 << 31) else out


def partition_id_py(key: str, num_partitions: int) -> int:
    return murmur3_spark_string(key) % num_partitions
