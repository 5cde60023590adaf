"""Physical layout helpers: bucketing and date partitioning.

At 100 TB the two cheapest optimizations are paid at WRITE time:
- `write_bucketed` / co-located joins: two tables bucketed by the same key
  into the same bucket count join with NO shuffle on either side (the
  exchange disappears from the plan — asserted in tests).
- `write_date_partitioned`: the change log partitioned by createTime date
  turns the retention cutoff (O8) and time-windowed scans into partition
  PRUNING — the sweep reads only expired partitions instead of the full
  log (PartitionFilters in the scan, asserted in tests).

It also holds the one crash-safe directory replacement of the replication
side (replace_dir / replace_partitions / recover_dir, below): the bucketed
MERGE, rebucketing and migration, the shard refresh, status compaction
and the row-exact retention sweep all swap directories through it.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(df: DataFrame, table_name: str, bucket_cols: list[str],
                   num_buckets: int = 32, sort_cols: list[str] | None = None) -> None:
    """Persist as a Spark-native bucketed table (hash(bucket_cols) %
    num_buckets per file); sorted buckets additionally enable shuffle-free
    sort-merge joins."""
    writer = (df.write.mode("overwrite")
              .bucketBy(num_buckets, *bucket_cols))
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def write_date_partitioned(log: DataFrame, path: str,
                           ts_col: str = "createTime") -> None:
    """Change log partitioned by event date: retention and windowed reads
    prune whole directories."""
    (log.withColumn("_date", F.to_date(F.col(ts_col)))
     .write.mode("overwrite").partitionBy("_date").parquet(path))


def read_date_partitioned(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).drop("_date")


def write_range_clustered(df: DataFrame, path: str, order_col: str,
                          num_files: int = 8) -> None:
    """Range-cluster by `order_col` at write time: repartitionByRange
    gives each output file a DISJOINT value range, and the within-file
    sort tightens parquet row-group min/max stats. A later filter on
    `order_col` then skips whole files/row-groups at the scan (time-travel
    reads, as-of scans, incremental consumers) — the poor man's Z-order,
    costing one range exchange at write."""
    # INT96 timestamps carry no parquet stats; force the stats-bearing
    # micros encoding regardless of the ambient session's conf
    df.sparkSession.conf.set("spark.sql.parquet.outputTimestampType",
                             "TIMESTAMP_MICROS")
    (df.repartitionByRange(num_files, F.col(order_col))
     .sortWithinPartitions(order_col)
     .write.mode("overwrite").parquet(path))


# --- crash-safe directory replacement -----------------------------------
# Every replication-side table dir (a BucketedTable target and its bucket
# partitions, an exported shard, a status dir, a change log) is replaced
# the same way: the new copy is written in full into a `.staging` sibling,
# then promote_dir renames the live dir aside to `.old`, renames the copy
# in and drops the aside LAST. The live data is never deleted before its
# replacement is in place, so a kill at any point leaves it whole at the
# live path or at the aside; recover_dir (whole dirs) and restore_asides
# (partitions) put it back before the next read or swap.
STAGING, ASIDE = ".staging", ".old"


def promote_dir(src: str, dst: str) -> None:
    """Install directory `src` at `dst`: rename the live dir aside (an
    atomic rename, never an rmtree of the only copy), rename `src` in,
    drop the aside last."""
    old = dst + ASIDE
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(dst):
        os.replace(dst, old)
    os.replace(src, dst)
    shutil.rmtree(old, ignore_errors=True)


def recover_dir(path: str) -> None:
    """Close replace_dir's crash windows before `path` is read or
    swapped: if the live dir is missing, its aside IS the data (restore
    it); every other sibling is garbage from a finished or abandoned
    swap. A staging copy may be half-written, so it is never promoted."""
    path = path.rstrip("/")
    aside = path + ASIDE
    if not os.path.isdir(path) and os.path.isdir(aside):
        os.replace(aside, path)
    shutil.rmtree(path + STAGING, ignore_errors=True)
    shutil.rmtree(aside, ignore_errors=True)


def replace_dir(path: str, build: Callable[[str], None]) -> None:
    """Replace directory `path` with what `build(staging)` writes into a
    fresh staging sibling. Recovers first, so a crashed earlier swap is
    settled before its aside could be mistaken for garbage."""
    path = path.rstrip("/")
    recover_dir(path)
    staging = path + STAGING
    build(staging)
    promote_dir(staging, path)


def replace_partitions(df: DataFrame, path: str, col: str,
                       values: Iterable) -> None:
    """Replace the `col=v` partition dirs of `path`, for v in `values`,
    with the rows of `df` (which carries `col`): one partitionBy write
    into a staging sibling, then each written partition is promoted.
    Other partitions are never opened. Callers run restore_asides(path)
    before they build `df` from the live partitions."""
    staging = path.rstrip("/") + STAGING
    shutil.rmtree(staging, ignore_errors=True)
    df.write.mode("overwrite").partitionBy(col).parquet(staging)
    os.makedirs(path, exist_ok=True)
    for v in values:
        src = os.path.join(staging, f"{col}={v}")
        if os.path.isdir(src):
            promote_dir(src, os.path.join(path, f"{col}={v}"))
    shutil.rmtree(staging, ignore_errors=True)


def restore_asides(parent: str) -> None:
    """Crash recovery for promote_dir swaps UNDER `parent` (the
    partitions of replace_partitions): an aside whose live dir is
    missing IS the data (restore it); beside a live dir the swap
    completed and the aside is garbage (drop it)."""
    if not os.path.isdir(parent):
        return
    for entry in os.listdir(parent):
        if not entry.endswith(ASIDE):
            continue
        old = os.path.join(parent, entry)
        if not os.path.isdir(old):
            continue
        live = old[:-len(ASIDE)]
        if os.path.isdir(live):
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.replace(old, live)


def compact(spark: SparkSession, path: str, target_files: int = 4,
            schema=None) -> int:
    """OPTIMIZE/VACUUM equivalent for append-only parquet dirs (the
    reference runs VACUUM ANALYZE / OPTIMIZE TABLE after its retention
    sweep, PgOperation.scala:378-385): rewrite the accumulated small files
    into `target_files` and swap them in with replace_dir. Returns the
    new file count. Callers that share the dir with concurrent APPENDERS
    must serialize with them (e.g. the ack_lock in SyncApp) — an append
    landing between the read and the swap would be dropped by the swap."""
    reader = spark.read.schema(schema) if schema else spark.read
    replace_dir(path, lambda staging: (
        reader.parquet(path).coalesce(target_files)
        .write.mode("overwrite").parquet(staging)))
    return len(glob.glob(os.path.join(path, "*.parquet")))


def zorder_key(cols: list, bits: int = 16) -> "F.Column":
    """Interleave the low `bits` bits of pre-normalized integer columns
    into one Z-order (Morton) key. Callers normalize each column to
    [0, 2^bits) first (see write_zorder_clustered); pure bitwise
    expressions, fully codegen'd, no UDF."""
    n = len(cols)
    terms = []
    for i, c in enumerate(cols):
        for b in range(bits):
            terms.append(
                F.shiftleft(F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1)),
                            b * n + i))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def write_zorder_clustered(df: DataFrame, path: str, cols: list[str],
                           bits: int = 8, num_files: int = 8) -> None:
    """Multi-column clustering at write time (the open-source answer to
    Delta OPTIMIZE ZORDER BY): min/max-normalize each clustering column
    to `bits` bits via one broadcast 1-row bounds aggregate, interleave
    into a Morton key, then range-partition + sort by it. Each output
    file covers a compact hyper-rectangle of the key space, so parquet
    row-group min/max stats prune scans filtered on ANY clustered column
    — single-column range clustering only serves its one column.
    Cost: one bounds pass + one range exchange, both linear."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    bounds = df.agg(*[f(F.col(c)).alias(f"_{nm}_{c}")
                      for c in cols
                      for nm, f in (("min", F.min), ("max", F.max))])
    withb = df.crossJoin(F.broadcast(bounds))
    scale = (1 << bits) - 1
    normed = [
        F.least(F.lit(scale), F.floor(
            (F.col(c) - F.col(f"_min_{c}")).cast("double")
            / (F.col(f"_max_{c}") - F.col(f"_min_{c}") + 1) * (scale + 1))
        ).cast("long")
        for c in cols
    ]
    keyed = withb.withColumn("_z", zorder_key(normed, bits))
    (keyed.repartitionByRange(num_files, F.col("_z"))
     .sortWithinPartitions("_z")
     .drop("_z", *[f"_{nm}_{c}" for c in cols for nm in ("min", "max")])
     .write.mode("overwrite").parquet(path))
