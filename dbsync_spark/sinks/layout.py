"""The one crash-safe directory replacement of the replication side
(replace_dir / replace_partitions / recover_dir) and small-file
compaction: the bucketed MERGE, rebucketing and migration, the shard
refresh and status compaction all swap directories through it.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

# Every replication-side table dir (a BucketedTable target and its bucket
# partitions, an exported shard, a status dir) is replaced the same way:
# the new copy is written in full into a `.staging` sibling, then
# promote_dir renames the live dir aside to `.old`, renames the copy
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
