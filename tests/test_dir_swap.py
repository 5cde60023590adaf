"""One crash-safe directory swap for the replication side (sinks/layout.py).

Every replication-side directory replacement goes through `replace_dir`
(whole dirs) or `replace_partitions` (partition dirs), both built on
`promote_dir`'s rename-aside, and is recovered by `recover_dir` or
`restore_asides`. Pinned here:
- each swap user survives each crash window a rename-aside
  swap can leave: the live dir renamed aside before the new copy landed,
  a stale aside beside the live dir, a half-written staging copy beside
  the live dir. The user's reader sees the pre-crash rows, and the swap
  run next gives the swapped result with no sibling left behind;
- `recover_dir`'s rule on every combination of siblings;
- the replication modules spell no swap suffix and rename or remove no
  directory themselves (grep).
"""

from __future__ import annotations

import os
import re
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import dbsync_spark
from dbsync_spark.functions.export import export_shards, update_shards
from dbsync_spark.operators.apply import live_rows
from dbsync_spark.sinks.layout import (ASIDE, STAGING, compact, recover_dir,
                                       restore_asides)
from dbsync_spark.sinks.table import (BucketedTable, ParquetTable,
                                      migrate_snapshot_to_bucketed, rebucket)


@dataclass
class Swap:
    live: str                  # the dir a crash window is injected on
    staging: str               # where the swap stages live's new copy
    read: Callable[[], object]  # the user's reader (recovers first)
    run: Callable[[], None]    # the swap itself, as its caller runs it
    before: object
    after: object


def _changes(spark, lo, hi, id_off=0, v_off=0):
    return spark.range(lo, hi).select(
        (F.col("id") + id_off).alias("id"), F.lit("I").alias("operation"),
        F.col("id").alias("k"), (F.col("id") + v_off).alias("v"))


def _bucketed(spark, path):
    bt = BucketedTable(path, ["k"], n_buckets=4)
    bt.merge_changes(spark, _changes(spark, 0, 40), ["k"])
    return bt


def _read_bucketed(spark, path):
    bt = BucketedTable(path, ["k"])  # recover_dir, then restore_asides
    rows = live_rows(bt.read(spark)).select("k", "v").collect()
    return bt.n_buckets, sorted(map(tuple, rows))


def _first_partition(path, prefix):
    return os.path.join(path, sorted(d for d in os.listdir(path)
                                     if d.startswith(prefix))[0])


def _bucket_merge(spark, root):
    path = str(root / "bt")
    bt = _bucketed(spark, path)
    live = _first_partition(bt.data_path, "_bucket=")
    batch = _changes(spark, 30, 50, id_off=1000, v_off=100)
    want = [(k, k) for k in range(30)] + [(k, k + 100) for k in range(30, 50)]
    return Swap(
        live, os.path.join(bt.data_path + STAGING, os.path.basename(live)),
        lambda: _read_bucketed(spark, path),
        lambda: BucketedTable(path, ["k"]).merge_changes(spark, batch, ["k"]),
        (4, [(k, k) for k in range(40)]), (4, want))


def _shard_refresh(spark, root):
    out = str(root / "shards")
    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("text"))
    export_shards(docs, out, "doc_id", n_shards=4)
    live = _first_partition(out, "shard=")
    batch = spark.range(30, 50).select(F.col("id").alias("doc_id"),
                                       F.lit("v2").alias("text"))

    def read():
        restore_asides(out)
        rows = spark.read.parquet(out).select("doc_id", "text").collect()
        return sorted(map(tuple, rows))

    return Swap(
        live, os.path.join(out + STAGING, os.path.basename(live)), read,
        lambda: update_shards(spark, out, batch, "doc_id", 4),
        [(k, f"d{k}") for k in range(40)],
        [(k, f"d{k}") for k in range(30)] + [(k, "v2") for k in range(30, 50)])


def _rebucket(spark, root):
    path = str(root / "rb")
    _bucketed(spark, path)
    rows = [(k, k) for k in range(40)]
    return Swap(path, path + STAGING, lambda: _read_bucketed(spark, path),
                lambda: rebucket(spark, path, ["k"], 8), (4, rows), (8, rows))


def _migration(spark, root):
    path = str(root / "mig")
    ParquetTable(path).merge_changes(spark, _changes(spark, 0, 40), ["k"])

    def read():
        recover_dir(path)
        bucketed = os.path.exists(os.path.join(path, "_META.json"))
        tbl = BucketedTable(path, ["k"]) if bucketed else ParquetTable(path)
        rows = live_rows(tbl.read(spark)).select("k", "v").collect()
        return type(tbl).__name__, sorted(map(tuple, rows))

    rows = [(k, k) for k in range(40)]
    return Swap(path, path + STAGING, read,
                lambda: migrate_snapshot_to_bucketed(spark, path, ["k"], 4),
                ("ParquetTable", rows), ("BucketedTable", rows))


def _ids(spark, path):
    return sorted(r["id"] for r in spark.read.parquet(path).collect())


def _status_compaction(spark, root):
    path = str(root / "status")
    df = spark.range(60)
    for i in range(6):
        df.where(F.col("id") % 6 == i).write.mode("append").parquet(path)

    def read():
        recover_dir(path)  # DbSyncApp.bootstrap's step for a status dir
        return _ids(spark, path)

    def run():
        assert compact(spark, path, target_files=2) <= 2

    return Swap(path, path + STAGING, read, run,
                list(range(60)), list(range(60)))


USERS = {"bucket_merge": _bucket_merge, "shard_refresh": _shard_refresh,
         "rebucket": _rebucket, "migration": _migration,
         "status_compaction": _status_compaction}


def _aside(sw):
    """Killed between promote_dir's renames: the complete new copy sits in
    staging, the live dir was renamed aside, nothing is at the live path."""
    shutil.copytree(sw.live, sw.staging, dirs_exist_ok=True)
    os.replace(sw.live, sw.live + ASIDE)


def _stale_aside(sw):
    """Killed while dropping the aside after a finished swap. The aside
    holds a file that is not parquet: reading or restoring it would fail."""
    shutil.copytree(sw.live, sw.live + ASIDE)
    with open(os.path.join(sw.live + ASIDE, "part-stale.parquet"), "wb") as f:
        f.write(b"not parquet")


def _half_staging(sw):
    """Killed while the new copy was being written: live dir intact."""
    os.makedirs(sw.staging, exist_ok=True)
    with open(os.path.join(sw.staging, "part-00000.parquet"), "wb") as f:
        f.write(b"not parquet")


WINDOWS = {"aside": _aside, "stale_aside": _stale_aside,
           "half_staging": _half_staging}


def _leftovers(root):
    return sorted(str(p.relative_to(root)) for p in root.rglob("*")
                  if p.name.endswith((ASIDE, STAGING)))


@pytest.mark.parametrize("window", WINDOWS)
@pytest.mark.parametrize("user", USERS)
def test_swap_crash_window_recovers(spark, tmp_path, user, window):
    sw = USERS[user](spark, tmp_path)
    assert sw.read() == sw.before

    # the reader restores the pre-crash rows ...
    WINDOWS[window](sw)
    assert sw.read() == sw.before
    assert not os.path.exists(sw.live + ASIDE)

    # ... and so does the next swap, which then lands in full
    WINDOWS[window](sw)
    sw.run()
    assert sw.read() == sw.after
    assert _leftovers(tmp_path) == []


@pytest.mark.parametrize("live,aside,staging,want", [
    (True, True, True, "live"),      # stale siblings of a finished swap
    (False, True, True, "aside"),    # killed between the two renames
    (False, True, False, "aside"),
    (False, False, True, None),      # staging alone is never promoted
])
def test_recover_dir_rule(tmp_path, live, aside, staging, want):
    path = str(tmp_path / "t")
    for present, suffix in ((live, ""), (aside, ASIDE), (staging, STAGING)):
        if present:
            os.makedirs(path + suffix)
            with open(os.path.join(path + suffix, "who"), "w") as f:
                f.write(suffix or "live")
    recover_dir(path)
    assert os.listdir(tmp_path) == (["t"] if want else [])
    if want:
        with open(os.path.join(path, "who")) as f:
            assert f.read() == ("live" if want == "live" else ASIDE)


# ---------------------------------------------------------------------------
# structural guard
# ---------------------------------------------------------------------------

PKG = Path(dbsync_spark.__file__).parent
SWAP_USERS = ("sinks/table.py", "operators/retention.py",
              "functions/export.py", "app.py")
_SUFFIX = re.compile(
    r"""["'][^"'\n]*\.(?:staging|old|rebucketing|compacting|sweeping)["']""")
_DIR_OP = re.compile(r"\bos\.(?:replace|rename)\(|\bshutil\.rmtree\(")
# not directory swaps: ParquetTable's version pointer and v{n} prune, and
# the two tmp-file-plus-rename _META.json writers
ALLOWED = {
    ("sinks/table.py", "os.replace(tmp, self._pointer())"),
    ("sinks/table.py", 'shutil.rmtree(os.path.join(self.path, f"v{old}"), '
                       "ignore_errors=True)"),
    ("sinks/table.py", "os.replace(tmp, meta_path)"),
    ("functions/export.py",
     'os.replace(tmp, os.path.join(path, "_META.json"))'),
}


def test_directory_swaps_only_through_layout():
    suffixes, ops = [], set()
    for mod in SWAP_USERS:
        for n, line in enumerate((PKG / mod).read_text().splitlines(), 1):
            if _SUFFIX.search(line):
                suffixes.append(f"{mod}:{n}: {line.strip()}")
            if _DIR_OP.search(line):
                ops.add((mod, line.strip()))
    assert suffixes == []
    assert ops == ALLOWED  # every allow-listed line still there, no other
    recovery = {name for mod in (*SWAP_USERS, "sinks/layout.py")
                for name in re.findall(r"def (\w*(?:recover|restore)\w*)\(",
                                       (PKG / mod).read_text())}
    assert recovery == {"recover_dir", "restore_asides"}
