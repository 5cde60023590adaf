"""MERGE-able parquet table stores for the streaming upsert sink.

Two layouts, one interface (`read` / `merge_changes`):

- `ParquetTable`: whole-snapshot versioned directories (v0, v1, ...) with
  a _CURRENT pointer written last. Every merge rewrites the full table —
  O(|target|) per batch. Correct, simple, and fine for small dimension
  targets, but the WRONG shape for a large fact target under a steady
  change stream.
- `BucketedTable`: the scale path. The target is hash-partitioned on the
  merge key into `n_buckets` directory partitions (`_bucket=K/`); a batch
  MERGE reads ONLY the partitions its keys hash into (partition pruning)
  and rewrites ONLY those partitions (dynamic partition overwrite). Per-
  batch cost is O(|batch| + |touched buckets|), independent of total
  target size — the parquet-native equivalent of Delta MERGE INTO on a
  clustered table. Bucket COUNT follows target SIZE (n_buckets=None →
  auto: keep bytes-per-bucket near the advisory SPARK_GRAFT_BUCKET_BYTES,
  growing by in-place rebucketing), so a trickle batch rewrites O(batch
  keys) bytes at every target size; at 100 TB the advisory is set to a
  parquet-friendly 128-512 MB per bucket.

Spark cannot overwrite parquet files it is reading in the same job, so
neither layout writes in place: ParquetTable writes the next version dir,
and BucketedTable writes the merged buckets to a staging dir that
`sinks/layout.replace_partitions` swaps in. Crash mid-commit can leave a
subset of buckets new — safe, because merge_snapshot is replay-idempotent
(`_last_id` watermark): the streaming checkpoint re-runs the batch and
re-merging is a no-op on already-updated buckets.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from dbsync_spark.sinks.layout import (recover_dir, replace_dir,
                                       replace_partitions, restore_asides)


# --- scale-adaptive bucket sizing (OPTIMIZATION r11, guide §2/§6) -------
# The bucketed merge's per-batch cost is O(touched-slice) = touched_buckets
# x bucket_bytes. A FIXED n_buckets makes bucket_bytes grow with the
# target, so a trickle batch's rewritten bytes grow with total table size
# — exactly the O(|target|) coupling the layout exists to break. Keeping
# BYTES-PER-BUCKET ~constant instead makes the touched slice O(batch keys)
# at every target size. The advisory bucket size is environment-
# parameterised: the local default (1 MiB) is sized to the sandbox's
# measured per-directory fixed cost vs. scan bandwidth crossover
# (NBUCKETS_SWEEP.json); a real cluster sets SPARK_GRAFT_BUCKET_BYTES to
# a parquet-friendly 128-512 MB (guide §6 file sizing) and a higher
# SPARK_GRAFT_MAX_BUCKETS ceiling.
AUTO_MIN_BUCKETS = 4


def _auto_bucket_bytes() -> int:
    return int(os.environ.get("SPARK_GRAFT_BUCKET_BYTES", str(1 << 20)))


def _auto_max_buckets() -> int:
    return int(os.environ.get("SPARK_GRAFT_MAX_BUCKETS", "4096"))


def right_sized_buckets(total_bytes: int) -> int:
    """Smallest power-of-two bucket count (>= AUTO_MIN_BUCKETS, <= the
    ceiling) whose average bucket holds at most the advisory bytes."""
    target, cap = _auto_bucket_bytes(), _auto_max_buckets()
    n = AUTO_MIN_BUCKETS
    while n < cap and n * target < total_bytes:
        n *= 2
    return n


class ParquetTable:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)
        if os.path.exists(os.path.join(path, "_META.json")):
            raise ValueError(
                f"{path} holds a BucketedTable (found _META.json); "
                "open it with BucketedTable, or migrate")

    def _pointer(self) -> str:
        return os.path.join(self.path, "_CURRENT")

    def current_version(self) -> int | None:
        try:
            with open(self._pointer()) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def read(self, spark: SparkSession) -> DataFrame | None:
        v = self.current_version()
        if v is None:
            return None
        return spark.read.parquet(os.path.join(self.path, f"v{v}"))

    def overwrite_with(self, df: DataFrame) -> None:
        v = self.current_version()
        nxt = 0 if v is None else v + 1
        df.write.mode("overwrite").parquet(os.path.join(self.path, f"v{nxt}"))
        tmp = self._pointer() + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(nxt))
        os.replace(tmp, self._pointer())
        # retention: keep current + previous snapshot (time travel depth 1)
        for old in range(nxt - 1):
            shutil.rmtree(os.path.join(self.path, f"v{old}"), ignore_errors=True)

    def merge_changes(self, spark: SparkSession, changes: DataFrame,
                      key_cols: list[str], pinned: bool = False) -> None:
        """MERGE a change batch: read snapshot, reduce, rewrite the whole
        table (see module docstring for why this is the small-table path).
        `pinned` is accepted for interface parity with BucketedTable (a
        single-pass rewrite gains nothing from pre-pinned input)."""
        from dbsync_spark.operators.apply import merge_snapshot

        merged = merge_snapshot(self.read(spark), changes, list(key_cols))
        self.overwrite_with(merged)

    def state_fingerprint(self):
        """Layout-agnostic token that changes iff the table data changed
        (here: the snapshot version)."""
        return self.current_version()


class BucketedTable:
    """Hash-bucket-partitioned MERGE target (see module docstring).

    The bucket of a row is `pmod(xxhash64(key cols as strings), n_buckets)`
    — deterministic across sessions, no RNG. `n_buckets` is pinned in
    `_META.json` on first write so every later writer agrees.

    Pass `n_buckets=None` for AUTO sizing: the table starts at
    AUTO_MIN_BUCKETS and, whenever the post-merge data size says the
    right-sized count (right_sized_buckets) has drifted a power-of-4 away,
    rebuckets itself in place — the Delta-OPTIMIZE-style maintenance move,
    amortised O(|target|) only on 4x growth. Bytes-per-bucket stays
    ~constant, so trickle-merge cost stays O(batch keys) as the target
    grows (see the sizing block at the top of this module)."""

    BUCKET_COL = "_bucket"

    def __init__(self, path: str, key_cols: list[str],
                 n_buckets: int | None = 64):
        self.path = path
        self.key_cols = list(key_cols)
        # before makedirs: a crashed rebucket/migration must be restored,
        # not masked by a fresh EMPTY table dir
        recover_dir(path)
        os.makedirs(path, exist_ok=True)
        meta_path = os.path.join(path, "_META.json")
        if (not os.path.exists(meta_path)
                and os.path.exists(os.path.join(path, "_CURRENT"))):
            # opening an existing versioned-snapshot target as bucketed
            # would silently start from an EMPTY table (the checkpoint
            # suppresses log replay, so the old state would be lost)
            raise ValueError(
                f"{path} holds a versioned snapshot (found _CURRENT); "
                "run migrate_snapshot_to_bucketed() or open it as a "
                "ParquetTable")
        try:
            with open(meta_path) as f:
                meta = json.load(f)
            self.n_buckets = int(meta["n_buckets"])
            self.auto_sized = bool(meta.get("auto", False))
            if meta.get("key_cols") and meta["key_cols"] != self.key_cols:
                raise ValueError(
                    f"BucketedTable at {path} was written with keys "
                    f"{meta['key_cols']}, asked to merge on {self.key_cols}")
        except FileNotFoundError:
            self.auto_sized = n_buckets is None
            self.n_buckets = (AUTO_MIN_BUCKETS if n_buckets is None
                              else n_buckets)
            self._write_meta(meta_path)
        self.data_path = os.path.join(path, "data")

    def _write_meta(self, meta_path: str | None = None) -> None:
        meta_path = meta_path or os.path.join(self.path, "_META.json")
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"n_buckets": self.n_buckets,
                       "key_cols": self.key_cols,
                       "auto": self.auto_sized}, f)
        os.replace(tmp, meta_path)

    def _bucket_expr(self) -> F.Column:
        return F.pmod(
            F.xxhash64(*[F.col(k).cast("string") for k in self.key_cols]),
            F.lit(self.n_buckets)).cast("int")

    def _read_raw(self, spark: SparkSession) -> DataFrame | None:
        restore_asides(self.data_path)  # a crashed bucket swap
        if not os.path.isdir(self.data_path):
            return None
        from dbsync_spark.sources.tables import read_state

        # mergeSchema: after additive payload evolution, touched buckets
        # carry the widened schema while untouched ones keep the old —
        # the union-by-name read null-fills the difference (footer merge
        # across n_buckets files is driver-side, cheap next to the scan).
        # read_state: only not-yet-written states read as empty (None);
        # a corrupt table propagates — treating it as empty would make
        # the next merge silently drop every non-batch key in the
        # touched buckets
        return read_state(spark, self.data_path,
                          options={"mergeSchema": "true"})

    def read(self, spark: SparkSession) -> DataFrame | None:
        """Full snapshot (tombstones + _last_id included, like
        ParquetTable.read); the bucket partition column is dropped."""
        raw = self._read_raw(spark)
        return None if raw is None else raw.drop(self.BUCKET_COL)

    def merge_changes(self, spark: SparkSession, changes: DataFrame,
                      key_cols: list[str] | None = None,
                      pinned: bool = False) -> None:
        """MERGE a change batch touching only the buckets its keys hash to.
        Pass pinned=True when `changes` is already materialized
        (localCheckpoint/cache) to skip the redundant pin job.

        1. bucket the batch, collect the touched bucket ids (<= n_buckets
           small ints — the only driver traffic);
        2. read ONLY those partitions of the existing target, as explicit
           paths, with the schema the batch implies (its payload columns,
           `_last_id` with the id's type, `_deleted`): no footer-merge
           job. The parquet reader null-fills a column an older bucket
           lacks, skips one the batch no longer carries, and fails on a
           column whose stored type conflicts with the batch's;
        3. merge_snapshot over the union of that slice and the batch,
           clustered on the bucket column: ONE exchange (one partition per
           touched bucket) feeds both the LWW reduce and the write, so
           each touched bucket comes out as ~1 file;
        4. replace_partitions: write the merged buckets to a STAGING dir
           (one write, reading the live files normally — no
           self-overwrite), then swap each touched bucket in with the
           rename-aside promote. Untouched partitions are never opened
           or rewritten.

        Crash safety: mid-swap, a bucket is always present as either its
        live dir or its aside (never deleted before the new copy is in
        place) — restore_asides restores/cleans before the next read.
        Some buckets new and some old is safe because
        merge_snapshot is replay-idempotent (_last_id watermark): the
        streaming checkpoint re-runs the batch and re-merging an
        already-updated bucket is a no-op. (A localCheckpoint + dynamic
        partition overwrite onto the live dir gives the same semantics
        but pays a full executor-memory materialization of the merged
        slice plus a per-partition staging commit — measured ~2x slower
        per batch locally.)
        """
        if key_cols is not None and list(key_cols) != self.key_cols:
            raise ValueError(f"table is bucketed on {self.key_cols}, "
                             f"cannot merge on {list(key_cols)}")
        # batch is micro-batch-sized: pin it so the bucket distinct and
        # the merge don't recompute the upstream lineage twice
        if not pinned:
            changes = changes.localCheckpoint()
        touched, out = self._merged_slice(spark, changes)
        if not touched:
            return
        replace_partitions(out, self.data_path, self.BUCKET_COL, touched)
        if self.auto_sized:
            self._maybe_resize(spark)

    def _merged_slice(self, spark: SparkSession, changes: DataFrame
                      ) -> tuple[list[int], DataFrame | None]:
        """Steps 1-3 of merge_changes: the touched bucket ids and the
        merged rows of those buckets, `_bucket` column included."""
        from dbsync_spark.operators.apply import (DELETED_COL, LAST_ID_COL,
                                                  merge_snapshot)

        bucketed = changes.withColumn(self.BUCKET_COL, self._bucket_expr())
        touched = [r[0] for r in
                   bucketed.select(self.BUCKET_COL).distinct().collect()]
        if not touched:
            return [], None
        # read ONLY the touched bucket directories as explicit paths —
        # no full-table directory listing and no partition discovery per
        # micro-batch (at object-store scale, listing n_buckets dirs per
        # batch would dominate the trickle path; locally it is the
        # biggest slice of the fixed per-batch floor). The bucket column
        # is not inferred from multi-path reads; it is recomputed from
        # the keys.
        restore_asides(self.data_path)
        paths = [os.path.join(self.data_path, f"{self.BUCKET_COL}={b}")
                 for b in touched]
        paths = [p for p in paths if os.path.isdir(p)]
        existing = None
        if paths:
            schema = StructType([
                *[f for f in changes.schema.fields
                  if f.name not in ("id", "operation")],
                StructField(LAST_ID_COL, changes.schema["id"].dataType),
                StructField(DELETED_COL, BooleanType())])
            existing = (spark.read.schema(schema).parquet(*paths)
                        .withColumn(self.BUCKET_COL, self._bucket_expr()))
        return touched, merge_snapshot(existing, bucketed, self.key_cols,
                                       cluster=(self.BUCKET_COL, len(touched)))

    def _data_bytes(self) -> int:
        total = 0
        for root, _dirs, files in os.walk(self.data_path):
            for fn in files:
                total += os.stat(os.path.join(root, fn)).st_size
        return total

    def _maybe_resize(self, spark: SparkSession) -> None:
        """Auto-sizing maintenance (see class docstring): rebucket in
        place when the right-sized count drifts a power-of-4 from the
        current one. Hysteresis (4x both ways) keeps steady-state merges
        from thrashing; the check itself is a file-stat walk, microseconds
        next to the merge it follows. rebucket() is crash-safe (the old
        table stays restorable until the new one is complete)."""
        ideal = right_sized_buckets(self._data_bytes())
        if (ideal >= self.n_buckets * 4
                or ideal * 4 <= self.n_buckets):
            rebucket(spark, self.path, self.key_cols, ideal)
            self.n_buckets = ideal

    def state_fingerprint(self):
        """Layout-agnostic token that changes iff the table data changed
        (here: the sorted (file, size, mtime) set of data files)."""
        out = []
        for root, _dirs, files in os.walk(self.data_path):
            for fn in files:
                p = os.path.join(root, fn)
                st = os.stat(p)
                out.append((os.path.relpath(p, self.data_path),
                            st.st_size, st.st_mtime_ns))
        return tuple(sorted(out))


def snapshot_as_changes(snap: DataFrame) -> DataFrame:
    """Re-encode a merge_snapshot table as the change batch that would
    reproduce it exactly: id = the row's _last_id watermark, op = D for
    tombstones — merging it into an empty table preserves every
    watermark and tombstone, so later replays of OLD batches remain
    no-ops. Shared by layout migration and rebucketing."""
    from dbsync_spark.operators.apply import DELETED_COL, LAST_ID_COL

    return snap.select(
        F.col(LAST_ID_COL).alias("id"),
        F.when(F.col(DELETED_COL), "D").otherwise("I").alias("operation"),
        *[c for c in snap.columns if c not in (LAST_ID_COL, DELETED_COL)])


def _rebuild_bucketed(spark: SparkSession, path: str,
                      snap: DataFrame | None, key_cols: list[str],
                      n_buckets: int, auto: bool = False) -> "BucketedTable":
    """Replace the table dir at `path` with a BucketedTable of `n_buckets`
    holding `snap` (watermarks and tombstones preserved), built in full
    in a staging sibling while the old table stays readable (replace_dir:
    a crash leaves the old table or the new one, never neither)."""
    def build(staging: str) -> None:
        tbl = BucketedTable(staging, key_cols, n_buckets)
        if snap is not None:
            tbl.merge_changes(spark, snapshot_as_changes(snap), key_cols)
        if auto:
            # an auto-sized table stays auto-sized after a resize (flag
            # set after the rebuild merge so it cannot recurse)
            tbl.auto_sized = True
            tbl._write_meta()

    replace_dir(path, build)
    return BucketedTable(path, key_cols, n_buckets)


def migrate_snapshot_to_bucketed(spark: SparkSession, path: str,
                                 key_cols: list[str],
                                 n_buckets: int = 64) -> "BucketedTable":
    """One-shot layout migration: re-home a versioned-snapshot target
    (ParquetTable) as a BucketedTable AT THE SAME PATH, preserving the
    snapshot's `_last_id` watermarks and tombstones so the streaming
    checkpoint resumes exactly where it left off (an older replayed
    change still cannot clobber a migrated row)."""
    recover_dir(path)  # before ParquetTable's makedirs, as in BucketedTable
    snap = ParquetTable(path).read(spark)
    return _rebuild_bucketed(spark, path, snap, key_cols, n_buckets)


def rebucket(spark: SparkSession, path: str, key_cols: list[str],
             new_n_buckets: int) -> "BucketedTable":
    """Resize a BucketedTable's bucket count in place (the OPTIMIZE-style
    maintenance op for when the original n_buckets no longer fits the
    batch key count — see the sizing rule in the class docstring), with
    the same replay guarantees as migrate_snapshot_to_bucketed."""
    old_tbl = BucketedTable(path, key_cols)
    if old_tbl.n_buckets == new_n_buckets:
        return old_tbl
    return _rebuild_bucketed(spark, path, old_tbl.read(spark), key_cols,
                             new_n_buckets, auto=old_tbl.auto_sized)
