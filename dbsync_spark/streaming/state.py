"""Epoch state for the streaming index services: the one module through
which their durable state touches the filesystem.

Every service keeps its state as parquet epoch dirs,
`<root>/<sub>/epoch=N`, written by overwrite so a replayed epoch
rewrites exactly its own files. On top of that layout this module
defines, once:

- `EpochState`, the base of every service: epoch listing and
  allocation, the union read of a sub's epochs, the overwrite write,
  the foreachBatch adapter, per-sub staged compaction that finishes a
  pending `_compacting` dir first, and the marker-protected multi-sub
  publish;
- `Tombstones`, the right-to-be-forgotten mixin: tombstone epochs under
  `<root>/forgets`, the read-time anti-join, the rejection of retired
  ids and the `_erased.json` marker that lets compaction skip a rewrite
  whose tombstones are already applied;
- atomic JSON and array files (tmp file plus `os.replace`), so a crash
  never leaves a partial `_covers.json`, `_erased.json`,
  `_compact_ready`, `_meta.json`, `_widths.json` or `centroids.npy`.

Underscore-prefixed names (`_compacting`, `_covers.json`, ...) are
hidden from Spark listings and from `list_epochs`.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

_SCRATCH_DIRS: list[str] = []
_EPOCH = re.compile(r"epoch=(\d+)")
MARKER = "_compact_ready"


def scratch_dir(prefix: str) -> str:
    """mkdtemp whose directory is removed at interpreter exit. The demo
    queries build per-invocation index state under a temp root; a bare
    mkdtemp leaks one directory per sweep/bench invocation, so every
    query-site temp root goes through here."""
    import atexit
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix)
    if not _SCRATCH_DIRS:
        atexit.register(lambda: [shutil.rmtree(p, ignore_errors=True)
                                 for p in _SCRATCH_DIRS])
    _SCRATCH_DIRS.append(path)
    return path


def write_parts(spark, floor: int = 4) -> int:
    """Output-file parallelism for state/delta writes: scales with the
    cluster instead of pinning a local[32]-tuned literal (a hard-coded
    coalesce(4) throttles a 1000-core cluster's write stage to 4 tasks).
    defaultParallelism/4 keeps state files coarse (state tables are
    post-aggregation, orders smaller than the corpus) while letting big
    clusters write wide; the tuned local value stays as the floor so
    small runs keep their current file counts."""
    return max(floor, spark.sparkContext.defaultParallelism // 4)


# -- files ------------------------------------------------------------------


def write_json(path: str, obj) -> None:
    """Write `obj` as JSON atomically: a crash mid-write leaves the
    previous file (or none) and a stray `.tmp`, never a partial file."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def read_json(path: str, default=None):
    """Parsed JSON at `path`, `default` when the file does not exist.
    Malformed content raises: only absence means "not written yet"."""
    try:
        with open(path) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return default


def save_array(path: str, arr) -> None:
    """np.save, atomically (same tmp-plus-replace rule as write_json)."""
    import numpy as np

    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp"
    with open(tmp, "wb") as fh:
        np.save(fh, arr)
    os.replace(tmp, path)


def load_array(path: str):
    """np.load of `path`, None when the file does not exist."""
    import numpy as np

    try:
        return np.load(path)
    except FileNotFoundError:
        return None


def count_distinct(root: str, sub: str, col: str) -> int:
    """Distinct non-null values of `col` over every epoch of `sub`, read
    on the driver from the parquet files — no Spark job. For id-list
    state such as tombstones, small next to the state they hide."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    paths = [f"{d}/{f}" for e in list_epochs(root, sub)
             for d in [f"{root}/{sub}/epoch={e}"]
             for f in os.listdir(d) if f.endswith(".parquet")]
    if not paths:
        return 0
    return pc.count_distinct(
        pq.read_table(paths, columns=[col]).column(0)).as_py()


def count_files(path: str, suffix: str = ".parquet") -> int:
    """Files named *`suffix` under `path`, counted on the driver."""
    return sum(f.endswith(suffix)
               for _d, _s, files in os.walk(path) for f in files)


# -- epoch dirs -------------------------------------------------------------


def list_epochs(root: str, sub: str) -> list[int]:
    """Sorted epoch ids of the epoch=N subdirs under <root>/<sub>."""
    try:
        entries = os.listdir(os.path.join(root, sub))
    except FileNotFoundError:
        return []
    return sorted(int(m.group(1)) for e in entries
                  if (m := _EPOCH.fullmatch(e)))


def next_epoch(root: str, sub: str) -> int:
    """Auto-assign the next epoch id for a direct (non-foreachBatch)
    process_batch call: one past the highest epoch=N subdir under
    <root>/<sub>, 0 when none exist. foreachBatch callers keep passing
    Spark's epoch_id; the checkpoint guarantees those never repeat."""
    eps = list_epochs(root, sub)
    return eps[-1] + 1 if eps else 0


def remove_epochs(root: str, sub: str, epochs) -> None:
    for e in epochs:
        shutil.rmtree(f"{root}/{sub}/epoch={e}", ignore_errors=True)


def prune_epochs(root: str, sub: str) -> int:
    """Compaction for CUMULATIVE latest-epoch-wins state (cms cells, HLL
    sketches, Misra-Gries summary/meta, trending): epoch N already holds
    the FULL state after N and reads only ever take the newest epoch, so
    compaction is simply deleting every older epoch dir — no staging, no
    rename, and trivially crash-safe (a partial delete leaves the newest
    epoch untouched and reads unchanged). Returns the number of epoch
    dirs removed."""
    eps = list_epochs(root, sub)
    remove_epochs(root, sub, eps[:-1])
    return max(len(eps) - 1, 0)


# -- staged compaction ------------------------------------------------------


def staged_compact(df, root: str, sub: str, covers: list[int],
                   partition_by: list[str] | None = None,
                   sort_within: list[str] | None = None) -> None:
    """Crash-safe epoch-directory compaction: write `df` (the merged,
    read-path-filtered state) to a `_compacting` staging dir, record the
    covered epochs in a manifest, delete them, then atomically rename
    the staging dir to the max covered epoch (so next_epoch keeps
    advancing past it).

    `partition_by` preserves a bucketed at-rest layout through the
    rewrite (the simjoin index's `_b`/`_d` pruning dirs): the merged
    epoch keeps one file per bucket value instead of one flat file, so
    post-compaction probes prune exactly as pre-compaction ones did.
    `sort_within` preserves the within-file sort order the delta writer
    established (e.g. `_h` for the simjoin set rows) so parquet min/max
    row-group skipping for IN-list pushdowns survives the rewrite.

    Crash windows: before the manifest lands the old state is untouched
    and a re-run restages; after it, reads may be partial until
    finish_compact completes the swap from the staged full copy — no
    data loss either way. Callers must be quiescent: replaying a
    pre-compaction epoch id afterwards would re-append rows the
    compacted epoch already holds (the standard OPTIMIZE-vs-writer
    discipline; run compaction only past the stream's checkpoint)."""
    stage_compact(df, root, sub, covers, partition_by=partition_by,
                  sort_within=sort_within)
    finish_compact(root, sub)


def stage_compact(df, root: str, sub: str, covers: list[int],
                  partition_by: list[str] | None = None,
                  sort_within: list[str] | None = None) -> None:
    """The staging half of staged_compact: materialize the merged state
    and its manifest WITHOUT touching the live epoch dirs. The manifest
    is the commit point, written atomically: it exists complete or not
    at all."""
    stage = f"{root}/{sub}/_compacting"
    shutil.rmtree(stage, ignore_errors=True)
    if partition_by:
        # one shuffle task per bucket value -> one file per bucket dir;
        # the sort leads with the partition columns so the writer's
        # required ordering is already satisfied and the caller's
        # row-group-skipping sort survives to the files
        (df.repartition(*partition_by)
         .sortWithinPartitions(*partition_by, *(sort_within or []))
         .write.partitionBy(*partition_by)
         .mode("overwrite").parquet(stage))
    else:
        df.coalesce(1).write.mode("overwrite").parquet(stage)
    write_json(f"{stage}/_covers.json", covers)


def finish_compact(root: str, sub: str) -> None:
    """Complete a staged compaction (idempotent crash recovery): delete
    the covered epoch dirs and publish the staging dir as the surviving
    epoch."""
    stage = f"{root}/{sub}/_compacting"
    covers = read_json(f"{stage}/_covers.json")
    remove_epochs(root, sub, covers)
    os.rename(stage, f"{root}/{sub}/epoch={max(covers)}")


def pending_compaction(root: str, sub: str) -> bool:
    return os.path.exists(f"{root}/{sub}/_compacting/_covers.json")


def recover_compaction(root: str, sub: str) -> None:
    """Finish a staged compaction of `sub` whose manifest landed."""
    if pending_compaction(root, sub):
        finish_compact(root, sub)


def recover_publish(root: str, subs, after=None) -> None:
    """Recovery half of `publish`, run on entry to every mutating
    operation of a service that publishes `subs` together. Marker present: every staged
    sub is a complete consistent copy, so publish the ones still
    pending, run `after` and drop the marker. Marker absent: no publish
    ever ran, so any `_compacting` dir of these subs is garbage."""
    if not os.path.exists(f"{root}/{MARKER}"):
        for s in subs:
            shutil.rmtree(f"{root}/{s}/_compacting", ignore_errors=True)
        return
    for s in subs:
        recover_compaction(root, s)
    if after is not None:
        after()
    os.remove(f"{root}/{MARKER}")


def publish(root: str, stages, after=None) -> None:
    """Marker-protected multi-sub publish for services whose read path
    joins ACROSS subs (span: spans x rescored; simhash: fps vs death
    deltas). `stages` is a list of (sub, df, covers).
    Every sub is STAGED first (live state untouched), a `_compact_ready`
    marker commits, then every staging is published and `after` runs.
    A crash leaves either the old state intact (marker absent) or a
    committed set of consistent stagings that `recover_publish`
    finishes verbatim — never a restage from a half-swapped view.
    Callers run `recover_publish` before building `stages`."""
    for sub, df, covers in stages:
        stage_compact(df, root, sub, covers)
    if stages:
        write_json(f"{root}/{MARKER}", "ready")
    for sub, *_ in stages:
        finish_compact(root, sub)
    if after is not None:
        after()
    if stages:
        os.remove(f"{root}/{MARKER}")


# -- erasure marker ---------------------------------------------------------


def record_erasure(root: str, sub: str, n_forgotten: int) -> None:
    """After compacting `sub` with tombstones anti-joined away, record
    in the surviving epoch dir how many distinct tombstones were applied
    (without it, `forgets not empty` is permanently true after the first
    forget and every maintenance tick re-runs the full staged rewrite of
    already-erased rows — O(state) work per tick). A crash before the
    marker lands just re-runs the rewrite once."""
    eps = list_epochs(root, sub)
    if eps:
        write_json(f"{root}/{sub}/epoch={eps[-1]}/_erased.json",
                   {"n_forgotten": n_forgotten})


def erasure_pending(root: str, sub: str, n_forgotten: int) -> bool:
    """True when the newest epoch of `sub` has NOT yet had all
    `n_forgotten` current tombstones applied (marker absent, unreadable
    or recording a smaller set — tombstone sets only grow: forgotten ids
    are permanently retired)."""
    eps = list_epochs(root, sub)
    if not eps:
        return False
    try:
        done = read_json(f"{root}/{sub}/epoch={eps[-1]}/_erased.json")
    except (OSError, ValueError):
        return True
    return (done or {}).get("n_forgotten") != n_forgotten


# -- the service bases ------------------------------------------------------


class EpochState:
    """Base of the epoch-dir streaming services: state under `root` as
    `<root>/<sub>/epoch=N` parquet dirs. Subclasses keep their math and
    call these helpers for every state touch."""

    # subs a multi-sub `publish` swaps together (span, simhash)
    _PUBLISHED: tuple[str, ...] = ()

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")

    def _path(self, sub: str, epoch: int) -> str:
        return f"{self.root}/{sub}/epoch={epoch}"

    def _epochs(self, sub: str) -> list[int]:
        return list_epochs(self.root, sub)

    def _next_epoch(self, sub: str) -> int:
        return next_epoch(self.root, sub)

    def _read_epochs(self, sub: str, schema: StructType,
                     epochs: list[int] | None = None,
                     before: int | None = None) -> DataFrame:
        """Union of `sub`'s epochs (all, or `epochs`), restricted to ids
        < `before` when given; an empty `schema` frame when none."""
        eps = self._epochs(sub) if epochs is None else epochs
        if before is not None:
            eps = [e for e in eps if e < before]
        if not eps:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(
            *[self._path(sub, e) for e in eps])

    def _newest(self, sub: str, before: int | None = None) -> list[int]:
        """[newest epoch of `sub` (< `before` when given)], or []."""
        return [e for e in self._epochs(sub)
                if before is None or e < before][-1:]

    def _latest(self, sub: str, schema: StructType,
                before: int | None = None) -> DataFrame:
        """The newest epoch of cumulative latest-wins state (< `before`
        when given, so a replayed epoch reads the predecessor it read the
        first time); empty before the first batch."""
        return self._read_epochs(sub, schema, self._newest(sub, before))

    def _write_epoch(self, df: DataFrame, sub: str, epoch: int) -> None:
        df.write.mode("overwrite").parquet(self._path(sub, epoch))

    def foreach_batch_handler(self):
        """Adapter for `writeStream.foreachBatch`."""
        def handle(batch_df: DataFrame, epoch_id: int) -> None:
            self.process_batch(batch_df, epoch_id)

        return handle

    def _compact_sub(self, sub: str, build, epochs: list[int] | None = None,
                     force: bool = False, **layout) -> None:
        """Finish a pending `_compacting` of `sub`, then stage and publish
        `build()` (the read-path view) over `epochs` (default: all of
        them) when there is more than one, or one and `force` (rows the
        read path hides still sit in it)."""
        recover_compaction(self.root, sub)
        eps = self._epochs(sub) if epochs is None else epochs
        if eps and (len(eps) > 1 or force):
            staged_compact(build(), self.root, sub, eps, **layout)

    def _compact_subs(self, plan: dict) -> None:
        """`_compact_sub` for every sub of `plan` ({sub: build} or {sub:
        (build, layout)}), forced while tombstones are pending, then the
        erasure recorded."""
        n = self._erasure()
        for sub, spec in plan.items():
            build, layout = spec if isinstance(spec, tuple) else (spec, {})
            self._compact_sub(sub, build, force=bool(n), **layout)
        self._mark_erased(n)

    def _recover(self) -> None:
        """Finish (or discard) an interrupted multi-sub publish."""
        recover_publish(self.root, self._PUBLISHED, self._after_publish)

    def _publish(self, stages) -> None:
        publish(self.root, stages, after=self._after_publish)

    def _after_publish(self) -> None:
        """Runs after every publish, inside the marker window."""

    def _erasure(self) -> int:
        """Distinct tombstones compaction has not yet applied physically
        (Tombstones); 0 when the read path hides nothing."""
        return 0

    def _mark_erased(self, n: int) -> None:
        pass


class Tombstones:
    """Right-to-be-forgotten for an EpochState service (list it first in
    the bases). `forget` writes a tombstone epoch under
    `<root>/forgets`; reads anti-join the accumulated tombstones;
    ingest rejects retired ids, because tombstones apply to ALL epochs at
    read time and a re-ingested id would be silently invisible forever;
    compaction erases the hidden rows and records the applied tombstone
    count in `_erased.json` inside the newest epoch of `_ERASED`."""

    _ERASED = ""  # sub whose newest epoch carries the erasure marker

    def _tomb_key(self) -> str:
        """Stored tombstone column (and the key column of the state)."""
        return "doc_id"

    def _forgotten(self, before: int | None = None,
                   epochs: list[int] | None = None) -> DataFrame:
        """Tombstones of every forget epoch (or of `epochs`; < `before`
        when given)."""
        schema = StructType([StructField(self._tomb_key(), LongType())])
        return self._read_epochs("forgets", schema, epochs, before)

    def _write_forgets(self, ids: DataFrame,
                       epoch_id: int | None = None) -> int:
        """Tombstone the ids in the caller's id column (`id_col`, else
        the key). Epoch-scoped overwrite — a replayed forget rewrites
        identical tombstones. Returns the epoch."""
        if epoch_id is None:
            epoch_id = self._next_epoch("forgets")
        col = F.col(getattr(self, "id_col", self._tomb_key()))
        self._write_epoch(
            ids.select(col.cast("long").alias(self._tomb_key()))
            .distinct().coalesce(1), "forgets", epoch_id)
        return epoch_id

    def forget(self, doc_ids: DataFrame, epoch_id: int | None = None
               ) -> None:
        """Tombstone a frame of ids; reads hide them from now on and
        compact() erases them physically."""
        self._write_forgets(doc_ids, epoch_id)

    def _hide(self, df: DataFrame, *cols: str,
              before: int | None = None) -> DataFrame:
        """`df` minus the rows where any of `cols` (default the key) is
        forgotten (by a forget epoch < `before` when given); one
        tombstone read serves every column."""
        key = self._tomb_key()
        gone = self._forgotten(before)
        for col in cols or (key,):
            df = df.join(gone if col == key
                         else gone.select(F.col(key).alias(col)),
                         on=col, how="anti")
        return df

    def _hide_pairs(self, df: DataFrame) -> DataFrame:
        """Pair rows with neither side forgotten, in `df`'s column
        order."""
        return self._hide(df, "doc_a", "doc_b").select(*df.columns)

    def _reject_retired(self, batch: DataFrame) -> None:
        """Raise on a batch that re-ingests a forgotten id: forgotten ids
        are permanently retired from the id space, and a collision is a
        caller bug surfaced loudly instead of swallowed."""
        key = self._tomb_key()
        col = F.col(getattr(self, "id_col", key))
        clash = (batch.select(col.cast("long").alias(key))
                 .join(self._forgotten(), on=key, how="semi")
                 .limit(5).collect())
        if clash:
            ids = sorted(r[key] for r in clash)
            raise ValueError(
                f"{key}s {ids} were forgotten and are permanently "
                f"retired; re-ingest under a fresh {key}")

    def _erasure(self) -> int:
        n = count_distinct(self.root, "forgets", self._tomb_key())
        return n if erasure_pending(self.root, self._ERASED, n) else 0

    def _mark_erased(self, n: int) -> None:
        if n:
            record_erasure(self.root, self._ERASED, n)
