"""Delta Lake MERGE sink — the production target-table backend.

`ParquetTable` (sinks/table.py) is the container-testable stand-in: this
module is the swap target on a real cluster where delta-spark is
available. The apply semantics are EXACTLY operators/apply.py
merge_snapshot — the batch reduce is merge_snapshot itself, and the
target keeps its (_last_id, _deleted) tombstone columns — expressed as a
single `MERGE INTO`, which Delta executes as a join + rewrite of only
the touched files (with file-skipping on the join keys).
Retention/compaction (reference O8, `job/CleanWorker.scala:27-53`) map
to `VACUUM`/`OPTIMIZE`, with tombstone purge gated on the applied-log
horizon.

Everything is import-gated: in environments without delta-spark the
class raises a clear error at construction, never at import.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

try:  # pragma: no cover - exercised only where delta-spark is installed
    from delta.tables import DeltaTable
    HAVE_DELTA = True
except ImportError:
    DeltaTable = None
    HAVE_DELTA = False


class DeltaSink:
    """Same surface as ParquetTable (read / overwrite_with) plus
    merge_changes, so streaming/pipeline.py can swap backends by
    constructor choice alone."""

    def __init__(self, path: str):
        if not HAVE_DELTA:
            raise ImportError(
                "delta-spark is not installed; use sinks.table.ParquetTable "
                "(same interface) or add the delta-spark package + "
                "spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension"
            )
        self.path = path

    def read(self, spark: SparkSession) -> DataFrame | None:
        if not DeltaTable.isDeltaTable(spark, self.path):
            return None
        return spark.read.format("delta").load(self.path)

    def overwrite_with(self, df: DataFrame) -> None:
        df.write.format("delta").mode("overwrite").save(self.path)

    def merge_changes(self, spark: SparkSession, changes: DataFrame,
                      key_cols: list[str], pinned: bool = False) -> None:
        """Apply an I/U/D micro-batch with merge_snapshot's EXACT
        semantics: the batch is reduced last-writer-wins per key by
        merge_snapshot itself (one shared implementation, no drift), and
        the target STORES delete tombstones (_deleted, _last_id) rather
        than physically deleting — so a replayed or out-of-order older
        event can neither clobber a newer row nor resurrect a deleted
        key. One MERGE: matched+newer -> update all, unmatched -> insert
        (tombstones included). Read live rows via `live`. `pinned` is
        accepted for interface parity with BucketedTable (the MERGE reads
        the batch once)."""
        from dbsync_spark.operators.apply import (
            DELETED_COL, LAST_ID_COL, merge_snapshot)

        src = merge_snapshot(None, changes, list(key_cols))
        if self.read(spark) is None:
            src.write.format("delta").save(self.path)
            return
        tgt = DeltaTable.forPath(spark, self.path)
        cond = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
        newer = f"s.{LAST_ID_COL} > t.{LAST_ID_COL}"
        (tgt.alias("t").merge(src.alias("s"), cond)
         .whenMatchedUpdateAll(condition=newer)
         .whenNotMatchedInsertAll()
         .execute())

    def live(self, spark: SparkSession) -> DataFrame | None:
        """Tombstone-free user-facing view (apply.live_rows)."""
        from dbsync_spark.operators.apply import live_rows

        snap = self.read(spark)
        return None if snap is None else live_rows(snap)

    def maintain(self, spark: SparkSession, retain_hours: int = 168,
                 tombstone_horizon_id: int | None = None) -> None:
        """Reference O8 retention/maintenance: compact + drop old files.
        Tombstones below `tombstone_horizon_id` may be physically purged
        ONLY once every log entry with id < horizon is fully applied and
        retired from the change log (the same contract as the reference's
        dataKeepHours sweep — a replay from before the horizon is then
        impossible by construction)."""
        from dbsync_spark.operators.apply import DELETED_COL, LAST_ID_COL

        tgt = DeltaTable.forPath(spark, self.path)
        if tombstone_horizon_id is not None:
            tgt.delete(f"{DELETED_COL} AND {LAST_ID_COL} < {tombstone_horizon_id}")
        tgt.optimize().executeCompaction()
        tgt.vacuum(retain_hours)
