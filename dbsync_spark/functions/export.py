"""Training-data export: deterministic sharded dataset writer.

The last stage of a curation pipeline (filter -> dedup -> sample -> pack)
is materializing the corpus as a FIXED set of shards that a training job
can map to data-loader workers: shard count is part of the dataset
contract, assignment must be reproducible run-to-run (resumable exports,
diffable re-builds), and each shard should land as few large files, not
many small ones.

Spark shape: shard = h15(key) % n_shards — the same engine-portable
md5-derived hash the sampling operators use (functions/text.h15), so the
assignment is oracle-checkable in DuckDB and independent of Spark's
internal hashPartitioning. One repartition on the shard column moves each
shard to exactly one task (n_shards output files), and the
within-partition sort gives stable row order inside a shard. At 100 TB
n_shards is sized so one shard ≈ a few GB (e.g. 32k shards); assignment
cost is a single hash-exchange of the already-curated corpus — no driver
state, no RNG.

Reference scope: the reference engine stops at the JDBC/status sinks; the
shard writer is part of the extended training-pipeline surface (same
family as functions/sampling.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbsync_spark.functions.text import h15
from dbsync_spark.sinks.layout import replace_partitions, restore_asides


def shard_assign(df: DataFrame, key_col: str, n_shards: int) -> DataFrame:
    """Add a deterministic `shard` column in [0, n_shards). Engine-
    portable (md5-derived), uniform, and stable under re-runs and corpus
    growth: a row's shard never depends on what other rows exist."""
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    return df.withColumn(
        "shard", (h15(F.col(key_col).cast("string")) % n_shards).cast("int"))


def _write_meta(path: str, key_col: str, n_shards: int) -> None:
    import json
    import os

    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, "_META.json.tmp")
    with open(tmp, "w") as f:
        json.dump({"n_shards": n_shards, "key_col": key_col}, f)
    os.replace(tmp, os.path.join(path, "_META.json"))


def _check_meta(path: str, key_col: str, n_shards: int) -> None:
    """Refuse a refresh whose sharding rule disagrees with the layout's
    pinned one: touched-shard ids computed under a different n_shards or
    key would scatter new versions into the WRONG directories while the
    old rows sit untouched — silent duplicate keys (the same hazard
    BucketedTable pins away with its _META.json)."""
    import json
    import os

    try:
        with open(os.path.join(path, "_META.json")) as f:
            meta = json.load(f)
    except FileNotFoundError:
        return  # pre-meta layout: accept and pin below
    if meta["n_shards"] != n_shards or meta.get("key_col") != key_col:
        raise ValueError(
            f"shard layout at {path} was written with n_shards="
            f"{meta['n_shards']}, key={meta.get('key_col')!r}; refresh "
            f"asked for n_shards={n_shards}, key={key_col!r}")


def export_shards(df: DataFrame, path: str, key_col: str, n_shards: int,
                  order_col: str | None = None) -> None:
    """Write `df` as `path/shard=K/` parquet, one file per shard, rows
    sorted by `order_col` (default: the shard key) within each shard.
    The sharding rule (n_shards, key) is pinned in `_META.json` so every
    later update_shards agrees with the physical layout.

    repartition(n_shards, shard) puts each shard in exactly one task —
    one output file per shard directory, the layout a data loader
    expects. Skew note: shards are hash-uniform over keys, so file sizes
    are balanced whenever keys are; documents with wildly varying sizes
    still balance in expectation across many rows per shard."""
    assigned = shard_assign(df, key_col, n_shards)
    (assigned
     .repartition(n_shards, F.col("shard"))
     .sortWithinPartitions("shard", order_col or key_col)
     .write.mode("overwrite").partitionBy("shard").parquet(path))
    _write_meta(path, key_col, n_shards)


def update_shards(spark, path: str, new_df: DataFrame, key_col: str,
                  n_shards: int, order_col: str | None = None) -> list[int]:
    """Incremental corpus refresh: upsert `new_df` into an existing
    export_shards layout, rewriting ONLY the shard directories the new
    keys hash into. Same-key rows are replaced by the new version; other
    shards are never opened — per-refresh cost is O(|new| + |touched
    shards|), independent of corpus size (the export-side analogue of
    BucketedTable.merge_changes, sinks/table.py).

    Crash-safe via the same per-directory rename-aside swap
    (replace_partitions): a touched shard is always present as either its
    live dir or its aside, and restore_asides runs FIRST (before the
    layout is read) so a re-run after a mid-swap crash sees the restored
    pre-crash rows — not an empty shard it would then "merge" the batch
    into alone. The sharding rule must match the layout's pinned
    `_META.json`. Returns the touched shard ids."""
    restore_asides(path)
    _check_meta(path, key_col, n_shards)
    assigned = shard_assign(new_df, key_col, n_shards).localCheckpoint()
    touched = sorted(r[0] for r in
                     assigned.select("shard").distinct().collect())
    if not touched:
        return []
    order = order_col or key_col
    from dbsync_spark.sources.tables import read_state

    prior = read_state(spark, path)  # None on first refresh of an empty
    if prior is None:                # dir; real corruption propagates
        merged = assigned
    else:
        existing = (prior
                    .where(F.col("shard").isin(touched))
                    # new version wins on key collision
                    .join(assigned.select(key_col), on=key_col,
                          how="left_anti"))
        merged = existing.unionByName(assigned)
    replace_partitions(merged.repartition(len(touched), F.col("shard"))
                       .sortWithinPartitions("shard", order),
                       path, "shard", touched)
    _write_meta(path, key_col, n_shards)  # pin on first (empty-dir) refresh
    return touched


def shard_manifest(df: DataFrame, key_col: str, n_shards: int,
                   size_col: str | None = None) -> DataFrame:
    """Per-shard manifest (the dataset card a training job validates
    against): row count, key range, and total payload size per shard.
    One hash-exchange groupBy; output is n_shards rows."""
    assigned = shard_assign(df, key_col, n_shards)
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.min(key_col).alias("min_key"),
        F.max(key_col).alias("max_key"),
    ]
    if size_col is not None:
        aggs.append(F.sum(F.col(size_col).cast("long")).alias("total_size"))
    return assigned.groupBy("shard").agg(*aggs)
