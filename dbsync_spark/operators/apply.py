"""Ordered upsert/delete apply — the reference's core semantic.

The reference serializes all changes for one key into one partition worker
and applies them strictly in log-id order (sync/DataPoller.scala:92-96,
sync/DataSyncer.scala:38-54, doc/architecture.cn.md:14-27). On Spark the
same guarantee is declarative: the final state of a key after applying a
change log in id order is simply the event with the greatest id
(last-writer-wins), with 'D' removing the row. Upserts are idempotent
(INSERT .. ON CONFLICT DO UPDATE, dbopt/PgOperation.scala:47-79), so
at-least-once replay converges to the same state.

Scale notes:
- `last_writer_wins` uses groupBy + max_by, which gets map-side partial
  aggregation (each task pre-reduces its keys before the shuffle) — strictly
  less shuffle I/O than the window row_number() formulation, and no per-
  partition full sort. One shuffle on the key columns; AQE coalesces/splits
  skewed partitions.
- `merge_snapshot` unions the existing target (its rows carry their
  winning ids) with the new changes and re-reduces: one shuffle, no
  driver-side collect, works identically at 100 TB given a partitioned
  target layout.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

OP_INSERT = "I"
OP_UPDATE = "U"
OP_DELETE = "D"


def parse_changes(log: DataFrame, payload_schema: StructType) -> DataFrame:
    """Decode the JSON row image into typed columns (reference: Jackson
    decode at sync/DataPoller.scala:91; we use from_json so Catalyst can
    prune unused payload fields down to the scan)."""
    return log.select(
        "id",
        "operation",
        F.from_json("data", payload_schema).alias("row"),
    ).select("id", "operation", "row.*")


def valid_payload(data_col: str = "data") -> Column:
    """True where the JSON payload is structurally valid; a change whose
    payload is not must be dead-lettered instead of silently null-filled.

    The reference treats an unparseable change as an apply failure (ack
    ERR, sync/DataSyncer.scala:156-167) — Jackson throws at
    DataPoller.scala:91 and the row enters the retry path. Spark's
    PERMISSIVE from_json would instead produce an all-null row image and
    MERGE it as real data — a silent-corruption hazard. Validity test is
    try_parse_json (variant parse -> NULL on malformed), which matches
    DuckDB's json_valid() on structural validity exactly, is pure codegen
    (no Python), and folds into the scan — one predicate, no extra pass."""
    return F.try_parse_json(F.col(data_col)).isNotNull()


def last_writer_wins(changes: DataFrame, key_cols: list[str],
                     id_col: str = "id", op_col: str = "operation") -> DataFrame:
    """Final state of applying `changes` in id order: per key, the event
    with max id wins; a final 'D' removes the row.

    Equivalent to the reference's ordered per-key apply (strict ordering,
    Readme.md:9) without needing ordered execution: upserts commute into
    max_by, deletes are a terminal state.
    """
    payload_cols = [c for c in changes.columns if c not in (id_col, op_col)]
    winner = changes.groupBy(*key_cols).agg(
        F.max_by(
            F.struct(F.col(op_col).alias(op_col),
                     *[F.col(c).alias(c) for c in payload_cols if c not in key_cols]),
            F.col(id_col),
        ).alias("_w")
    )
    kept = winner.where(F.col(f"_w.{op_col}") != OP_DELETE)
    return kept.select(
        *[F.col(c) if c in key_cols else F.col(f"_w.{c}").alias(c) for c in payload_cols]
    )


LAST_ID_COL = "_last_id"
DELETED_COL = "_deleted"


def merge_snapshot(existing: DataFrame | None, changes: DataFrame,
                   key_cols: list[str], id_col: str = "id",
                   op_col: str = "operation",
                   cluster: tuple[str, int] | None = None) -> DataFrame:
    """Cross-batch MERGE that stays correct under replay and out-of-order
    micro-batches: the snapshot carries the winning log id per key
    (_last_id) and keeps deletes as tombstones (_deleted), so re-applying
    an already-seen batch is a no-op and an older change can never clobber
    a newer row or resurrect a deleted one — the streaming analog of the
    reference's strict per-key ordering. Read through `live_rows`.

    `cluster=(col, n)` names a column both inputs carry that is a function
    of the keys (a hash bucket): the union is hash-partitioned on it into
    n partitions ONCE and it leads the group keys, so the reduce reuses
    that exchange and the result stays partitioned on it — a writer that
    partitions by the same column adds no second shuffle."""
    if cluster is not None:
        cluster_col, n_partitions = cluster
        if existing is not None and cluster_col not in existing.columns:
            raise ValueError(f"existing snapshot lacks {cluster_col!r}")
        key_cols = [cluster_col, *key_cols]
    payload_cols = [c for c in changes.columns if c not in (id_col, op_col)]
    incoming = changes.select(id_col, op_col, *payload_cols)
    if existing is not None:
        # additive schema evolution: a payload column the stored snapshot
        # predates reads as NULL for existing rows (the reference's
        # schema-less JSON payload degrades the same way); columns the
        # new payload dropped simply stop being carried forward
        base = existing.select(
            F.col(LAST_ID_COL).alias(id_col),
            F.when(F.col(DELETED_COL), OP_DELETE).otherwise(OP_INSERT).alias(op_col),
            *[F.col(c) if c in existing.columns
              else F.lit(None).cast(changes.schema[c].dataType).alias(c)
              for c in payload_cols],
        )
        incoming = base.unionByName(incoming)
    if cluster is not None:
        incoming = incoming.repartition(n_partitions, cluster_col)
    winner = incoming.groupBy(*key_cols).agg(
        F.max_by(
            F.struct(F.col(op_col).alias(op_col),
                     *[F.col(c).alias(c) for c in payload_cols if c not in key_cols]),
            F.col(id_col),
        ).alias("_w"),
        F.max(id_col).alias(LAST_ID_COL),
    )
    return winner.select(
        *[F.col(c) if c in key_cols else F.col(f"_w.{c}").alias(c) for c in payload_cols],
        LAST_ID_COL,
        (F.col(f"_w.{op_col}") == OP_DELETE).alias(DELETED_COL),
    )


def live_rows(snapshot: DataFrame) -> DataFrame:
    """User-facing view of a merge_snapshot table (tombstones hidden)."""
    return snapshot.where(~F.col(DELETED_COL)).drop(LAST_ID_COL, DELETED_COL)
