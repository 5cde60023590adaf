"""Delta sink gating + interface parity with the parquet stand-in."""

from __future__ import annotations

import inspect

import pytest

from dbsync_spark.sinks import delta as ds
from dbsync_spark.sinks.jdbc import JdbcTable
from dbsync_spark.sinks.table import BucketedTable, ParquetTable


def test_import_is_safe_and_gated(tmp_path):
    """Without delta-spark the module imports fine and fails at
    construction with an actionable message."""
    if ds.HAVE_DELTA:
        pytest.skip("delta-spark installed; gating path not reachable")
    with pytest.raises(ImportError, match="delta-spark is not installed"):
        ds.DeltaSink(str(tmp_path / "t"))


def test_interface_parity_with_parquet_table():
    """DeltaSink is a drop-in for ParquetTable's read/overwrite surface,
    and every pipeline target takes SyncPipeline.apply_changes' call
    `merge_changes(spark, frame, keys, pinned=True)`."""
    for name in ("read", "overwrite_with"):
        p = inspect.signature(getattr(ParquetTable, name))
        d = inspect.signature(getattr(ds.DeltaSink, name))
        assert list(p.parameters) == list(d.parameters), name
    want = inspect.signature(ParquetTable.merge_changes)
    for target in (BucketedTable, JdbcTable, ds.DeltaSink):
        got = inspect.signature(target.merge_changes)
        assert list(got.parameters) == list(want.parameters), target
        assert got.parameters["pinned"].default is False, target


@pytest.mark.skipif(not ds.HAVE_DELTA, reason="delta-spark not installed")
def test_merge_changes_lww_and_replay_safety(spark, tmp_path):
    """When delta IS present: the MERGE branch applies last-writer-wins,
    and a replayed/out-of-order older batch can neither clobber a newer
    row nor resurrect a deleted key (tombstone semantics)."""

    def batch(rows):
        return spark.createDataFrame(
            rows, "id LONG, operation STRING, k LONG, v STRING")

    sink = ds.DeltaSink(str(tmp_path / "t"))
    # first batch: initial-write path (incl. an immediate delete winner)
    sink.merge_changes(spark, batch(
        [(1, "I", 10, "a"), (2, "U", 10, "b"), (3, "D", 11, "x")]), ["k"])
    live = {r["k"]: r["v"] for r in sink.live(spark).collect()}
    assert live == {10: "b"}
    # second batch: MERGE branch — update, delete, fresh insert
    sink.merge_changes(spark, batch(
        [(5, "U", 10, "c"), (6, "D", 10, "z"), (7, "I", 12, "w")]), ["k"])
    live = {r["k"]: r["v"] for r in sink.live(spark).collect()}
    assert live == {12: "w"}
    # replay of older events: stale U on deleted keys 10 and 11, stale
    # overwrite of 12 — all rejected by the _last_id guard/tombstones
    sink.merge_changes(spark, batch(
        [(4, "U", 10, "stale"), (2, "U", 11, "ghost"), (1, "I", 12, "old")]),
        ["k"])
    live = {r["k"]: r["v"] for r in sink.live(spark).collect()}
    assert live == {12: "w"}
