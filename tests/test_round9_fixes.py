"""Regression tests for the round-8 judge/advice items fixed in round 9:

1. ForgettingSpanIndex.forget published spans and rescored with two
   separate finish_compact calls and NO _compact_ready marker — a crash
   between the publishes left the two subs at inconsistent epochs and
   every recovery path restaged from the corrupted view (ADVICE,
   medium). Now forget() uses the same marker protocol as compact().
2. ForgettingSimhashIndex dead-fingerprint set is epoch-delta state
   (judge item #6): per-event write bytes proportional to the event,
   prior deltas never rewritten, die -> revive -> die-again derived
   correctly.
3. The verify's chunk count is derived from the measured candidates
   (judge item #8): the automatically chosen K must give the same
   output as any larger K.

The round's other simjoin items (meta corruption, compaction sort,
count-adaptive _pair_sets) live in tests/test_simjoin.py and
tests/test_simjoin_index.py.
"""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _span_docs(spark):
    dup = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
           "lambda mu nu xi omicron pi rho sigma tau upsilon")
    rows = [(1, "intro one " + dup + " outro one"),
            (2, "intro two " + dup + " outro two"),
            (3, "intro three " + dup + " outro three"),
            (4, "totally unrelated text about nothing shared at all here "
                "with enough words to pass the window length easily okay")]
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# 1. span forget crash between the two publishes
# ---------------------------------------------------------------------------

def test_span_forget_crash_between_publishes_recovers(spark, tmp_path,
                                                      monkeypatch):
    """Crash after publishing spans but before rescored: the replayed
    forget must finish the pending staged swap first (marker present ->
    consistent staged copy), never restage from the half-swapped view."""
    from dbsync_spark.streaming import span_index as span_mod
    from dbsync_spark.streaming import state as state_mod
    from dbsync_spark.streaming.span_index import ForgettingSpanIndex

    docs = _span_docs(spark)
    root = str(tmp_path / "span")
    idx = ForgettingSpanIndex(spark, root)
    for e in range(2):
        idx.process_batch(docs.where(F.col("doc_id") % 2 == e), epoch_id=e)
    gone = docs.where(F.col("doc_id") == 2).select("doc_id")

    real_finish = state_mod.finish_compact
    calls = []

    def crashing_finish(r, sub):
        calls.append(sub)
        real_finish(r, sub)
        if sub == "spans":
            raise RuntimeError("injected crash between publishes")

    monkeypatch.setattr(state_mod, "finish_compact", crashing_finish)
    with pytest.raises(RuntimeError, match="injected"):
        idx.forget(gone, epoch_id=0)
    monkeypatch.setattr(state_mod, "finish_compact", real_finish)

    # the crash window: marker on disk, spans published, rescored staged
    assert os.path.exists(f"{root}/_compact_ready")
    assert os.path.exists(f"{root}/rescored/_compacting/_covers.json")

    idx.forget(gone, epoch_id=0)  # replayed forget = the recovery path
    assert not os.path.exists(f"{root}/_compact_ready")

    rebuilt = ForgettingSpanIndex(spark, str(tmp_path / "rebuilt"))
    survivors = docs.where(F.col("doc_id") != 2)
    for e in range(2):
        rebuilt.process_batch(survivors.where(F.col("doc_id") % 2 == e),
                              epoch_id=e)
    assert _rows(idx.current_spans()) == _rows(rebuilt.current_spans())
    assert not idx.current_spans().isEmpty()  # docs 1,3 still span-dup


def test_span_compact_recovers_forget_crash_window(spark, tmp_path,
                                                   monkeypatch):
    """compact() is the OTHER documented recovery path for the same
    crash window: it must finish the pending staged subs verbatim."""
    from dbsync_spark.streaming import state as state_mod
    from dbsync_spark.streaming.span_index import ForgettingSpanIndex

    docs = _span_docs(spark)
    root = str(tmp_path / "span")
    idx = ForgettingSpanIndex(spark, root)
    for e in range(2):
        idx.process_batch(docs.where(F.col("doc_id") % 2 == e), epoch_id=e)
    gone = docs.where(F.col("doc_id") == 2).select("doc_id")

    real_finish = state_mod.finish_compact

    def crashing_finish(r, sub):
        real_finish(r, sub)
        if sub == "spans":
            raise RuntimeError("injected crash between publishes")

    monkeypatch.setattr(state_mod, "finish_compact", crashing_finish)
    with pytest.raises(RuntimeError, match="injected"):
        idx.forget(gone, epoch_id=0)
    monkeypatch.setattr(state_mod, "finish_compact", real_finish)

    idx.compact()  # recovery
    assert not os.path.exists(f"{root}/_compact_ready")

    rebuilt = ForgettingSpanIndex(spark, str(tmp_path / "rebuilt"))
    survivors = docs.where(F.col("doc_id") != 2)
    for e in range(2):
        rebuilt.process_batch(survivors.where(F.col("doc_id") % 2 == e),
                              epoch_id=e)
    assert _rows(idx.current_spans()) == _rows(rebuilt.current_spans())


# ---------------------------------------------------------------------------
# 2. simhash dead-fingerprint epoch deltas
# ---------------------------------------------------------------------------

def test_simhash_dead_deltas_are_event_proportional(spark, tmp_path):
    """Each forget writes ONLY its own death delta; earlier delta files
    are never rewritten (the r8 version rewrote the full set per
    event)."""
    from dbsync_spark.streaming.simhash_index import ForgettingSimhashIndex

    u1 = "omega phi chi psi upsilon tau sigma rho"
    u2 = "north south east west above below within beyond"
    docs = spark.createDataFrame(
        [(1, u1), (2, u2), (3, "shared alpha " + u1.replace("rho", "pi"))],
        ["doc_id", "text"])
    idx = ForgettingSimhashIndex(spark, str(tmp_path / "sh"))
    idx.process_batch(docs, epoch_id=0)

    idx.forget(docs.where(F.col("doc_id") == 1).select("doc_id"),
               epoch_id=0)
    d0 = f"{tmp_path}/sh/deadfps/epoch=0"
    files0 = {f: os.path.getmtime(os.path.join(d0, f))
              for f in os.listdir(d0)}
    dead_after_first = {r.simhash for r in idx._dead().collect()}
    assert dead_after_first  # sole holder -> its fp died

    idx.forget(docs.where(F.col("doc_id") == 2).select("doc_id"),
               epoch_id=1)
    # second event: own epoch dir, first event's files untouched
    assert os.path.isdir(f"{tmp_path}/sh/deadfps/epoch=1")
    assert files0 == {f: os.path.getmtime(os.path.join(d0, f))
                      for f in os.listdir(d0)}
    assert len({r.simhash for r in idx._dead().collect()}) == 2


def test_simhash_die_revive_die_again(spark, tmp_path):
    """The derived dead test (deaths >= occurrences) over a full
    die -> revive -> die-again cycle, checked against a never-fed
    rebuild at each step."""
    from dbsync_spark.streaming.simhash_index import ForgettingSimhashIndex

    uniq = "omega phi chi psi upsilon tau sigma rho"
    idx = ForgettingSimhashIndex(spark, str(tmp_path / "sh"))
    idx.process_batch(spark.createDataFrame([(1, uniq)],
                                            ["doc_id", "text"]), epoch_id=0)
    idx.forget(spark.createDataFrame([(1,)], ["doc_id"]), epoch_id=0)
    assert not idx._dead().isEmpty()  # died

    idx.process_batch(spark.createDataFrame([(2, uniq)],
                                            ["doc_id", "text"]), epoch_id=1)
    assert idx._dead().isEmpty()  # revived by re-introduction

    idx.forget(spark.createDataFrame([(2,)], ["doc_id"]), epoch_id=1)
    assert not idx._dead().isEmpty()  # died AGAIN (deaths=2, seen=2)

    idx.process_batch(spark.createDataFrame([(3, uniq)],
                                            ["doc_id", "text"]), epoch_id=2)
    assert idx._dead().isEmpty()  # second revival
    idx.process_batch(spark.createDataFrame([(4, uniq)],
                                            ["doc_id", "text"]), epoch_id=3)
    # only the post-revival pair exists; nothing touches docs 1 or 2
    assert _rows(idx.pairs()) == [(3, 4, 0)]

    # physical erasure drops the deltas; state equals a never-fed index
    idx.compact()
    assert not os.path.exists(f"{tmp_path}/sh/deadfps/epoch=0")
    assert idx._dead().isEmpty()
    assert _rows(idx.pairs()) == [(3, 4, 0)]


# ---------------------------------------------------------------------------
# 3. auto-chosen verify chunk count equals a forced larger one
# ---------------------------------------------------------------------------

def test_auto_chunks_default_equals_explicit(spark, monkeypatch):
    from dbsync_spark.functions.dedup import (containment_join,
                                              similarity_join)
    from tests.test_simjoin import _corpus, chunk_spy, split_budget

    docs = _corpus(spark, n_filler=25)
    for op, k in ((similarity_join, 4), (containment_join, 3)):
        monkeypatch.undo()  # default payload budget, fresh spy
        seen = chunk_spy(monkeypatch)
        auto = _rows(op(docs))
        assert auto and seen[-1][2] == 1
        split_budget(monkeypatch, seen, k=k)
        assert _rows(op(docs)) == auto
        assert seen[-1][2] >= k
