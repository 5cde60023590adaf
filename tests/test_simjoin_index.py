"""StreamingSimJoinIndex: union-over-batches == full recompute (exact,
any batching), replay idempotence, right-to-be-forgotten, compaction."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dbsync_spark.functions import dedup
from dbsync_spark.functions.dedup import (containment_join,
                                          hashed_shingle_sets,
                                          similarity_join,
                                          similarity_join_incremental)
from dbsync_spark.streaming.simjoin_index import (ForgettingSimJoinIndex,
                                                  StreamingSimJoinIndex)
# job counting as the apply-path pins do it (one job group per call)
from test_apply_path import _jobs
from tests.test_simjoin import _corpus, chunk_spy, split_budget


def _pairs(df):
    return {(r.doc_a, r.doc_b, r.n_inter, r.n_union) for r in df.collect()}


@pytest.mark.slow
def test_union_over_batches_equals_full(spark, tmp_path):
    docs = _corpus(spark, n_filler=30)
    full = _pairs(similarity_join(docs))
    idx = StreamingSimJoinIndex(spark, str(tmp_path / "sj"))
    emitted = set()
    for epoch in range(3):
        out = idx.process_batch(docs.where(F.col("doc_id") % 3 == epoch),
                                epoch_id=epoch)
        new = _pairs(out)
        assert not (new & emitted)  # exactly-the-new-pairs: no re-emission
        emitted |= new
    assert emitted == full
    assert _pairs(idx.all_pairs()) == full


def test_replay_is_idempotent(spark, tmp_path):
    docs = _corpus(spark, n_filler=20)
    idx = StreamingSimJoinIndex(spark, str(tmp_path / "sj"))
    b0 = docs.where(F.col("doc_id") % 2 == 0)
    b1 = docs.where(F.col("doc_id") % 2 == 1)
    idx.process_batch(b0, epoch_id=0)
    first = _pairs(idx.process_batch(b1, epoch_id=1))
    replay = _pairs(idx.process_batch(b1, epoch_id=1))  # failed-epoch rerun
    assert replay == first
    assert _pairs(idx.all_pairs()) == _pairs(similarity_join(docs))


@pytest.mark.slow
def test_forget_equals_never_ingested(spark, tmp_path):
    docs = _corpus(spark, n_filler=20)
    idx = ForgettingSimJoinIndex(spark, str(tmp_path / "sj"))
    idx.process_batch(docs, epoch_id=0)
    gone = spark.createDataFrame([(2,)], "doc_id long")
    idx.forget(gone)
    clean = ForgettingSimJoinIndex(spark, str(tmp_path / "clean"))
    clean.process_batch(docs.where(F.col("doc_id") != 2), epoch_id=0)
    assert _pairs(idx.all_pairs()) == _pairs(clean.all_pairs())
    with pytest.raises(ValueError, match="permanently"):
        idx.process_batch(docs.where(F.col("doc_id") == 2), epoch_id=9)


@pytest.mark.slow
def test_compact_preserves_pairs_and_collapses_files(spark, tmp_path):
    docs = _corpus(spark, n_filler=20)
    root = str(tmp_path / "sj")
    idx = StreamingSimJoinIndex(spark, root)
    for epoch in range(4):
        idx.process_batch(docs.where(F.col("doc_id") % 4 == epoch),
                          epoch_id=epoch)
    before = _pairs(idx.all_pairs())
    idx.compact()
    assert _pairs(idx.all_pairs()) == before
    for sub in ("sets", "pairs"):
        eps = [d for d in os.listdir(f"{root}/{sub}")
               if d.startswith("epoch=")]
        assert len(eps) == 1, (sub, eps)
    # service still ingests after compaction
    extra = spark.createDataFrame(
        [(900, "a brand new unrelated document about glaciers")],
        "doc_id long, text string")
    idx.process_batch(extra)
    assert _pairs(idx.all_pairs()) == before  # no near-dups introduced


@pytest.mark.slow
def test_epoch_pairs_match_incremental_operator(spark, tmp_path):
    """Each epoch's pairs equal similarity_join_incremental's over the
    same index and batch: bucket pruning, additive lagged frequencies
    and the concurrent-write probe change the cost shape only, never
    the output."""
    docs = _corpus(spark, n_filler=25)
    idx = StreamingSimJoinIndex(spark, str(tmp_path / "sj"))
    index_sh = hashed_shingle_sets(docs.where(F.lit(False)))
    for epoch in range(3):
        batch = docs.where(F.col("doc_id") % 3 == epoch)
        want, all_sh = similarity_join_incremental(index_sh, batch)
        assert (_pairs(idx.process_batch(batch, epoch_id=epoch))
                == _pairs(want))
        index_sh.unpersist()
        index_sh = all_sh
    index_sh.unpersist()


def test_bucketed_state_layout(spark, tmp_path):
    """At-rest pruning layout: set rows bucketed by token hash (_b),
    verify arrays by doc id (_d), dfreq deltas by token hash — the
    physical precondition for batch-proportional probe reads."""
    docs = _corpus(spark, n_filler=10)
    root = str(tmp_path / "sj")
    idx = StreamingSimJoinIndex(spark, root, n_buckets=8)
    idx.process_batch(docs, epoch_id=0)
    for sub, col in (("sets", "_b"), ("dfreq", "_b"), ("arrays", "_d")):
        dirs = [d for d in os.listdir(f"{root}/{sub}/epoch=0")
                if d.startswith(f"{col}=")]
        assert dirs, (sub, os.listdir(f"{root}/{sub}/epoch=0"))
    # the bucket modulus is pinned in root meta: a reopened handle with
    # a DIFFERENT n_buckets argument must adopt the stored layout
    reopened = StreamingSimJoinIndex(spark, root, n_buckets=64)
    assert reopened.nb == 8


@pytest.mark.slow
def test_forgetting_compact_physically_erases(spark, tmp_path):
    """compact() on the forgetting variant removes tombstoned docs' set
    rows, arrays, dfreq contributions, and pairs from the FILES (not
    just the read path), preserves bucket partition dirs, and the
    erasure marker keeps a second compact from re-rewriting."""
    docs = _corpus(spark, n_filler=15)
    root = str(tmp_path / "sj")
    idx = ForgettingSimJoinIndex(spark, root)
    for epoch in range(2):
        idx.process_batch(docs.where(F.col("doc_id") % 2 == epoch),
                          epoch_id=epoch)
    gone_id = 2
    idx.forget(spark.createDataFrame([(gone_id,)], "doc_id long"))
    before = _pairs(idx.all_pairs())
    idx.compact()
    assert _pairs(idx.all_pairs()) == before
    raw_sets = spark.read.parquet(f"{root}/sets")
    assert raw_sets.where(F.col("doc_id") == gone_id).isEmpty()
    raw_arr = spark.read.parquet(f"{root}/arrays")
    assert raw_arr.where(F.col("doc_id") == gone_id).isEmpty()
    raw_pairs = spark.read.parquet(f"{root}/pairs")
    assert raw_pairs.where((F.col("doc_a") == gone_id)
                           | (F.col("doc_b") == gone_id)).isEmpty()
    # bucket layout survives the rewrite
    eps = [d for d in os.listdir(f"{root}/sets") if d.startswith("epoch=")]
    assert len(eps) == 1
    assert any(d.startswith("_b=")
               for d in os.listdir(f"{root}/sets/{eps[0]}"))
    # dfreq rebuilt from surviving sets: summed df for the forgotten
    # doc's tokens no longer counts it
    total_rows = raw_sets.count()
    dfreq_sum = (spark.read.parquet(f"{root}/dfreq")
                 .agg(F.sum("_df")).first()[0])
    assert dfreq_sum == total_rows
    # marker: second compact with nothing new is a no-op (single epoch,
    # erasure recorded)
    idx.compact()
    assert _pairs(idx.all_pairs()) == before


@pytest.mark.slow
def test_chunked_verify_matches_one_shot(spark, tmp_path, monkeypatch):
    """The per-batch verify is chunk-bounded like the batch operators'
    (round-8 ADVICE: bound the streaming verify PAYLOAD, not just its
    storage level). With K forced above 1 by a shrunken payload budget,
    each epoch's pairs are identical to the one-shot K == 1 verify —
    the chunks partition the candidate set."""
    docs = _corpus(spark, n_filler=25)
    budget = dedup._VERIFY_PAYLOAD_BUDGET
    seen = chunk_spy(monkeypatch)
    auto = StreamingSimJoinIndex(spark, str(tmp_path / "auto"))
    chunked = StreamingSimJoinIndex(spark, str(tmp_path / "chunked"))
    n_chunked = 0
    for epoch in range(3):
        batch = docs.where(F.col("doc_id") % 3 == epoch)
        monkeypatch.setattr(dedup, "_VERIFY_PAYLOAD_BUDGET", budget)
        n_seen = len(seen)
        want = _pairs(auto.process_batch(batch, epoch_id=epoch))
        # a batch with no candidates measures no chunk count
        measured = len(seen) > n_seen
        if measured:
            assert seen[-1][2] == 1
            split_budget(monkeypatch, seen)
        assert _pairs(chunked.process_batch(batch, epoch_id=epoch)) == want
        if measured:
            assert seen[-1][2] >= 3
            n_chunked += 1
    assert n_chunked >= 2
    assert _pairs(chunked.all_pairs()) == _pairs(similarity_join(docs))


def test_meta_corruption_raises(spark, tmp_path):
    """Only a MISSING _meta.json means first use: malformed content on
    an existing index propagates instead of re-pinning a possibly
    different bucket modulus over live state."""
    root = str(tmp_path / "sj")
    idx = StreamingSimJoinIndex(spark, root, n_buckets=16)
    assert idx.nb == 16
    # reopen honors the pinned modulus regardless of the ctor arg
    assert StreamingSimJoinIndex(spark, root, n_buckets=64).nb == 16

    with open(f"{root}/_meta.json", "w") as fh:
        fh.write("{not json")
    with pytest.raises(ValueError):
        StreamingSimJoinIndex(spark, root, n_buckets=64)
    # the corrupted file must NOT have been overwritten by the attempt
    with open(f"{root}/_meta.json") as fh:
        assert fh.read() == "{not json"


def test_compact_preserves_h_sort(spark, tmp_path):
    """Compaction keeps the within-file sort the delta writers
    establish (sets and dfreq by _h, arrays by doc id), so IN-list
    pushdowns still skip row groups after a compact."""
    import pyarrow.parquet as pq

    docs = _corpus(spark, n_filler=25)
    root = str(tmp_path / "sj")
    idx = StreamingSimJoinIndex(spark, root, n_buckets=8)
    for e in range(3):
        idx.process_batch(docs.where(F.col("doc_id") % 3 == e), epoch_id=e)
    pairs_before = _pairs(idx.all_pairs())
    idx.compact()
    assert _pairs(idx.all_pairs()) == pairs_before

    def _files(sub):
        out = []
        for dirpath, _dirs, files in os.walk(f"{root}/{sub}"):
            out += [os.path.join(dirpath, f) for f in files
                    if f.endswith(".parquet")]
        return out

    checked = 0
    for sub, col in (("sets", "_h"), ("dfreq", "_h"), ("arrays", "doc_id")):
        for path in _files(sub):
            vals = pq.read_table(path, columns=[col])[col].to_pylist()
            assert vals == sorted(vals), (sub, path)
            checked += 1
    assert checked > 0


# Spark jobs per call of the exact set-similarity family on
# _corpus(n_filler=25), process_batch over the doc_id % 3 batches of a
# ForgettingSimJoinIndex: a job more per call is latency on every batch
# operator run, micro-batch or maintenance tick. _jobs counts only the
# calling thread's jobs, so process_batch's concurrent delta writers
# and width stat (pool threads) are not in these numbers.
SIMJOIN_JOBS = {"similarity_join": 19, "containment_join": 19,
                "similarity_join_incremental": 22,
                "process_batch": [24, 37, 37], "forget": 2, "compact": 12,
                "compact_repeat": 0}


def test_simjoin_jobs_per_call(spark, tmp_path):
    docs = _corpus(spark, n_filler=25)
    got = {"similarity_join": _jobs(spark, lambda: similarity_join(docs)),
           "containment_join": _jobs(spark,
                                     lambda: containment_join(docs))}
    index_sh = hashed_shingle_sets(docs.where(F.col("doc_id") % 3 != 2))
    out = []
    got["similarity_join_incremental"] = _jobs(
        spark, lambda: out.extend(similarity_join_incremental(
            index_sh, docs.where(F.col("doc_id") % 3 == 2))))
    out[1].unpersist()
    idx = ForgettingSimJoinIndex(spark, str(tmp_path / "sj"))
    got["process_batch"] = [
        _jobs(spark, lambda: idx.process_batch(
            docs.where(F.col("doc_id") % 3 == e), epoch_id=e))
        for e in range(3)]
    got["forget"] = _jobs(spark, lambda: idx.forget(
        spark.createDataFrame([(2,)], "doc_id long")))
    got["compact"] = _jobs(spark, idx.compact)
    got["compact_repeat"] = _jobs(spark, idx.compact)
    assert got == SIMJOIN_JOBS
