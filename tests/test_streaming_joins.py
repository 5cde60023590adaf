"""Streaming index services (dedup, IVF, span): streaming results must
equal the batch equivalents (the batch plan is the oracle)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.mark.slow
def test_streaming_dedup_index_equals_full_batch(spark, tmp_path):
    """Docs arriving over 3 micro-batches through the persisted LSH index
    emit, in union, exactly the full-corpus near-dup pairs — each found
    once, when its later member arrives."""
    from dbsync_spark.functions.dedup import minhash_near_dups
    from dbsync_spark.streaming.dedup_index import StreamingDedupIndex

    base = [
        (i, f"document {i} shares plenty of common vocabulary alpha beta "
            f"gamma delta epsilon zeta eta theta iota kappa tail {i % 3}")
        for i in range(1, 16)
    ]
    corpus = spark.createDataFrame(base, ["doc_id", "text"])
    idx = StreamingDedupIndex(spark, str(tmp_path / "dedup_idx"),
                              threshold=0.5)
    emitted = set()
    for epoch, lo, hi in [(0, 1, 6), (1, 6, 11), (2, 11, 16)]:
        batch = corpus.where((corpus.doc_id >= lo) & (corpus.doc_id < hi))
        got = idx.process_batch(batch, epoch_id=epoch)
        new_pairs = {(r["doc_a"], r["doc_b"]) for r in got.collect()}
        assert not (new_pairs & emitted), "pair emitted twice"
        emitted |= new_pairs
    full = {(r["doc_a"], r["doc_b"])
            for r in minhash_near_dups(corpus, threshold=0.5).collect()}
    assert emitted == full
    assert emitted, "fixture should contain near-dup pairs"


@pytest.mark.slow
def test_streaming_dedup_index_via_foreachbatch(spark, tmp_path):
    """The same index wired to a real readStream/foreachBatch drain."""
    from dbsync_spark.functions.dedup import minhash_near_dups
    from dbsync_spark.streaming.dedup_index import StreamingDedupIndex

    rows = [
        (i, "the quick brown fox jumps over the lazy dog near the river "
            f"bank while number {i % 2} watches quietly from the shade")
        for i in range(1, 9)
    ]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    src = str(tmp_path / "src")
    corpus.repartition(4).write.parquet(src)

    idx = StreamingDedupIndex(spark, str(tmp_path / "idx2"), threshold=0.5)
    stream = (spark.readStream.schema(corpus.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(idx.foreach_batch_handler())
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = {(r["doc_a"], r["doc_b"]) for r in idx.all_pairs().collect()}
    full = {(r["doc_a"], r["doc_b"])
            for r in minhash_near_dups(corpus, threshold=0.5).collect()}
    assert got == full and got


def test_streaming_ivf_index_batch_invariant(spark, sf_dir, tmp_path):
    """An IVF index fed in 3 micro-batches answers identically to one
    built in a single batch (frozen centroids => per-row assignment),
    and its results agree with exact scoring on overlaps."""
    from pyspark.sql import functions as F

    from dbsync_spark.functions.similarity import cosine_topk
    from dbsync_spark.sources.tables import read_table
    from dbsync_spark.streaming.ann_index import StreamingIvfIndex

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)

    inc = StreamingIvfIndex(spark, str(tmp_path / "ivf_inc"), dim=64,
                            n_clusters=8)
    inc.fit(emb)
    for epoch, rem in [(0, 0), (1, 1), (2, 2)]:
        inc.process_batch(emb.where(F.col("vec_id") % 3 == rem), epoch)

    one = StreamingIvfIndex(spark, str(tmp_path / "ivf_one"), dim=64,
                            n_clusters=8)
    one.fit(emb)
    one.process_batch(emb, 0)

    got_inc = {(r["query_id"], r["vec_id"], round(r["cosine_sim"], 12))
               for r in inc.query(queries, k=10, nprobe=2).collect()}
    got_one = {(r["query_id"], r["vec_id"], round(r["cosine_sim"], 12))
               for r in one.query(queries, k=10, nprobe=2).collect()}
    assert got_inc == got_one and got_inc

    exact = {(r["query_id"], r["vec_id"]): r["cosine_sim"]
             for r in cosine_topk(emb, queries, k=10).collect()}
    for qid, vid, sim in got_inc:
        if (qid, vid) in exact:
            assert abs(sim - exact[(qid, vid)]) < 1e-9


def test_streaming_ivf_requires_fit(spark, tmp_path):
    from dbsync_spark.streaming.ann_index import StreamingIvfIndex

    idx = StreamingIvfIndex(spark, str(tmp_path / "nofit"), dim=4)
    try:
        idx.centroids()
        raise AssertionError("expected RuntimeError")
    except RuntimeError as e:
        assert "fit()" in str(e)


class TestStreamingSpanIndex:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_stream_equals_full_recompute(self, spark, tmp_path):
        """Three micro-batches through the service == dup_spans_state
        over the whole corpus, including an old doc whose span only
        appears once a LATER batch lands (cross-epoch flip)."""
        from dbsync_spark.functions.dedup import dup_spans_state
        from dbsync_spark.streaming.span_index import StreamingSpanIndex

        run = " ".join(f"s{i}" for i in range(8))
        other = " ".join(f"t{i}" for i in range(7))
        b1 = [(1, "a0 a1 " + run), (2, " ".join(f"u{i}" for i in range(9)))]
        b2 = [(3, other + " z9"), (4, "b0 " + run + " b1")]   # 4 flips 1
        b3 = [(5, "c0 c1 " + other)]                           # 5 flips 3
        idx = StreamingSpanIndex(spark, str(tmp_path / "span_idx"))
        for epoch, batch in enumerate((b1, b2, b3)):
            idx.process_batch(self._docs(spark, batch), epoch_id=epoch)
        got = sorted(map(tuple, idx.current_spans().collect()))
        _, _, full_spans = dup_spans_state(
            self._docs(spark, b1 + b2 + b3))
        want = sorted(map(tuple, full_spans.collect()))
        assert got == want
        assert {r[0] for r in got} == {1, 3, 4, 5}  # cross-epoch flips

    def test_epoch_replay_idempotent(self, spark, tmp_path):
        """Re-running a failed epoch overwrites its own files: state and
        current_spans are identical after a replay."""
        from dbsync_spark.streaming.span_index import StreamingSpanIndex

        run = " ".join(f"s{i}" for i in range(8))
        b1 = [(1, "a " + run)]
        b2 = [(2, "b " + run)]
        idx = StreamingSpanIndex(spark, str(tmp_path / "replay_idx"))
        idx.process_batch(self._docs(spark, b1), epoch_id=0)
        idx.process_batch(self._docs(spark, b2), epoch_id=1)
        before = sorted(map(tuple, idx.current_spans().collect()))
        idx.process_batch(self._docs(spark, b2), epoch_id=1)  # replay
        after = sorted(map(tuple, idx.current_spans().collect()))
        assert before == after and len(before) == 2

    def test_rescore_to_zero_spans_shadows(self, spark, tmp_path):
        """current_spans before any batch is empty; a doc rescored in a
        later epoch keeps exactly its latest rows (no stale union)."""
        from dbsync_spark.streaming.span_index import StreamingSpanIndex

        idx = StreamingSpanIndex(spark, str(tmp_path / "empty_idx"))
        assert idx.current_spans().count() == 0
        run = " ".join(f"s{i}" for i in range(8))
        idx.process_batch(self._docs(spark, [(1, "a " + run)]), 0)
        assert idx.current_spans().count() == 0     # df=1: no dups yet
        idx.process_batch(self._docs(spark, [(2, "b " + run)]), 1)
        got = idx.current_spans().collect()
        assert sorted(r.doc_id for r in got) == [1, 2]
        # every current row came from the doc's LATEST rescore epoch:
        # doc 1 was rescored in epoch 1, so no epoch-0 leftovers exist
        assert all(r.n_windows == 3 for r in got)


@pytest.mark.slow
def test_direct_process_batch_auto_assigns_epochs(spark, tmp_path):
    """Calling process_batch WITHOUT an epoch (the natural direct-call
    pattern) must not overwrite earlier batches: epochs auto-increment,
    so batch 1's state survives batch 2 and cross-batch dups are found."""
    from dbsync_spark.streaming.dedup_index import StreamingDedupIndex
    from dbsync_spark.streaming.span_index import StreamingSpanIndex

    run = " ".join(f"s{i}" for i in range(8))
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    sidx = StreamingSpanIndex(spark, str(tmp_path / "auto_span"))
    sidx.process_batch(mk([(1, "a " + run)]))          # no epoch_id
    sidx.process_batch(mk([(2, "b " + run)]))          # no epoch_id
    assert sorted(r.doc_id for r in sidx.current_spans().collect()) == [1, 2]

    base = "the quick brown fox jumps over the lazy dog again and again today"
    didx = StreamingDedupIndex(spark, str(tmp_path / "auto_dedup"),
                               threshold=0.5)
    didx.process_batch(mk([(1, base)]))
    didx.process_batch(mk([(2, base + " extra")]))
    pairs = {(r.doc_a, r.doc_b) for r in didx.all_pairs().collect()}
    assert (1, 2) in pairs
