"""Relevance-search operators: BM25 ranking, positional phrase search,
and the zlib compression-ratio quality signal."""

from __future__ import annotations

import zlib

import pytest
from pyspark.sql import functions as F

from dbsync_spark.functions.text import (bm25_topk, build_posting_index,
                                         compression_signals,
                                         phrase_occurrences_rowlocal,
                                         phrase_search)
from dbsync_spark.sources.tables import read_table
from tests.compare import assert_matches

TERMS = ["spark", "merge", "window"]


def _bm25_python(docs: list[tuple[int, str]], terms: list[str],
                 k: int = 10) -> list[tuple[int, int, int]]:
    """Independent pure-Python reference for the exact quantized BM25
    recurrence: same odds-form idf, same 10*S rational saturation, same
    floor((A/B)*1e6) per-term quantization, BIGINT per-doc sum."""
    toks = {d: t.split(" ") for d, t in docs}
    dl = {d: len(t) for d, t in toks.items()}
    n, s = len(docs), sum(dl.values())
    tf = {(d, t): toks[d].count(t) for d, _ in docs for t in terms}
    df = {t: sum(1 for d, _ in docs if tf[(d, t)] > 0) for t in terms}
    scores = {}
    for d, _ in docs:
        total, n_terms = 0, 0
        for t in terms:
            f = tf[(d, t)]
            if f == 0:
                continue
            # python floats are IEEE doubles; same left-assoc op order
            # as the Spark/SQL implementations
            a = float(2 * n - 2 * df[t] + 1) * 22.0 * float(f) * float(s)
            b = float(2 * df[t] + 1) * (10.0 * float(s) * float(f)
                                        + 3.0 * float(s)
                                        + 9.0 * float(dl[d]) * float(n))
            import math
            total += math.floor((a / b) * 1000000.0)
            n_terms += 1
        if n_terms:
            scores[d] = (n_terms, total)
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1][1], kv[0]))[:k]
    return [(d, nt, sm) for d, (nt, sm) in ranked]


def test_bm25_matches_python_reference(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    got = {r["doc_id"]: (r["n_terms"], r["score_micro"])
           for r in bm25_topk(docs, TERMS, k=10).collect()}
    raw = [(r["doc_id"], r["text"])
           for r in docs.select("doc_id", "text").collect()]
    want = {d: (nt, sm) for d, nt, sm in _bm25_python(raw, TERMS, k=10)}
    assert got == want


def test_bm25_matches_oracle(spark, sf_dir, duck):
    from dbsync_spark.queries_training import _bm25_oracle

    docs = read_table(spark, sf_dir, "documents")
    assert_matches(bm25_topk(docs, TERMS, k=10), duck, _bm25_oracle())


def test_bm25_scores_positive_and_ranked(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    rows = bm25_topk(docs, TERMS, k=10).collect()
    assert rows, "query terms should match fixture docs"
    micros = [r["score_micro"] for r in rows]
    assert micros == sorted(micros, reverse=True)
    assert all(m > 0 for m in micros)
    assert all(1 <= r["n_terms"] <= len(TERMS) for r in rows)


PHRASE = ["the", "table"]


def test_phrase_join_equals_rowlocal(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    via_join = sorted(map(tuple, phrase_search(docs, PHRASE).collect()))
    via_scan = sorted(map(tuple,
                          phrase_occurrences_rowlocal(docs, PHRASE)
                          .collect()))
    assert via_join == via_scan
    assert via_join, "phrase should occur in fixture corpus"


def test_phrase_with_prebuilt_index(spark, sf_dir):
    """A persisted full posting index answers the same phrase query —
    the repeated-query amortization path."""
    docs = read_table(spark, sf_dir, "documents")
    idx = build_posting_index(docs)
    with_idx = sorted(map(tuple,
                          phrase_search(docs, PHRASE, index=idx).collect()))
    fresh = sorted(map(tuple, phrase_search(docs, PHRASE).collect()))
    assert with_idx == fresh


def test_phrase_overlapping_occurrences(spark):
    """Self-overlapping phrase: 'a a a a' contains 'a a' three times
    (positions 1, 2, 3) — the (doc, pos-i) join must count overlaps."""
    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "b a a b"), (3, "a b a b")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_occurrences"], r["first_pos"])
           for r in phrase_search(docs, ["a", "a"]).collect()}
    assert got == {1: (3, 1), 2: (1, 2)}
    got3 = {r["doc_id"]: (r["n_occurrences"], r["first_pos"])
            for r in phrase_search(docs, ["a", "a", "a"]).collect()}
    assert got3 == {1: (2, 1)}


def test_compression_signals_match_zlib(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").limit(200)
    got = {r["doc_id"]: (r["orig_bytes"], r["deflate_bytes"])
           for r in compression_signals(docs).collect()}
    for r in docs.select("doc_id", "text").collect():
        raw = r["text"].encode("utf-8")
        assert got[r["doc_id"]] == (len(raw), len(zlib.compress(raw, 6)))


def test_compression_ratio_orders_repetition(spark):
    """Highly repetitive text must compress strictly harder than
    high-entropy text — the signal the quality gate relies on."""
    import random

    rng = random.Random(7)
    noisy = " ".join("".join(rng.choice("abcdefghijklmnop")
                             for _ in range(8)) for _ in range(100))
    docs = spark.createDataFrame(
        [(1, "spam ham " * 400), (2, noisy)], "doc_id long, text string")
    got = {r["doc_id"]: r["compress_ratio"]
           for r in compression_signals(docs).collect()}
    assert got[1] < 0.1 < got[2]


def test_streaming_search_index_equals_batch(spark, sf_dir, tmp_path):
    """The incremental search index fed disjoint batches answers BM25 and
    phrase queries identically to the one-pass batch operators, and a
    non-latest epoch replay leaves both answers unchanged."""
    from dbsync_spark.streaming.search_index import StreamingSearchIndex

    docs = read_table(spark, sf_dir, "documents")
    idx = StreamingSearchIndex(spark, str(tmp_path / "search"))
    for epoch in range(3):
        idx.process_batch(docs.where(F.col("doc_id") % 3 == epoch),
                          epoch_id=epoch)

    want_bm25 = sorted(map(tuple, bm25_topk(docs, TERMS, k=10).collect()))
    want_phrase = sorted(map(tuple, phrase_search(docs, PHRASE).collect()))
    assert sorted(map(tuple, idx.bm25(TERMS, k=10).collect())) == want_bm25
    assert sorted(map(tuple, idx.phrase(PHRASE).collect())) == want_phrase

    idx.process_batch(docs.where(F.col("doc_id") % 3 == 1), epoch_id=1)
    assert sorted(map(tuple, idx.bm25(TERMS, k=10).collect())) == want_bm25
    assert sorted(map(tuple, idx.phrase(PHRASE).collect())) == want_phrase


@pytest.mark.slow
def test_streaming_search_via_real_foreachbatch(spark, sf_dir, tmp_path):
    """The search index wired to a real checkpointed readStream drain."""
    from dbsync_spark.streaming.search_index import StreamingSearchIndex

    docs = read_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 300)
    src = str(tmp_path / "docs")
    docs.repartition(3).write.parquet(src)

    idx = StreamingSearchIndex(spark, str(tmp_path / "search"))
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(idx.foreach_batch_handler())
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    want = sorted(map(tuple, bm25_topk(docs, TERMS, k=10).collect()))
    assert sorted(map(tuple, idx.bm25(TERMS, k=10).collect())) == want


def test_search_index_custom_id_col(spark, tmp_path):
    """A non-default id_col round-trips through the persisted state
    (state is stored under 'doc_id'; outputs rename back)."""
    from dbsync_spark.streaming.search_index import StreamingSearchIndex

    docs = spark.createDataFrame(
        [(1, "spark merge"), (2, "spark spark window")],
        "uid long, text string")
    idx = StreamingSearchIndex(spark, str(tmp_path / "s"), id_col="uid")
    idx.process_batch(docs, epoch_id=0)
    got = {r["uid"]: r["score_micro"]
           for r in idx.bm25(["spark"], k=5).collect()}
    assert set(got) == {1, 2} and all(v > 0 for v in got.values())
    ph = idx.phrase(["spark", "merge"]).collect()
    assert [r["uid"] for r in ph] == [1]


def test_phrase_tokens_with_quotes(spark):
    """Tokens containing quotes are legal (whitespace tokenization) and
    must not break or corrupt the row-local expression."""
    docs = spark.createDataFrame(
        [(1, "don't stop now"), (2, "do stop now")],
        "doc_id long, text string")
    got = sorted(map(tuple,
                     phrase_occurrences_rowlocal(
                         docs, ["don't", "stop"]).collect()))
    assert got == [(1, 1, 1)]
    via_join = sorted(map(tuple,
                          phrase_search(docs, ["don't", "stop"]).collect()))
    assert via_join == got


def test_simhash_max_hamming_validated(spark):
    from dbsync_spark.functions.dedup import simhash_pairs
    from dbsync_spark.streaming.simhash_index import StreamingSimhashIndex

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    import pytest

    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(docs, max_hamming=4, banks=4)
    with pytest.raises(ValueError, match="pigeonhole"):
        StreamingSimhashIndex(spark, "/tmp/unused", max_hamming=5)


def test_empty_phrase_raises(spark):
    """Round-4 ADVICE: an empty phrase list must raise a clear ValueError
    instead of an IndexError from phrase[0]."""
    import pytest

    from dbsync_spark.functions.text import (phrase_occurrences_rowlocal,
                                             phrase_search)

    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="at least one term"):
        phrase_search(docs, [])
    with pytest.raises(ValueError, match="at least one term"):
        phrase_occurrences_rowlocal(docs, [])


@pytest.mark.slow
def test_search_index_compaction(spark, sf_dir, tmp_path):
    """compact() merges all posting/docstat epochs into one, leaves every
    query's results unchanged, keeps epoch ids advancing, and physically
    drops tombstoned docs' rows for the Forgetting index (storage-level
    erasure, not just read-time hiding)."""
    import os

    from dbsync_spark.sources.tables import read_table
    from dbsync_spark.streaming.search_index import ForgettingSearchIndex
    from dbsync_spark.streaming.state import list_epochs

    docs = read_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 300)
    idx = ForgettingSearchIndex(spark, str(tmp_path / "c"))
    for e in range(6):
        idx.process_batch(docs.where(F.col("doc_id") % 6 == e), epoch_id=e)
    idx.forget(docs.where(F.col("doc_id") % 11 == 0).select("doc_id"))

    terms = ["spark", "merge", "window"]
    bm_before = sorted(map(tuple, idx.bm25(terms, k=10).collect()))
    ph_before = sorted(map(tuple, idx.phrase(["the", "table"]).collect()))

    idx.compact()

    assert list_epochs(str(tmp_path / "c"), "postings") == [5]
    assert list_epochs(str(tmp_path / "c"), "docstats") == [5]
    assert sorted(map(tuple, idx.bm25(terms, k=10).collect())) == bm_before
    assert sorted(map(tuple,
                      idx.phrase(["the", "table"]).collect())) == ph_before

    # physical erasure: raw parquet (no tombstone anti-join) has no rows
    # for forgotten docs
    raw = spark.read.parquet(str(tmp_path / "c" / "postings" / "epoch=5"))
    gone = {r["doc_id"] for r in idx._forgotten().collect()}
    left = {r["doc_id"] for r in raw.select("doc_id").distinct().collect()}
    assert not (left & gone)

    # bounded file count: one data file per sub after compaction
    files = [f for f in os.listdir(tmp_path / "c" / "postings" / "epoch=5")
             if f.endswith(".parquet")]
    assert len(files) == 1

    # the index keeps working after compaction: new epochs append past
    # the surviving id and queries reflect them
    extra = spark.createDataFrame(
        [(100_001, "spark merge window spark merge window")],
        ["doc_id", "text"])
    idx.process_batch(extra)  # auto epoch = 6
    assert 6 in list_epochs(str(tmp_path / "c"), "postings")
    top = idx.bm25(terms, k=3).collect()
    assert any(r["doc_id"] == 100_001 for r in top)


def test_search_index_compaction_crash_recovery(spark, tmp_path):
    """A compact() that crashed after writing the staging manifest (the
    delete/rename window) completes on the next compact(): no data loss,
    queries equal the pre-compaction state."""
    import json
    import shutil

    from dbsync_spark.streaming.search_index import StreamingSearchIndex
    from dbsync_spark.streaming.state import list_epochs

    rows = [(i, f"alpha beta doc {i} gamma delta spark") for i in range(40)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    idx = StreamingSearchIndex(spark, str(tmp_path / "x"))
    for e in range(4):
        idx.process_batch(docs.where(F.col("doc_id") % 4 == e), epoch_id=e)
    want = sorted(map(tuple, idx.bm25(["alpha", "spark"], k=10).collect()))

    # simulate the crash: stage the merged copy + manifest, delete ONE
    # covered epoch, then 'die' before the rename
    stage = str(tmp_path / "x" / "postings" / "_compacting")
    from dbsync_spark.streaming.search_index import _POSTINGS_SCHEMA

    idx._read("postings", _POSTINGS_SCHEMA).coalesce(1).write.mode(
        "overwrite").parquet(stage)
    with open(f"{stage}/_covers.json", "w") as fh:
        json.dump([0, 1, 2, 3], fh)
    shutil.rmtree(str(tmp_path / "x" / "postings" / "epoch=1"))

    idx.compact()  # completes the interrupted swap, then no-ops

    assert list_epochs(str(tmp_path / "x"), "postings") == [3]
    got = sorted(map(tuple, idx.bm25(["alpha", "spark"], k=10).collect()))
    assert got == want
