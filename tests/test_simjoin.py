"""Exact set-similarity join (AllPairs/PPJoin prefix filter): recall-1.0
completeness vs brute force, planted pairs, length/prefix pruning bounds,
and incremental == full decomposition."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from dbsync_spark.functions import dedup
from dbsync_spark.functions.dedup import (MERSENNE31, char_shingles,
                                          containment_join,
                                          hashed_shingle_sets,
                                          similarity_join,
                                          similarity_join_incremental)
from dbsync_spark.functions.text import h15


def _brute_force(spark, df, num=4, den=5):
    """All pairs sharing >= 1 hashed shingle, exact jaccard filter —
    no prefix filter, no length filter. The completeness referee."""
    sh = (df.select("doc_id",
                    F.explode(char_shingles(F.col("text"))).alias("_s"))
          .select("doc_id", (h15(F.col("_s")) % MERSENNE31).alias("_h"))
          .distinct())
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "_h")
    b = sh.select(F.col("doc_id").alias("doc_b"), "_h")
    inter = (a.join(b, on="_h").where(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b").agg(F.count("*").alias("n_inter")))
    return (inter
            .join(sizes.select(F.col("doc_id").alias("doc_a"),
                               F.col("n").alias("na")), on="doc_a")
            .join(sizes.select(F.col("doc_id").alias("doc_b"),
                               F.col("n").alias("nb")), on="doc_b")
            .select("doc_a", "doc_b", "n_inter",
                    (F.col("na") + F.col("nb")
                     - F.col("n_inter")).alias("n_union"))
            .where(F.lit(den) * F.col("n_inter")
                   >= F.lit(num) * F.col("n_union")))


def _corpus(spark, n_filler=60):
    base_a = ("the quick brown fox jumps over the lazy dog in the morning "
              "while the patient observer takes careful notes about every "
              "single movement across the wide open field near the river")
    base_b = ("pack my box with five dozen liquor jugs before the auction "
              "starts because the appraiser arrives early and the catalog "
              "must list every lot in order with provenance and condition")
    rows = [
        (1, base_a), (2, base_a.replace("morning", "evening")),
        (3, base_b), (4, base_b.replace("auction", "meeting")),
        (5, "an entirely different document about computational geometry"),
    ]
    rows += [(100 + i,
              f"filler item {i} covering subject {i * 3} and material "
              f"{i * 11} with words {i * 7} {i * 13} {i * 19}")
             for i in range(n_filler)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pairs(df):
    return {(r.doc_a, r.doc_b, r.n_inter, r.n_union) for r in df.collect()}


def test_simjoin_equals_brute_force(spark):
    docs = _corpus(spark)
    got = _pairs(similarity_join(docs))
    want = _pairs(_brute_force(spark, docs))
    assert got == want
    assert len(want) >= 2  # planted near-identical pairs survive


def test_simjoin_planted_pair_caught_and_unrelated_excluded(spark):
    docs = _corpus(spark)
    keys = {(a, b) for a, b, *_ in _pairs(similarity_join(docs))}
    assert (1, 2) in keys and (3, 4) in keys
    assert all(a != 5 and b != 5 for a, b in keys)


def test_simjoin_threshold_monotone(spark):
    docs = _corpus(spark)
    loose = {(a, b) for a, b, *_ in
             _pairs(similarity_join(docs, threshold_num=1,
                                    threshold_den=2))}
    tight = {(a, b) for a, b, *_ in
             _pairs(similarity_join(docs, threshold_num=9,
                                    threshold_den=10))}
    assert tight <= loose


def test_simjoin_prefix_filter_prunes(spark):
    """The candidate set the prefix filter admits must be strictly
    smaller than all hash-sharing pairs on a corpus with shared
    boilerplate (otherwise the operator degenerates to brute force)."""
    docs = _corpus(spark)
    sh = hashed_shingle_sets(docs)
    a = sh.select(F.col("doc_id").alias("doc_a"), "_h")
    b = sh.select(F.col("doc_id").alias("doc_b"), "_h")
    n_sharing = (a.join(b, on="_h").where(F.col("doc_a") < F.col("doc_b"))
                 .select("doc_a", "doc_b").distinct().count())
    n_result = similarity_join(docs).count()
    # the planted corpus shares stopword shingles widely: brute-force
    # candidate pairs outnumber true results by a wide margin
    assert n_sharing > 10 * max(n_result, 1)


def test_simjoin_incremental_union_equals_full(spark):
    docs = _corpus(spark)
    full = _pairs(similarity_join(docs))
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    index_sh = hashed_shingle_sets(old)
    old_pairs = _pairs(similarity_join(old))
    new_pairs, all_sh = similarity_join_incremental(index_sh, new)
    assert old_pairs | _pairs(new_pairs) == full
    assert not (old_pairs & _pairs(new_pairs))
    # returned state == shingle sets of the union corpus
    assert (all_sh.count()
            == hashed_shingle_sets(docs).count())


def test_simjoin_empty_and_short_docs(spark):
    docs = spark.createDataFrame(
        [(1, ""), (2, "abc"), (3, "abcd"), (4, "identical text body"),
         (5, "identical text body")],
        "doc_id long, text string")
    got = _pairs(similarity_join(docs))
    assert {(a, b) for a, b, *_ in got} == {(4, 5)}


def test_containment_join_directional(spark):
    quote = "the five boxing wizards jump quickly over the frozen river"
    big = ("a long host document that embeds a quotation verbatim: "
           + quote + " and then continues with plenty of additional "
           "unrelated narrative content about mountains and harbors "
           "and long voyages across the open sea during winter storms")
    docs = spark.createDataFrame(
        [(1, quote), (2, big),
         (3, "entirely unrelated text about garden furniture sales")],
        "doc_id long, text string")
    got = {(r.doc_a, r.doc_b) for r in containment_join(docs).collect()}
    assert (1, 2) in got          # quote contained in host
    assert (2, 1) not in got      # host not contained in quote
    assert all(3 not in pair for pair in got)


def test_containment_join_equals_brute_force(spark):
    docs = _corpus(spark, n_filler=40)
    sh = hashed_shingle_sets(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "_h")
    b = sh.select(F.col("doc_id").alias("doc_b"), "_h")
    brute = (a.join(b, on="_h").where(F.col("doc_a") != F.col("doc_b"))
             .groupBy("doc_a", "doc_b").agg(F.count("*").alias("n_inter"))
             .join(sizes.select(F.col("doc_id").alias("doc_a"),
                                F.col("n").alias("n_a")), on="doc_a")
             .where(F.lit(10) * F.col("n_inter") >= F.lit(9) * F.col("n_a")))
    want = {(r.doc_a, r.doc_b, r.n_inter, r.n_a) for r in brute.collect()}
    got = {(r.doc_a, r.doc_b, r.n_inter, r.n_a)
           for r in containment_join(docs).collect()}
    assert got == want and len(want) >= 2


def _rows(df):
    return sorted(map(tuple, df.collect()))


def chunk_spy(monkeypatch) -> list:
    """Record every measured verify's (candidates, mean width, chunk
    count) choice."""
    seen = []
    real = dedup._auto_verify_chunks

    def spy(n_cands, mean_width):
        seen.append((n_cands, mean_width, real(n_cands, mean_width)))
        return seen[-1][2]

    monkeypatch.setattr(dedup, "_auto_verify_chunks", spy)
    return seen


def split_budget(monkeypatch, seen, k=3) -> None:
    """Shrink the verify payload budget so the last measured verify's
    payload splits into at least `k` chunks."""
    n_cands, mean_width, _ = seen[-1]
    monkeypatch.setattr(dedup, "_VERIFY_PAYLOAD_BUDGET",
                        int(n_cands * 8.0 * mean_width) // k)


def test_chunked_verify_identical_output(spark, monkeypatch):
    """The verify's chunks partition the candidate set by pmod(doc_a, K)
    and union per-chunk verifies: with K forced above 1 (a shrunken
    payload budget), both exact join operators' output must be
    identical to the one-shot K == 1 verify the default budget picks."""
    docs = _corpus(spark, n_filler=30)
    budget = dedup._VERIFY_PAYLOAD_BUDGET
    seen = chunk_spy(monkeypatch)
    for op in (similarity_join, containment_join):
        monkeypatch.setattr(dedup, "_VERIFY_PAYLOAD_BUDGET", budget)
        one = _rows(op(docs))
        assert one and seen[-1][2] == 1
        split_budget(monkeypatch, seen)
        assert _rows(op(docs)) == one
        assert seen[-1][2] >= 3


def test_auto_chunk_math():
    from dbsync_spark.functions.dedup import (_VERIFY_PAYLOAD_BUDGET,
                                              _auto_verify_chunks)

    assert _auto_verify_chunks(0, 0.0) == 1
    # realistic sf0.1 shape: ~3M candidates x ~200-wide arrays -> K=1
    assert _auto_verify_chunks(3_000_000, 200.0) == 1
    # the adversarial 30x leg: 77M candidates x ~1000-wide arrays
    # ~= 616 GB -> close to the 32 chunks that ran it on a 16g heap
    k = _auto_verify_chunks(77_000_000, 1000.0)
    assert 24 <= k <= 40, k
    # exact budget boundary never picks 0 chunks
    assert _auto_verify_chunks(_VERIFY_PAYLOAD_BUDGET // 8, 1.0) == 1


def test_pair_sets_serialized_regime_identical(spark, monkeypatch):
    """_pair_sets is count-adaptive: serialized blocks above
    _PAIR_DESER_MAX, deserialized below; both regimes must produce
    identical results."""
    from dbsync_spark.functions.dedup import minhash_near_dups

    docs = _corpus(spark, n_filler=25)
    want_sim = _rows(similarity_join(docs))
    want_mh = _rows(minhash_near_dups(docs))
    # force every candidate frame down the large/serialized path
    monkeypatch.setattr(dedup, "_PAIR_DESER_MAX", 0)
    assert _rows(similarity_join(docs)) == want_sim
    assert _rows(minhash_near_dups(docs)) == want_mh


def test_verify_threshold_rewrite_equals_direct_jaccard(spark):
    """jaccard_verify's pushed join condition is the rewrite
    (den+num)*I >= num*(la+lb) of den*I >= num*(la+lb-I) (one intersect
    per candidate). Property-check the algebra on random integer sets:
    survivors and their (n_inter, n_union) values must equal the direct
    Jaccard evaluation exactly."""
    from dbsync_spark.functions.dedup import (jaccard_verify,
                                              verify_candidates)

    rng = random.Random(7)
    docs = []
    for i in range(40):
        width = rng.randint(1, 30)
        docs.append((i, sorted(rng.sample(range(60), width))))
    sets = spark.createDataFrame(
        [(i, [int(x) for x in s]) for i, s in docs],
        "doc_id long, _sh array<int>")
    cand = spark.createDataFrame(
        [(a, b) for a in range(40) for b in range(a + 1, 40)],
        "doc_a long, doc_b long")
    num, den = 4, 5
    got = {(r["doc_a"], r["doc_b"]): (r["n_inter"], r["n_union"])
           for r in verify_candidates(cand, sets, "doc_id",
                                      jaccard_verify(num, den)).collect()}
    exp = {}
    by_id = dict(docs)
    for a in range(40):
        for b in range(a + 1, 40):
            inter = len(set(by_id[a]) & set(by_id[b]))
            union = len(set(by_id[a]) | set(by_id[b]))
            if den * inter >= num * union:
                exp[(a, b)] = (inter, union)
    assert got == exp


def test_auto_chunks_default_equals_explicit(spark, monkeypatch):
    """The verify's chunk count is derived from the measured candidates:
    the automatically chosen K gives the same output as a forced larger
    K."""
    docs = _corpus(spark, n_filler=25)
    for op, k in ((similarity_join, 4), (containment_join, 3)):
        monkeypatch.undo()  # default payload budget, fresh spy
        seen = chunk_spy(monkeypatch)
        auto = _rows(op(docs))
        assert auto and seen[-1][2] == 1
        split_budget(monkeypatch, seen, k=k)
        assert _rows(op(docs)) == auto
        assert seen[-1][2] >= k
