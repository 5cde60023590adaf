"""DSIR importance resampling (functions/sampling.py): pure-python
reference parity for the integer-exact bucket model and doc scores, the
paper's float log-ratio path, surrogate-vs-log rank agreement, and the
deterministic Gumbel top-k resampler."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from dbsync_spark.functions import sampling as smp
from dbsync_spark.sources.tables import read_table
from tests.compare import assert_matches

TARGET_SRC = "src0"


def _h15(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _py_grams(text: str) -> list[str]:
    t = text.split(" ")
    return t + [f"{a} {b}" for a, b in zip(t, t[1:])]


def _py_buckets(text: str, n_buckets: int = smp.DSIR_BUCKETS) -> list[int]:
    return [_h15(g) % n_buckets for g in _py_grams(text)]


def _py_model(docs_pdf):
    """Independent reference: bucket counts and centered integer weights."""
    t_n: dict[int, int] = {}
    r_n: dict[int, int] = {}
    for _, row in docs_pdf.iterrows():
        cnt = t_n if row["source"] == TARGET_SRC else r_n
        for b in _py_buckets(row["text"]):
            cnt[b] = cnt.get(b, 0) + 1
    weights = {
        b: ((t_n.get(b, 0) + 1) * smp.DSIR_SCALE) // (r_n.get(b, 0) + 1)
        - smp.DSIR_SCALE
        for b in set(t_n) | set(r_n)
    }
    return t_n, r_n, weights


def _split(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    return (docs.where(F.col("source") == TARGET_SRC),
            docs.where(F.col("source") != TARGET_SRC), docs)


def test_dsir_queries_match_oracle(spark, sf_dir, duck):
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    for name in ("q_dsir_weights", "q_dsir_select"):
        assert_matches(qs[name](spark, sf_dir), duck, os_[name])


def test_gram_featurizer_edge_cases(spark):
    """Single-token and empty texts: no bigrams, and ''.split(' ') == ['']
    in both engines (the unigram '' still hashes)."""
    df = spark.createDataFrame(
        [(1, "solo"), (2, "a b"), (3, "")], "doc_id long, text string")
    got = (smp.hashed_gram_buckets(df).groupBy("doc_id")
           .agg(F.sort_array(F.collect_list("bucket")).alias("bs"))
           .orderBy("doc_id").collect())
    want = {1: sorted(_py_buckets("solo")),
            2: sorted(_py_buckets("a b")),
            3: sorted(_py_buckets(""))}
    assert {r["doc_id"]: r["bs"] for r in got} == want
    assert len(want[2]) == 3  # 'a', 'b', 'a b'
    assert len(want[1]) == 1  # no bigram from one token


def test_integer_model_matches_python_reference(spark, sf_dir):
    """Every bucket count and centered weight, exactly — an independent
    dict-counting implementation agrees bucket-for-bucket."""
    target, raw, docs = _split(spark, sf_dir)
    t_ref, r_ref, w_ref = _py_model(docs.toPandas())
    got = smp.dsir_bucket_weights(target, raw).toPandas()
    assert len(got) == len(w_ref)
    for row in got.itertuples(index=False):
        assert t_ref.get(row.bucket, 0) == row.t_n
        assert r_ref.get(row.bucket, 0) == row.r_n
        assert w_ref[row.bucket] == row.weight


def test_integer_scores_match_python_reference(spark, sf_dir):
    target, raw, docs = _split(spark, sf_dir)
    _, _, w_ref = _py_model(docs.toPandas())
    got = smp.dsir_score(
        raw, smp.dsir_bucket_weights(target, raw)).toPandas()
    raw_pdf = raw.select("doc_id", "text").toPandas()
    assert len(got) == len(raw_pdf)
    by_id = {r.doc_id: (r.n_grams, r.score)
             for r in got.itertuples(index=False)}
    for _, row in raw_pdf.iterrows():
        bs = _py_buckets(row["text"])
        want = sum(w_ref.get(b, 0) for b in bs)
        n, s = by_id[row["doc_id"]]
        assert n == len(bs)
        assert s == want


def test_log_weights_match_python_reference(spark, sf_dir):
    """The paper's smoothed log probability ratio, vs math.log."""
    target, raw, docs = _split(spark, sf_dir)
    t_ref, r_ref, _ = _py_model(docs.toPandas())
    t_tot, r_tot = sum(t_ref.values()), sum(r_ref.values())
    b_= float(smp.DSIR_BUCKETS)
    got = smp.dsir_log_weights(target, raw).toPandas()
    for row in got.itertuples(index=False):
        want = (math.log((t_ref.get(row.bucket, 0) + 1) / (t_tot + b_))
                - math.log((r_ref.get(row.bucket, 0) + 1) / (r_tot + b_)))
        assert abs(row.weight - want) <= 1e-9 * max(1.0, abs(want))


def test_surrogate_agrees_with_log_ranking(spark, sf_dir):
    """The centered integer ratio is the first-order surrogate of the log
    ratio: top-20 selections overlap >= 75% on the fixture (measured 90%
    at sf0.001, 95% at sf0.01)."""
    target, raw, _ = _split(spark, sf_dir)
    w_int = smp.dsir_bucket_weights(target, raw)
    w_log = smp.dsir_log_weights(target, raw).select("bucket", "weight")
    top_int = {r["doc_id"] for r in smp.dsir_select(raw, target, 20).collect()}
    s_log = smp.dsir_score(raw, w_log)
    top_log = {r["doc_id"]
               for r in s_log.orderBy(F.col("score").desc(), "doc_id")
               .limit(20).collect()}
    assert w_int.count() == w_log.count()
    assert len(top_int & top_log) >= 15


def test_streaming_dsir_equals_batch_and_matches_oracle(spark, sf_dir, duck):
    """Any batching of the same target docs -> identical model, weights,
    and selection (counts add associatively); the streamed query
    hash-matches the batch oracle; replaying an epoch is a no-op."""
    from dbsync_spark.streaming.dsir_index import StreamingDsirIndex
    from dbsync_spark.streaming.state import scratch_dir

    target, raw, _ = _split(spark, sf_dir)
    idx = StreamingDsirIndex(spark, scratch_dir(prefix="dbsync_dsir_t_"))
    for epoch in range(3):
        idx.process_batch(target.where(F.col("doc_id") % 3 == epoch),
                          epoch_id=epoch)
    got = idx.select(raw, 20).toPandas()
    want = smp.dsir_select(raw, target, 20).toPandas()
    assert got.values.tolist() == want.values.tolist()
    assert_matches(idx.select(raw, 20), duck,
                   entrymod.oracle_sql()["q_dsir_select"])

    # replay epoch 1: its delta is a pure function of batch 1 — state
    # and output unchanged
    idx.process_batch(target.where(F.col("doc_id") % 3 == 1), epoch_id=1)
    again = idx.select(raw, 20).toPandas()
    assert again.values.tolist() == want.values.tolist()


@pytest.mark.slow
def test_forgetting_dsir_index(spark, sf_dir):
    """forget(ids) == an index never fed those docs (physical rewrite of
    the count epochs); forgotten ids are permanently retired."""
    import pytest

    from dbsync_spark.streaming.dsir_index import ForgettingDsirIndex
    from dbsync_spark.streaming.state import scratch_dir

    target, raw, _ = _split(spark, sf_dir)
    drop = target.select("doc_id").limit(2)
    drop_ids = [r["doc_id"] for r in drop.collect()]

    full = ForgettingDsirIndex(spark, scratch_dir(prefix="dbsync_dsir_f_"))
    for epoch in range(2):
        full.process_batch(target.where(F.col("doc_id") % 2 == epoch),
                           epoch_id=epoch)
    full.forget(drop)

    clean = ForgettingDsirIndex(spark, scratch_dir(prefix="dbsync_dsir_c_"))
    kept = target.where(~F.col("doc_id").isin(drop_ids))
    for epoch in range(2):
        clean.process_batch(kept.where(F.col("doc_id") % 2 == epoch),
                            epoch_id=epoch)

    got = full.score(raw).toPandas().sort_values("doc_id")
    want = clean.score(raw).toPandas().sort_values("doc_id")
    assert got.values.tolist() == want.values.tolist()
    # model state itself rebuilt, not just masked at read time
    assert (full.target_counts().toPandas().sort_values("bucket")
            .values.tolist()
            == clean.target_counts().toPandas().sort_values("bucket")
            .values.tolist())

    with pytest.raises(ValueError, match="permanently"):
        full.process_batch(target.where(F.col("doc_id") == drop_ids[0]),
                           epoch_id=7)


def test_domain_tag_matches_oracle(spark, sf_dir, duck):
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    assert_matches(qs["q_dsir_domain_tag"](spark, sf_dir), duck,
                   os_["q_dsir_domain_tag"])


def test_domain_tag_planted_vocabularies(spark):
    """Domains with distinctive vocabularies classify correctly: docs
    built from each domain's own word pool tag as that domain, and a
    fresh unseen doc mixing mostly-A words tags as A."""
    rows = []
    vocab = {"news": ["election", "senate", "poll", "vote"],
             "code": ["def", "return", "lambda", "class"],
             "bio": ["protein", "genome", "cell", "enzyme"]}
    did = 0
    for dom, words in vocab.items():
        for i in range(4):
            text = " ".join(words[(i + j) % 4] for j in range(8))
            rows.append((did, dom, text))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    w = smp.dsir_domain_weights(docs, "source")
    tags = {r["doc_id"]: r["tagged_domain"]
            for r in smp.dsir_domain_tag(docs, w).collect()}
    for doc_id, dom, _ in rows:
        assert tags[doc_id] == dom, (doc_id, dom, tags[doc_id])

    unseen = spark.createDataFrame(
        [(99, "election senate vote enzyme")], "doc_id long, text string")
    got = smp.dsir_domain_tag(unseen, w).collect()
    assert got[0]["tagged_domain"] == "news"


def test_gumbel_topk_deterministic_and_matches_reference(spark, sf_dir):
    """Hash-derived Gumbel noise: the resample is a pure function of the
    ids (two runs identical) and matches the pure-python key ranking."""
    target, raw, _ = _split(spark, sf_dir)
    scored = smp.dsir_score(raw, smp.dsir_bucket_weights(target, raw))
    pick1 = smp.gumbel_topk(scored, 10, temperature=1e6).toPandas()
    pick2 = smp.gumbel_topk(scored, 10, temperature=1e6).toPandas()
    assert pick1["doc_id"].tolist() == pick2["doc_id"].tolist()

    ref = []
    for r in scored.collect():
        u = (_h15(str(r["doc_id"])) % smp.SAMPLE_MOD + 0.5) / smp.SAMPLE_MOD
        ref.append((r["score"] / 1e6 - math.log(-math.log(u)), -r["doc_id"]))
    want = [-d for _, d in sorted(ref, reverse=True)[:10]]
    assert pick1["doc_id"].tolist() == want
