"""Miniature interleaved forget soak in CI (judge r9 item #8): all nine
forgetting index families run the same schedule the one-off soak
artifacts (FAMILY_FORGET_SOAK / SIMJOIN_FORGET_SOAK) exercise —

    ingest epoch 0 -> ingest epoch 1 -> forget contributing rows ->
    compact() (physical erasure) -> ingest epoch 2 -> query

— and the final queryable state must equal an index NEVER FED the
forgotten rows (same epoch batching of the survivors). This catches a
forget-semantics regression across epoch AND compaction boundaries the
day it lands, instead of at the next soak run.

Kept tiny on purpose (a dozen docs / a few hundred vectors per family)
so the whole module stays minutes-scale; the deep schedules (revival
through compaction, span demotion/restoration, nprobe sweeps) remain
the soak tools' job.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.slow  # nine families, minutes-scale


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


_BASE = ("spark table merge join filter scan window batch stream hash "
         "sort group row column value data query order part line key")


def _corpus(spark):
    rows = [(i, _BASE + f" extra{i % 4} tail{i % 2}") for i in range(12)]
    rows += [(20, "alpha beta gamma delta epsilon zeta eta theta"),
             (21, "alpha beta gamma delta epsilon zeta eta iota")]
    return spark.createDataFrame(rows, "doc_id long, text string")


_EPOCH_PRED = {0: lambda c: c % 3 == 0, 1: lambda c: c % 3 == 1,
               2: lambda c: c % 3 == 2}
_GONE = {0, 4, 20}  # every one contributes pairs/spans/postings


def _drive(spark, mk_index, query, docs, tmp_path, id_col="doc_id"):
    """Run the schedule on a full index and a never-fed rebuild; return
    (full_rows, rebuilt_rows) of the query over each."""
    gone = docs.where(F.col(id_col).isin(list(_GONE)))
    surv = docs.where(~F.col(id_col).isin(list(_GONE)))
    full = mk_index(str(tmp_path / "full"))
    for e in range(2):
        full.process_batch(docs.where(_EPOCH_PRED[e](F.col(id_col))),
                           epoch_id=e)
    full.forget(gone.select(id_col))
    full.compact()
    # post-forget ingest: forgotten ids are permanently retired, so the
    # continuing stream carries only unforgotten docs
    full.process_batch(surv.where(_EPOCH_PRED[2](F.col(id_col))),
                       epoch_id=2)

    rebuilt = mk_index(str(tmp_path / "rebuilt"))
    for e in range(3):
        rebuilt.process_batch(
            surv.where(_EPOCH_PRED[e](F.col(id_col))), epoch_id=e)
    return _rows(query(full)), _rows(query(rebuilt))


def test_mini_soak_search(spark, tmp_path):
    from dbsync_spark.streaming.search_index import ForgettingSearchIndex

    got, want = _drive(
        spark, lambda r: ForgettingSearchIndex(spark, r),
        lambda idx: idx.bm25(["spark", "merge", "alpha"], k=10),
        _corpus(spark), tmp_path)
    assert got == want and got


def test_mini_soak_dedup(spark, tmp_path):
    from dbsync_spark.streaming.dedup_index import ForgettingDedupIndex

    got, want = _drive(
        spark, lambda r: ForgettingDedupIndex(spark, r, threshold=0.5),
        lambda idx: idx.all_pairs(), _corpus(spark), tmp_path)
    assert got == want and got
    assert not {a for a, *_ in got} & _GONE


def test_mini_soak_bloom(spark, tmp_path):
    from dbsync_spark.streaming.bloom_index import ForgettingBloomIndex

    train = spark.createDataFrame(
        [(100, _BASE + " extra1 tail1"), (101, "alpha beta gamma delta"),
         (102, "totally novel words that match nothing at all")],
        "doc_id long, text string")
    got, want = _drive(
        spark, lambda r: ForgettingBloomIndex(spark, r, k=3),
        lambda idx: idx.flag(train), _corpus(spark), tmp_path)
    assert got == want and got


def test_mini_soak_dsir(spark, tmp_path):
    from dbsync_spark.streaming.dsir_index import ForgettingDsirIndex

    raw = spark.createDataFrame(
        [(200, _BASE), (201, "alpha beta gamma unrelated"),
         (202, "none of these words appear in the target at all")],
        "doc_id long, text string")
    got, want = _drive(
        spark, lambda r: ForgettingDsirIndex(spark, r),
        lambda idx: idx.score(raw), _corpus(spark), tmp_path)
    assert got == want and got


def test_mini_soak_cluster(spark, tmp_path):
    from dbsync_spark.streaming.cluster_index import ForgettingClusterIndex

    got, want = _drive(
        spark, lambda r: ForgettingClusterIndex(spark, r, threshold=0.5),
        lambda idx: idx.canonical(), _corpus(spark), tmp_path)
    assert got == want and got
    flat = {x for t in got for x in t}
    assert not flat & _GONE


def test_mini_soak_simjoin(spark, tmp_path):
    from dbsync_spark.streaming.simjoin_index import ForgettingSimJoinIndex

    got, want = _drive(
        spark,
        lambda r: ForgettingSimJoinIndex(spark, r, threshold_num=1,
                                         threshold_den=2),
        lambda idx: idx.all_pairs(), _corpus(spark), tmp_path)
    assert got == want and got
    assert not {a for a, *_ in got} & _GONE


def test_mini_soak_simhash(spark, tmp_path):
    from dbsync_spark.streaming.simhash_index import ForgettingSimhashIndex

    got, want = _drive(
        spark, lambda r: ForgettingSimhashIndex(spark, r),
        lambda idx: idx.pairs(), _corpus(spark), tmp_path)
    assert got == want and got
    assert not {a for a, *_ in got} & _GONE


def test_mini_soak_span(spark, tmp_path):
    from dbsync_spark.streaming.span_index import ForgettingSpanIndex

    got, want = _drive(
        spark, lambda r: ForgettingSpanIndex(spark, r),
        lambda idx: idx.current_spans(), _corpus(spark), tmp_path)
    assert got == want and got


def test_mini_soak_ivf(spark, sf_dir, tmp_path):
    from dbsync_spark.sources.tables import read_table
    from dbsync_spark.streaming.ann_index import ForgettingIvfIndex

    emb = read_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < 150)
    queries = emb.where(F.col("vec_id") % 40 == 0)
    gone = emb.where(F.col("vec_id") % 7 == 0)
    surv = emb.where(F.col("vec_id") % 7 != 0)

    full = ForgettingIvfIndex(spark, str(tmp_path / "full"), dim=64)
    full.fit(emb)
    for e in range(2):
        full.process_batch(emb.where(F.col("vec_id") % 3 == e), epoch_id=e)
    full.forget(gone.select("vec_id"))
    full.compact()
    full.process_batch(surv.where(F.col("vec_id") % 3 == 2), epoch_id=2)

    rebuilt = ForgettingIvfIndex(spark, str(tmp_path / "rb"), dim=64)
    rebuilt.fit(emb)  # same frozen routing table
    for e in range(3):
        rebuilt.process_batch(surv.where(F.col("vec_id") % 3 == e),
                              epoch_id=e)
    got = _rows(full.query(queries, k=5))
    assert got == _rows(rebuilt.query(queries, k=5)) and got
