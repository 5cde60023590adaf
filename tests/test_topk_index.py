"""StreamingTopkIndex: mergeable Misra-Gries guarantees, replay
idempotence, and batching robustness."""

from __future__ import annotations

import tempfile
from collections import Counter

import pytest
from pyspark.sql import functions as F


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _true_counts(rows) -> Counter:
    c = Counter()
    for _, text in rows:
        for t in text.split(" "):
            if t:
                c[t] += 1
    return c


def _check_invariants(idx, rows, capacity):
    true = _true_counts(rows)
    total = sum(true.values())
    got = {r["tok"]: r for r in idx.summary().collect()}
    errs = {r["err"] for r in got.values()}
    totals = {r["total_n"] for r in got.values()}
    assert totals == {total}
    err = errs.pop() if errs else 0
    # MG error bound
    assert err <= total // (capacity + 1)
    # every summarized token: nhat <= true <= nhat + err
    for tok, r in got.items():
        assert r["nhat"] <= true[tok] <= r["nhat"] + err, tok
    # every absent token: true <= err  (the superset guarantee)
    for tok, n in true.items():
        if tok not in got:
            assert n <= err, (tok, n, err)
    # heavy tokens are ALWAYS present
    for tok, n in true.items():
        if n > total // (capacity + 1):
            assert tok in got, tok
    return got


def test_superset_guarantee_and_bounds(spark):
    """A skewed stream in 4 batches: the planted heavy tokens survive
    compression and all MG bounds hold."""
    rows = []
    doc = 0
    hot = " ".join(["hot"] * 20)  # ~160/530 total >> total/(capacity+1)
    for b in range(4):
        body = " ".join(f"w{b}_{i % 17}" for i in range(40))
        rows.append((doc, f"{hot} warm {body}")); doc += 1
        rows.append((doc, f"{hot} warm {body}")); doc += 1

    from dbsync_spark.streaming.topk_index import StreamingTopkIndex

    idx = StreamingTopkIndex(
        spark, tempfile.mkdtemp(prefix="dbsync_topk_t_"), capacity=6)
    for e in range(4):
        idx.process_batch(_mk(spark, rows[2 * e:2 * e + 2]), epoch_id=e)
    got = _check_invariants(idx, rows, capacity=6)
    assert "hot" in got
    # ranking surfaces the heavy token first
    top = idx.top(1).collect()
    assert top[0]["tok"] == "hot"


def test_replay_is_idempotent(spark):
    """Re-running a failed epoch recomputes from its predecessor: state
    after the replay equals state after the first run (no double
    counting) — the cumulative-state foreachBatch contract."""
    rows = [(i, "a a b c d e f g h" + (" a" if i % 2 else "")) for i in range(6)]

    from dbsync_spark.streaming.topk_index import StreamingTopkIndex

    idx = StreamingTopkIndex(
        spark, tempfile.mkdtemp(prefix="dbsync_topk_r_"), capacity=4)
    idx.process_batch(_mk(spark, rows[:3]), epoch_id=0)
    idx.process_batch(_mk(spark, rows[3:]), epoch_id=1)
    first = sorted(map(tuple, idx.summary().collect()))
    # replay epoch 1 (same batch): must read epoch 0, not itself
    idx.process_batch(_mk(spark, rows[3:]), epoch_id=1)
    assert sorted(map(tuple, idx.summary().collect())) == first


@pytest.mark.slow
def test_arbitrary_batchings_keep_guarantees(spark):
    """Different batchings yield different summaries (MG merge is
    order-dependent) but every batching satisfies the same bounds."""
    import random

    rng = random.Random(11)
    vocab = [f"t{i}" for i in range(30)]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(25))
             + " pop pop pop pop pop")
            for i in range(12)]

    from dbsync_spark.streaming.topk_index import StreamingTopkIndex

    for splits in ([4, 4, 4], [1, 11], [12], [2, 3, 3, 4]):
        idx = StreamingTopkIndex(
            spark, tempfile.mkdtemp(prefix="dbsync_topk_b_"), capacity=8)
        at = 0
        for e, width in enumerate(splits):
            idx.process_batch(_mk(spark, rows[at:at + width]), epoch_id=e)
            at += width
        got = _check_invariants(idx, rows, capacity=8)
        assert "pop" in got, splits


def test_empty_and_first_batch_edges(spark):
    """Summary before any batch is empty; an empty batch is a no-op on
    counts; capacity=1 degenerates to majority-candidate tracking."""
    from dbsync_spark.streaming.topk_index import StreamingTopkIndex

    idx = StreamingTopkIndex(
        spark, tempfile.mkdtemp(prefix="dbsync_topk_e_"), capacity=1)
    assert idx.summary().count() == 0
    idx.process_batch(_mk(spark, [(1, "x x y")]), epoch_id=0)
    idx.process_batch(_mk(spark, []), epoch_id=1)
    got = {r["tok"]: r for r in idx.summary().collect()}
    # majority element x survives with nhat >= 1
    assert set(got) == {"x"} and got["x"]["nhat"] >= 1
    assert got["x"]["total_n"] == 3


# ---------------------------------------------------------------------------
# StreamingDistinctIndex (HLL sketch state)
# ---------------------------------------------------------------------------


def test_streaming_hll_equals_batch_exactly(spark, sf_dir):
    """HLL union is register-wise max (associative, commutative,
    idempotent), so the streamed estimate must EQUAL the one-shot batch
    estimate — exact equality across batchings and replays, not a
    tolerance band."""
    from dbsync_spark.sources.tables import read_table
    from dbsync_spark.streaming.distinct_index import StreamingDistinctIndex

    events = read_table(spark, sf_dir, "events")
    batch = (events.select(F.date_trunc("day", "ts").alias("bucket"), "user_id")
             .groupBy("bucket")
             .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("s"))
             .select("bucket", F.hll_sketch_estimate("s").alias("n_distinct")))
    want = sorted(map(tuple, batch.collect()))

    for splits in (3, 5):
        idx = StreamingDistinctIndex(
            spark, tempfile.mkdtemp(prefix="dbsync_hllidx_"))
        for e in range(splits):
            idx.process_batch(events.where(F.col("event_id") % splits == e),
                              epoch_id=e)
        # replay the last epoch: idempotent by max-merge + state discipline
        idx.process_batch(events.where(
            F.col("event_id") % splits == splits - 1), epoch_id=splits - 1)
        got = sorted(map(tuple, idx.estimates().collect()))
        assert got == want, splits


def test_streaming_hll_accuracy(spark, sf_dir):
    """The streamed estimate is within HLL's rsd of the exact distinct
    count per day (lg_k=12 -> ~1.6% rsd; allow 5%)."""
    from dbsync_spark.sources.tables import read_table
    from dbsync_spark.streaming.distinct_index import StreamingDistinctIndex

    events = read_table(spark, sf_dir, "events")
    exact = {r["bucket"]: r["n"] for r in events.select(
        F.date_trunc("day", "ts").alias("bucket"), "user_id")
        .groupBy("bucket").agg(F.count_distinct("user_id").alias("n"))
        .collect()}
    idx = StreamingDistinctIndex(
        spark, tempfile.mkdtemp(prefix="dbsync_hllacc_"))
    for e in range(4):
        idx.process_batch(events.where(F.col("event_id") % 4 == e),
                          epoch_id=e)
    got = {r["bucket"]: r["n_distinct"] for r in idx.estimates().collect()}
    assert set(got) == set(exact)
    for b, n in exact.items():
        assert abs(got[b] - n) <= max(2, 0.05 * n), (b, got[b], n)


def test_topk_via_real_foreachbatch(spark, tmp_path):
    """The heavy-hitters service wired to a real readStream/foreachBatch
    drain: checkpointed epoch ids drive the cumulative state and the
    final summary satisfies every MG bound against the full corpus."""
    rows = [(i, "hot hot hot " + " ".join(f"v{i}_{j}" for j in range(8)))
            for i in range(8)]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "src")
    corpus.repartition(4).write.parquet(src)

    from dbsync_spark.streaming.topk_index import StreamingTopkIndex

    idx = StreamingTopkIndex(spark, str(tmp_path / "topk"), capacity=5)
    stream = (spark.readStream.schema(corpus.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(idx.foreach_batch_handler())
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = _check_invariants(idx, rows, capacity=5)
    assert "hot" in got
    assert idx.top(1).collect()[0]["tok"] == "hot"


def test_hll_via_real_foreachbatch(spark, sf_dir, tmp_path):
    """The distinct-count service on a real stream equals the one-shot
    batch sketch exactly."""
    from dbsync_spark.sources.tables import read_table
    from dbsync_spark.streaming.distinct_index import StreamingDistinctIndex

    events = read_table(spark, sf_dir, "events")
    src = str(tmp_path / "ev")
    events.repartition(3).write.parquet(src)

    idx = StreamingDistinctIndex(spark, str(tmp_path / "hll"))
    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(idx.foreach_batch_handler())
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    batch = (events.select(F.date_trunc("day", "ts").alias("bucket"), "user_id")
             .groupBy("bucket")
             .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("s"))
             .select("bucket", F.hll_sketch_estimate("s").alias("n_distinct")))
    assert sorted(map(tuple, idx.estimates().collect())) \
        == sorted(map(tuple, batch.collect()))


# ---------------------------------------------------------------------------
# StreamingTrendingIndex (per-window MG state)
# ---------------------------------------------------------------------------


def _mk_ts(spark, rows):
    return spark.createDataFrame(rows, "ts timestamp, text string")


def test_trending_per_bucket_bounds_and_isolation(spark):
    """Each day keeps its own bounded summary with its own MG bounds; a
    hot day's compression never decrements a quiet day's counts."""
    import datetime as dt

    d1 = dt.datetime(2024, 1, 1, 10)
    d2 = dt.datetime(2024, 1, 2, 10)
    # day 1: heavy 'alpha' over a wide vocab (forces compression)
    day1 = [(d1, "alpha alpha alpha " + " ".join(f"x{i}_{j}" for j in range(9)))
            for i in range(6)]
    # day 2: tiny vocab, fits capacity (no compression -> exact counts)
    day2 = [(d2, "beta beta gamma")]

    from dbsync_spark.streaming.topk_index import StreamingTrendingIndex

    idx = StreamingTrendingIndex(
        spark, tempfile.mkdtemp(prefix="dbsync_trend_"), capacity=5)
    idx.process_batch(_mk_ts(spark, day1[:3] + day2), epoch_id=0)
    idx.process_batch(_mk_ts(spark, day1[3:]), epoch_id=1)

    rows = idx.trending(k=5).collect()
    by_day = {}
    for r in rows:
        by_day.setdefault(r["bucket"].day, {})[r["tok"]] = r

    # day 2 never compressed: exact counts, zero error
    assert by_day[2]["beta"]["nhat"] == 2
    assert by_day[2]["gamma"]["nhat"] == 1
    assert by_day[2]["beta"]["err"] == 0
    assert by_day[2]["beta"]["total_n"] == 3

    # day 1: 'alpha' (18 of 72 tokens > 72/6) must survive as rank 1
    assert by_day[1]["alpha"]["rank"] == 1
    r1 = next(iter(by_day[1].values()))
    assert r1["total_n"] == 72
    assert r1["err"] <= 72 // 6
    true_alpha = 18
    assert by_day[1]["alpha"]["nhat"] <= true_alpha \
        <= by_day[1]["alpha"]["nhat"] + r1["err"]


def test_trending_pre_tokenized_keeps_spaced_values_whole(spark):
    """pre_tokenized=True counts the column value verbatim — a
    categorical containing a space is ONE token, matching a
    `col AS tok` oracle regardless of fixture data shape (ADVICE r3)."""
    import datetime as dt

    from dbsync_spark.streaming.topk_index import StreamingTrendingIndex

    t = dt.datetime(2024, 6, 1, 9)
    rows = [(t, "add to cart"), (t, "add to cart"), (t, "checkout")]
    idx = StreamingTrendingIndex(
        spark, tempfile.mkdtemp(prefix="dbsync_trend_pt_"), capacity=5)
    idx.process_batch(_mk_ts(spark, rows), epoch_id=0, pre_tokenized=True)
    got = {r["tok"]: r["nhat"] for r in idx.trending(k=5).collect()}
    assert got == {"add to cart": 2, "checkout": 1}

    # default tokenized mode would have split it — the two modes differ
    idx2 = StreamingTrendingIndex(
        spark, tempfile.mkdtemp(prefix="dbsync_trend_pt2_"), capacity=5)
    idx2.process_batch(_mk_ts(spark, rows), epoch_id=0)
    got2 = {r["tok"]: r["nhat"] for r in idx2.trending(k=5).collect()}
    assert got2 == {"add": 2, "to": 2, "cart": 2, "checkout": 1}


def test_trending_replay_idempotent(spark):
    import datetime as dt

    t = dt.datetime(2024, 3, 5, 8)
    rows = [(t, "a a b c d e f"), (t, "a b b c g h i")]

    from dbsync_spark.streaming.topk_index import StreamingTrendingIndex

    idx = StreamingTrendingIndex(
        spark, tempfile.mkdtemp(prefix="dbsync_trend_r_"), capacity=4)
    idx.process_batch(_mk_ts(spark, rows[:1]), epoch_id=0)
    idx.process_batch(_mk_ts(spark, rows[1:]), epoch_id=1)
    first = sorted(map(tuple, idx.trending(k=4).collect()))
    idx.process_batch(_mk_ts(spark, rows[1:]), epoch_id=1)  # replay
    assert sorted(map(tuple, idx.trending(k=4).collect())) == first


# ---------------------------------------------------------------------------
# StreamingCmsIndex (Count-Min counter-matrix state)
# ---------------------------------------------------------------------------


def test_cms_overestimates_only_and_small_error(spark, sf_dir):
    """CMS guarantee: est >= true for EVERY key (deterministic, not
    probabilistic), and the mean overestimate is far below eps * N."""
    from dbsync_spark.functions import sketch as sk
    from dbsync_spark.sources.tables import read_table

    ev = read_table(spark, sf_dir, "events").select("user_id")
    sketch = sk.count_min_build(ev, "user_id")
    keys = ev.groupBy("user_id").agg(F.count("*").alias("true_n"))
    est = sk.count_min_estimate(sketch, keys.select("user_id"), "user_id")
    rows = keys.join(est, on="user_id").collect()
    n_total = sum(r["true_n"] for r in rows)
    assert all(r["est_n"] >= r["true_n"] for r in rows)
    errs = [r["est_n"] - r["true_n"] for r in rows]
    # eps = e/width; the MEAN error is far inside the per-key bound
    assert sum(errs) / len(errs) <= 2.72 / sk.CMS_WIDTH * n_total / 4


def test_cms_unseen_key_bounded_and_empty_sketch(spark):
    """A never-inserted key estimates its collision mass only (possibly
    0); an empty sketch estimates 0 for everything."""
    from dbsync_spark.functions import sketch as sk

    df = spark.createDataFrame([("a",)] * 7 + [("b",)] * 3, "k string")
    sketch = sk.count_min_build(df, "k")
    probe = spark.createDataFrame([("a",), ("zzz",)], "k string")
    got = {r["k"]: r["est_n"] for r in
           sk.count_min_estimate(sketch, probe, "k").collect()}
    assert got["a"] >= 7
    assert got["zzz"] <= 10  # at worst full collision with everything
    empty = sk.count_min_build(df.where("k = 'nope'"), "k")
    got0 = {r["k"]: r["est_n"] for r in
            sk.count_min_estimate(empty, probe, "k").collect()}
    assert got0 == {"a": 0, "zzz": 0}


def test_streaming_cms_equals_batch_exactly(spark, sf_dir):
    """Counter cells are plain sums (associative + commutative), so the
    streamed matrix equals the one-pass batch matrix EXACTLY for any
    batching; replaying an epoch is idempotent by the cumulative
    epoch-overwrite discipline."""
    from dbsync_spark.functions import sketch as sk
    from dbsync_spark.sources.tables import read_table
    from dbsync_spark.streaming.cms_index import StreamingCmsIndex

    ev = read_table(spark, sf_dir, "events").select("user_id", "event_id")
    keys = ev.select("user_id").distinct()
    batch_est = sorted(map(tuple, sk.count_min_estimate(
        sk.count_min_build(ev, "user_id"), keys, "user_id").collect()))

    for splits in (2, 4):
        idx = StreamingCmsIndex(
            spark, tempfile.mkdtemp(prefix="dbsync_cmsidx_"),
            key_col="user_id")
        for e in range(splits):
            idx.process_batch(ev.where(F.col("event_id") % splits == e),
                              epoch_id=e)
        # replay last epoch: must not double-count
        idx.process_batch(ev.where(F.col("event_id") % splits == splits - 1),
                          epoch_id=splits - 1)
        got = sorted(map(tuple, idx.estimates(keys).collect()))
        assert got == batch_est, splits


def test_cms_via_real_foreachbatch(spark, sf_dir, tmp_path):
    """The CMS service on a real checkpointed readStream equals the
    one-shot batch sketch exactly."""
    from dbsync_spark.functions import sketch as sk
    from dbsync_spark.sources.tables import read_table
    from dbsync_spark.streaming.cms_index import StreamingCmsIndex

    ev = read_table(spark, sf_dir, "events").select("user_id", "event_id")
    src = str(tmp_path / "ev")
    ev.repartition(3).write.parquet(src)

    idx = StreamingCmsIndex(spark, str(tmp_path / "cms"), key_col="user_id")
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(idx.foreach_batch_handler())
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    keys = ev.select("user_id").distinct()
    want = sorted(map(tuple, sk.count_min_estimate(
        sk.count_min_build(ev, "user_id"), keys, "user_id").collect()))
    assert sorted(map(tuple, idx.estimates(keys).collect())) == want
