"""Streaming decontamination service (streaming/bloom_index.py):
stream == batch exactness, epoch replay idempotence, incremental
eval-set accumulation, and a real readStream drain."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbsync_spark.functions.sketch import decontaminate
from dbsync_spark.sources.tables import read_table
from dbsync_spark.streaming.bloom_index import StreamingBloomIndex


def _rows(df):
    return sorted((r["doc_id"], r["n_shingles"]) for r in df.collect())


@pytest.mark.slow
def test_stream_equals_batch(spark, sf_dir, tmp_path):
    docs = read_table(spark, sf_dir, "documents")
    test = docs.where(F.col("source") == "src19")
    train = docs.where(F.col("source") != "src19")

    idx = StreamingBloomIndex(spark, str(tmp_path / "bloom"), k=3)
    for epoch in range(3):
        idx.process_batch(test.where(F.col("doc_id") % 3 == epoch),
                          epoch_id=epoch)

    want = _rows(decontaminate(docs, F.col("source") == "src19", k=3))
    assert _rows(idx.flag(train)) == want
    assert want, "fixture must leave some clean docs"


@pytest.mark.slow
def test_epoch_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Replaying a non-latest epoch (the checkpointed-foreachBatch crash
    contract) rewrites exactly its own delta: state and flag output are
    unchanged."""
    docs = read_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 300)
    test = docs.where(F.col("source") == "src19")
    train = docs.where(F.col("source") != "src19")

    idx = StreamingBloomIndex(spark, str(tmp_path / "bloom"), k=3)
    for epoch in range(3):
        idx.process_batch(test.where(F.col("doc_id") % 3 == epoch),
                          epoch_id=epoch)
    before = _rows(idx.flag(train))
    n_hashes = idx._hashes_through(idx._epochs("shash")).count()

    idx.process_batch(test.where(F.col("doc_id") % 3 == 1), epoch_id=1)

    assert idx._hashes_through(idx._epochs("shash")).count() == n_hashes
    assert _rows(idx.flag(train)) == before


@pytest.mark.slow
def test_incremental_eval_sets_accumulate(spark, sf_dir, tmp_path):
    """New benchmarks arriving later only shrink the clean set, and the
    accumulated index equals the batch operator over the union of every
    eval split processed so far."""
    docs = read_table(spark, sf_dir, "documents")
    train = docs.where(~F.col("source").isin("src19", "src18"))

    idx = StreamingBloomIndex(spark, str(tmp_path / "bloom"), k=3)
    idx.process_batch(docs.where(F.col("source") == "src19"))
    clean1 = _rows(idx.flag(train))
    idx.process_batch(docs.where(F.col("source") == "src18"))
    clean2 = _rows(idx.flag(train))

    assert set(d for d, _ in clean2) <= set(d for d, _ in clean1)
    want = _rows(decontaminate(
        docs.where(F.col("source") != "src18").unionByName(
            docs.where(F.col("source") == "src18")),
        F.col("source").isin("src19", "src18"), k=3)
        .join(train.select("doc_id"), on="doc_id", how="semi"))
    assert clean2 == want


@pytest.mark.slow
def test_bloom_via_real_foreachbatch(spark, sf_dir, tmp_path):
    """The service on a real checkpointed readStream drain of the eval
    split equals the one-pass batch decontaminate."""
    docs = read_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 400)
    test = docs.where(F.col("source") == "src19")
    train = docs.where(F.col("source") != "src19")
    src = str(tmp_path / "evalsets")
    test.repartition(3).write.parquet(src)

    idx = StreamingBloomIndex(spark, str(tmp_path / "bloom"), k=3)
    stream = (spark.readStream.schema(test.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(idx.foreach_batch_handler())
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    want = _rows(decontaminate(docs, F.col("source") == "src19", k=3))
    assert _rows(idx.flag(train)) == want


@pytest.mark.slow
def test_flag_sound_when_bitmap_write_lost(spark, sf_dir, tmp_path):
    """Crash window between the shash and bitmap writes must NOT produce
    false-clean verdicts: an epoch whose bitmap is missing is excluded
    from the exact set (so its docs are simply not yet decontaminated
    against), and verdicts against the covered epochs stay exact."""
    import shutil

    docs = read_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 300)
    test = docs.where(F.col("source") == "src19")
    train = docs.where(F.col("source") != "src19")

    idx = StreamingBloomIndex(spark, str(tmp_path / "bloom"), k=3)
    idx.process_batch(test.where(F.col("doc_id") % 2 == 0), epoch_id=0)
    idx.process_batch(test.where(F.col("doc_id") % 2 == 1), epoch_id=1)
    # simulate the crash: epoch 1's bitmap write never landed
    shutil.rmtree(f"{tmp_path}/bloom/bitmap/epoch=1")

    got = _rows(idx.flag(train))
    # equals batch decontamination against ONLY the covered epoch's docs
    want = _rows(decontaminate(
        docs.where((F.col("source") != "src19")
                   | (F.col("doc_id") % 2 == 0)),
        F.col("source") == "src19", k=3))
    assert got == want

    # replaying the lost epoch restores the full verdict
    idx.process_batch(test.where(F.col("doc_id") % 2 == 1), epoch_id=1)
    full = _rows(decontaminate(docs, F.col("source") == "src19", k=3))
    assert _rows(idx.flag(train)) == full


@pytest.mark.slow
def test_crashed_epoch_causes_no_false_clean(spark, tmp_path):
    """Round-4 ADVICE: an epoch that persisted its shash delta but died
    before its bitmap write must not suppress a shared hash from a LATER
    committed epoch's delta — otherwise the hash sits in no covered
    exact set and no bitmap until the crash is replayed (a false-clean
    window for contamination present in a committed epoch)."""
    import shutil

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    idx = StreamingBloomIndex(spark, str(tmp_path / "bloom"), k=3)
    idx.process_batch(mk([(0, "zero zip zap zop")]), epoch_id=0)
    # crash: epoch 1's shash delta lands, its bitmap never does
    idx.process_batch(mk([(1, "alpha beta gamma")]), epoch_id=1)
    shutil.rmtree(str(tmp_path / "bloom" / "bitmap" / "epoch=1"))
    # epoch 2 commits fine and contains the SAME shingle
    idx.process_batch(mk([(2, "alpha beta gamma delta")]), epoch_id=2)

    train = mk([(100, "alpha beta gamma"),
                (101, "wholly unrelated clean words")])
    clean = {r["doc_id"] for r in idx.flag(train).collect()}
    assert clean == {101}, "epoch-2 contamination must flag doc 100"
    # replaying the crashed epoch changes nothing
    idx.process_batch(mk([(1, "alpha beta gamma")]), epoch_id=1)
    assert {r["doc_id"] for r in idx.flag(train).collect()} == {101}
