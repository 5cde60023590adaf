"""Streaming decontamination service: a Bloom-prefiltered held-out-set
index maintained across micro-batches.

The batch operator (functions/sketch.py::decontaminate) builds the test
split's shingle Bloom in one pass; this module maintains it as a
SERVICE: benchmark/test documents arrive in micro-batches (new eval sets
get registered over time), each batch appends its novel shingle hashes
and ORs its bits into the persisted bitmap, and `flag(train_df)` scores
a training corpus against the accumulated held-out set at any point.

Why stream == batch is EXACT: the bitmap is a bitwise OR of per-shingle
bit patterns — associative, commutative, AND idempotent — and the exact
hash set is a plain set union, so any batching of the same test docs
yields the identical (bitmap, hash set) state, and `flag` output equals
the one-pass batch decontaminate. OR's idempotence also makes bitmap
replay trivially safe; the hash-set deltas use the epoch-scoped
append-only discipline (epoch N persists only hashes unseen in state
< N, so a replayed epoch rewrites exactly its own delta).

Storage layout:
- <root>/shash/epoch=N  : (shash) — NEW distinct test shingle hashes
  first seen in epoch N (union over epochs = the exact set)
- <root>/bitmap/epoch=N : (bm binary) 1 row — cumulative Bloom bitmap
  after epoch N (latest wins; epoch N reads only state < N)

Per-document removal: the base state is deliberately doc-AGNOSTIC (a
hash set + a bitmap — shared shingles have no owner), so the base class
cannot forget in place; ForgettingBloomIndex below persists the per-doc
attribution rows as well and rebuilds the hash epochs + bitmaps from the
surviving docs on forget — the rebuild counterpart of the tombstone
forgetting in search_index.ForgettingSearchIndex /
dedup_index.ForgettingDedupIndex.

Scale: per batch, shingling is row-local and the anti-join touches only
the batch's hashes; the bitmap is a fixed m/8 bytes (128 KB at the
default 2^20 bits) no matter how many eval sets accumulate. Scoring a
100 TB train corpus broadcasts that bitmap, prefilters train shingles
vectorized, and exact-verifies only the flagged residue — the same
two-phase topology as the batch operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from dbsync_spark.functions.sketch import (_build_bloom, bloom_flag_clean,
                                           shingle_hash_rows)
from dbsync_spark.streaming.state import (EpochState, Tombstones,
                                          recover_compaction)

_SHASH_SCHEMA = StructType([StructField("shash", LongType())])
_BITMAP_SCHEMA = StructType([StructField("bm", BinaryType())])


class StreamingBloomIndex(EpochState):
    """Incremental held-out-set index over parquet state dirs. Call
    `process_batch` with each batch of test/eval documents (directly or
    via `foreach_batch_handler()`), then `flag` training corpora."""

    def __init__(self, spark: SparkSession, root: str, k: int = 3,
                 bloom_bits: int = 1 << 20, text_col: str = "text",
                 id_col: str = "doc_id"):
        super().__init__(spark, root)
        self.k = k
        self.m = bloom_bits
        self.text_col = text_col
        self.id_col = id_col

    def _hashes_through(self, epochs: list[int]) -> DataFrame:
        return self._read_epochs("shash", _SHASH_SCHEMA, epochs)

    def _bitmap(self, epoch: int | None) -> bytes:
        row = (None if epoch is None else
               self._read_epochs("bitmap", _BITMAP_SCHEMA, [epoch]).first())
        return bytes(row["bm"]) if row is not None else bytes(self.m // 8)

    def _or_bitmaps(self, epochs: list[int]):
        """OR of the bitmap epochs (every epoch's own delta bits)."""
        import numpy as np

        acc = np.zeros(self.m // 8, dtype=np.uint8)
        for e in epochs:
            acc |= np.frombuffer(self._bitmap(e), dtype=np.uint8)
        return acc

    def _write_bitmap(self, bm, epoch: int) -> None:
        self._write_epoch(self.spark.createDataFrame(
            [(bytearray(bytes(bm)),)], _BITMAP_SCHEMA).coalesce(1),
            "bitmap", epoch)

    def process_batch(self, test_docs: DataFrame,
                      epoch_id: int | None = None) -> None:
        """Fold one micro-batch of held-out documents into the index."""
        import numpy as np

        if epoch_id is None:
            epoch_id = self._next_epoch("shash")
        # Anti-join only against COVERED earlier epochs (shash epochs whose
        # bitmap write also landed). A crashed epoch (shash persisted,
        # bitmap not) is excluded by flag()'s soundness guard — if its
        # hashes were allowed to suppress a later epoch's delta, a hash
        # present in a successfully committed epoch would sit in no covered
        # exact set and no bitmap until the crash was replayed: a
        # false-clean window. Re-listing the hash in the later delta is
        # harmless (flag's verify is a semi-join; the bitmap OR is
        # idempotent).
        bm = set(self._epochs("bitmap"))
        before = [e for e in self._epochs("shash")
                  if e < epoch_id and e in bm]

        sh = shingle_hash_rows(test_docs, text_col=self.text_col,
                               id_col=self.id_col, k=self.k
                               ).select("shash").distinct()
        delta = sh.join(self._hashes_through(before), on="shash",
                        how="anti")
        # a batch's novel-hash delta is small relative to the corpus —
        # one file per epoch keeps the union read O(n_epochs) files
        self._write_epoch(delta.coalesce(1), "shash", epoch_id)

        prev_eps = [e for e in self._epochs("bitmap") if e < epoch_id]
        prev = np.frombuffer(
            self._bitmap(prev_eps[-1] if prev_eps else None),
            dtype=np.uint8)
        batch_bm = np.frombuffer(
            _build_bloom(self._hashes_through([epoch_id]), self.m),
            dtype=np.uint8)
        self._write_bitmap(prev | batch_bm, epoch_id)

    def _covered(self) -> tuple[list[int], list[int]]:
        """(shash epochs whose bitmap landed, bitmap epochs)."""
        bm_eps = self._epochs("bitmap")
        return [e for e in self._epochs("shash") if e in bm_eps], bm_eps

    def compact(self) -> None:
        """OPTIMIZE-style maintenance (this index especially: flag()
        lists and unions EVERY epoch per call). Merges the covered shash
        epochs into one epoch dir (their union IS the exact set) and the
        bitmap epochs into one OR-of-all row, via the shared crash-safe
        staged swap.

        Order matters for the false-clean guarantee: shash compacts
        FIRST. With shash=[max] and bitmaps still per-epoch, covered =
        [max] and that one epoch holds the FULL union — sound. The
        reverse order would leave a window where only the newest delta
        is in the exact set while every bit is in the bitmap: a doc
        matching an older epoch's shingle would Bloom-flag but exact-
        verify clean — exactly the false-clean hole the covered-epoch
        anti-join closed. A crashed (uncovered) shash epoch is left in
        place, still excluded by flag() until its bitmap lands."""
        for sub in ("shash", "bitmap"):
            recover_compaction(self.root, sub)
        covered, bm_eps = self._covered()
        self._compact_sub(
            "shash", lambda: self._hashes_through(covered).distinct(),
            covered)
        self._compact_sub("bitmap", lambda: self.spark.createDataFrame(
            [(bytearray(bytes(self._or_bitmaps(bm_eps))),)],
            _BITMAP_SCHEMA), bm_eps)

    def flag(self, train_df: DataFrame) -> DataFrame:
        """(id, n_shingles) for train docs sharing NO shingle with the
        accumulated held-out set — equals the batch decontaminate over
        the union of every processed test batch.

        Soundness guard (no false-clean window): the exact hash set is
        restricted to epochs whose BITMAP write also landed, and the
        bitmap used is the OR of every persisted bitmap epoch. Each
        bitmap epoch contains its own delta's bits, so every hash in the
        used exact set is covered — even if process_batch crashed
        between the shash and bitmap writes (that epoch's hashes are
        excluded until replay) or epochs were processed out of order
        (a later-written earlier epoch's bits OR in regardless of which
        epoch is 'latest')."""
        covered, bm_eps = self._covered()
        train_sh = shingle_hash_rows(train_df, text_col=self.text_col,
                                     id_col=self.id_col, k=self.k)
        return bloom_flag_clean(train_sh, self._hashes_through(covered),
                                bytes(self._or_bitmaps(bm_eps)), self.m,
                                id_col=self.id_col)


_DOCHASH_SCHEMA = StructType([StructField("doc_id", LongType()),
                              StructField("shash", LongType())])


class ForgettingBloomIndex(Tombstones, StreamingBloomIndex):
    """StreamingBloomIndex with eval-document removal (completing the
    right-to-be-forgotten story across all three persisted index
    families — search, dedup, decontamination).

    The base class's queryable state is deliberately doc-AGNOSTIC (a
    hash set + a bitmap — a shared shingle has no owner), so it cannot
    forget in place. This subclass additionally persists the per-doc
    attribution rows the base class already computes and discards —
    (doc_id, shash) — and `forget(doc_ids)` REBUILDS the hash-set epochs
    and cumulative bitmaps from the surviving attribution: a hash
    disappears only when NO surviving eval doc carries it (shared
    shingles stay), so post-forget `flag` output equals an index rebuilt
    without the forgotten documents — pinned in tests/test_forget.py.
    Unlike the tombstone indexes this is a physical rewrite, which also
    satisfies storage-level erasure for the forgotten docs' hashes.

    Storage additions:
    - <root>/dochash/epoch=N : (doc_id, shash) attribution for epoch N
    - <root>/forgets/epoch=N : (doc_id) tombstones

    Forgotten ids are permanently retired (same contract as the other
    forgetting indexes): re-ingest raises. Replaying `forget` rewrites
    identical tombstones and re-runs the deterministic rebuild."""

    _ERASED = "dochash"

    def process_batch(self, test_docs: DataFrame,
                      epoch_id: int | None = None) -> None:
        if epoch_id is None:
            epoch_id = self._next_epoch("shash")
        self._reject_retired(test_docs)
        self._write_epoch(
            shingle_hash_rows(test_docs, text_col=self.text_col,
                              id_col=self.id_col, k=self.k)
            .select(F.col(self.id_col).cast("long").alias("doc_id"),
                    "shash").coalesce(1), "dochash", epoch_id)
        super().process_batch(test_docs, epoch_id)

    def compact(self) -> None:
        """Base compaction plus the attribution/tombstone subs: dochash
        compacts to the union of SURVIVING (doc_id, shash) rows — the
        physical-erasure counterpart for the attribution store, which
        forget()'s rebuild erases from shash/bitmap — and forgets to one
        distinct tombstone epoch. A post-compaction forget() then
        rebuilds from the single dochash epoch, overwriting the single
        shash/bitmap epoch: the same fixed point as
        rebuild-then-compact."""
        super().compact()
        self._compact_subs({
            "dochash": lambda: self._hide(
                self._read_epochs("dochash", _DOCHASH_SCHEMA))})
        self._compact_sub("forgets", lambda: self._forgotten().distinct())

    def forget(self, doc_ids: DataFrame, epoch_id: int | None = None
               ) -> None:
        """Tombstone a frame of (doc_id) rows, then physically rebuild
        every shash epoch and bitmap from the surviving attribution."""
        self._write_forgets(doc_ids, epoch_id)
        self._rebuild()

    def _rebuild(self) -> None:
        """Rewrite shash/bitmap epochs from surviving (doc_id, shash)
        rows, preserving the epoch structure (epoch e keeps the surviving
        hashes FIRST seen at e; attribution of a shared hash to the
        earliest surviving epoch is irrelevant to flag(), which unions
        covered epochs). Per epoch: one anti-join against the rebuilt
        prefix + one bounded m/8-byte bitmap OR — the same work shape as
        process_batch, run E times."""
        import numpy as np

        acc = np.zeros(self.m // 8, dtype=np.uint8)
        rebuilt: list[int] = []
        for e in self._epochs("dochash"):
            delta = (self._hide(self._read_epochs("dochash",
                                                  _DOCHASH_SCHEMA, [e]))
                     .select("shash").distinct())
            if rebuilt:
                delta = delta.join(self._hashes_through(rebuilt),
                                   on="shash", how="anti")
            self._write_epoch(delta.coalesce(1), "shash", e)
            rebuilt.append(e)
            acc |= np.frombuffer(
                _build_bloom(self._hashes_through([e]), self.m),
                dtype=np.uint8)
            self._write_bitmap(acc, e)
