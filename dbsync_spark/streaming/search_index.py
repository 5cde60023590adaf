"""Streaming full-text search service: an incrementally maintained
positional inverted index with corpus statistics.

The batch operators (functions/text.py::bm25_topk / phrase_search) scan
the corpus per query; this module maintains the index as a SERVICE:
documents arrive in micro-batches, each batch appends its positional
posting rows and per-doc length stats, and BM25 / phrase queries run
against the accumulated state at any point — the index-at-rest shape a
production search layer keeps, rather than a corpus re-scan per query.

Why stream == batch is EXACT: batches carry disjoint documents (the CDC
id contract shared with the LSH dedup index), so posting rows and doc
stats are plain set unions over epochs; tf/df/dl/N/S derived from the
union are identical for any batching, and the scoring core
(bm25_score_pairs) is the very same quantized-integer arithmetic as the
batch ranker — so the streamed BM25 and phrase queries hash-match the
SAME DuckDB oracles as their batch counterparts.

Storage layout (append-only, epoch-scoped for replay idempotence):
- <root>/postings/epoch=N : (doc_id, pos, term) for epoch-N docs
- <root>/docstats/epoch=N : (doc_id, dl)

Scale: postings at rest would be bucketed by term (queries touch only
the queried terms' buckets) and doc stats by doc_id; a phrase or BM25
query reads |query terms| posting lists, never the corpus. Positions
are 1-based; phrase intersection joins on (doc_id, pos - i).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (IntegerType, LongType, StringType,
                               StructField, StructType)

from dbsync_spark.functions.text import (bm25_score_pairs,
                                         build_posting_index, tokens)
from dbsync_spark.streaming.state import EpochState, Tombstones

_POSTINGS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("pos", IntegerType()),
    StructField("term", StringType()),
])
_DOCSTATS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("dl", LongType()),
])
_SCHEMAS = {"postings": _POSTINGS_SCHEMA, "docstats": _DOCSTATS_SCHEMA}


class StreamingSearchIndex(EpochState):
    """Incremental inverted index over parquet state dirs. Call
    `process_batch` per micro-batch of (doc_id, text) documents
    (directly or via `foreach_batch_handler()`); query with `bm25`
    and `phrase`. Batch doc_ids must be globally unique."""

    def __init__(self, spark: SparkSession, root: str,
                 text_col: str = "text", id_col: str = "doc_id"):
        super().__init__(spark, root)
        self.text_col = text_col
        self.id_col = id_col

    def _read(self, sub: str, schema: StructType) -> DataFrame:
        return self._read_epochs(sub, schema)

    def process_batch(self, new_docs: DataFrame,
                      epoch_id: int | None = None) -> None:
        """Index one micro-batch: append its postings and doc stats.
        Epoch-scoped overwrite — replaying a failed epoch rewrites
        exactly its own files."""
        if epoch_id is None:
            epoch_id = self._next_epoch("postings")
        posts = build_posting_index(new_docs, text_col=self.text_col,
                                    id_col=self.id_col)
        # state is always stored under 'doc_id' regardless of the
        # caller's id_col: the read schemas are fixed, so an unaliased
        # custom column name would read back as all-NULL doc_ids
        self._write_epoch(
            posts.select(F.col(self.id_col).cast("long").alias("doc_id"),
                         F.col("pos").cast("int"), "term"),
            "postings", epoch_id)
        stats = new_docs.select(
            F.col(self.id_col).cast("long").alias("doc_id"),
            F.size(tokens(F.col(self.text_col))).cast("long").alias("dl"))
        self._write_epoch(stats.coalesce(1), "docstats", epoch_id)

    def compact(self) -> None:
        """OPTIMIZE-style maintenance: merge every epoch's postings/doc
        stats into ONE epoch directory (keeping the max epoch id so
        next_epoch keeps advancing) and physically drop rows the read
        path already hides (the Forgetting subclass's tombstoned docs —
        this is the storage-level-erasure counterpart of its read-time
        anti-join). Query results are unchanged by construction: the
        state is a set union over epochs and compaction only
        re-associates it (pinned in tests).

        Crash-safe via the shared staged swap (state.staged_compact): a
        crash before the manifest leaves the old state untouched; a
        crash after it leaves a window where reads are partial —
        re-running compact() first completes the interrupted swap from
        the staged full copy, so no data is ever lost. File count:
        O(n_epochs) -> O(1) per sub."""
        self._compact_subs({sub: (lambda s=sub: self._read(s, _SCHEMAS[s]))
                            for sub in _SCHEMAS})

    def postings(self, terms: list[str] | None = None) -> DataFrame:
        posts = self._read("postings", _POSTINGS_SCHEMA)
        if terms is not None:
            posts = posts.where(F.col("term").isin(list(terms)))
        return posts

    def bm25(self, query_terms: list[str], k: int = 10) -> DataFrame:
        """BM25 top-k over the accumulated index — tf from the queried
        terms' posting lists only, dl/N/S from the doc-stats table;
        equals (and hash-matches the oracle of) the batch ranker over
        the union of every indexed batch."""
        stats = self._read("docstats", _DOCSTATS_SCHEMA)
        corpus = stats.agg(F.count("*").alias("n_docs"),
                           F.sum("dl").alias("s_dl"))
        tf = (self.postings(query_terms)
              .groupBy("doc_id", "term")
              .agg(F.count("*").cast("long").alias("tf")))
        pairs = tf.join(stats, on="doc_id").select(
            "doc_id", "dl", "term", "tf")
        out = bm25_score_pairs(pairs, corpus, k=k, id_col="doc_id")
        return out.withColumnRenamed("doc_id", self.id_col)

    def phrase(self, phrase: list[str]) -> DataFrame:
        """Exact phrase occurrences over the accumulated index — the
        positional posting-list intersection of functions/text.py::
        phrase_search, reading only the phrase terms' postings."""
        from dbsync_spark.functions.text import phrase_search

        return phrase_search(
            None, phrase, id_col="doc_id",
            index=self.postings(list(set(phrase)))
        ).withColumnRenamed("doc_id", self.id_col)


class ForgettingSearchIndex(Tombstones, StreamingSearchIndex):
    """StreamingSearchIndex with document removal (the right-to-be-
    forgotten pass every training-data store eventually needs): `forget`
    writes a tombstone epoch and every read anti-joins the accumulated
    tombstones, so post-forget queries equal an index rebuilt without
    those documents — EXACTLY, because postings/doc stats are per-doc
    facts and tf/df/dl/N/S recompute from the surviving union. Periodic
    compaction (rewriting posting epochs minus tombstones) is a
    maintenance op, not a correctness requirement.

    Storage addition:
    - <root>/forgets/epoch=N : (doc_id) tombstones
    """

    _ERASED = "postings"

    def _read(self, sub: str, schema: StructType) -> DataFrame:
        return self._hide(super()._read(sub, schema))

    def process_batch(self, new_docs: DataFrame,
                      epoch_id: int | None = None) -> None:
        self._reject_retired(new_docs)
        super().process_batch(new_docs, epoch_id)
