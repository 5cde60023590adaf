"""Streaming exact-substring dedup: a persisted window index driven from
foreachBatch, maintaining the duplicated-span table incrementally.

The batch operator pair (functions/dedup.py::dup_spans_state/_upsert)
defines the math; this module runs it as a SERVICE: documents arrive in
micro-batches, each batch appends its window rows, rescans NOTHING but
the touched subset, and persists the recomputed spans for exactly the
affected documents. `current_spans()` then equals a full recompute over
everything ingested so far (tested).

Storage layout (plain parquet dirs, epoch-scoped like
StreamingDedupIndex — replaying a failed epoch overwrites its own files
instead of double-appending):
- <root>/windows/epoch=N  : (doc_id, pos, wh) — append-only index
- <root>/spans/epoch=N    : span rows for every doc RESCORED in epoch N
- <root>/rescored/epoch=N : (doc_id) list of docs rescored in epoch N

Span versioning is latest-epoch-wins: a doc's current spans are the rows
of its highest rescore epoch; a doc rescored to ZERO spans appears in
`rescored` with no span rows, correctly shadowing older spans (absence
alone could not shadow in an append-only store).

Scale shape per batch: the windows of the batch are row-local; the only
wide work keys on (a) the batch's window hashes (distinct-doc counts),
(b) the rescored docs' window rows, (c) the rescored docs' hashes'
doc-frequency — all proportional to the increment and its duplication
neighborhood, never the corpus. Old-old documents with no hash in the
batch are untouched. The full-index reads are scans (I/O-parallel);
production state would be a wh-bucketed / doc_id-bucketed table so those
scans prune to touched buckets (sinks/table.BucketedTable), exactly as
the apply path does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from dbsync_spark.functions.dedup import (_span_windows,
                                          _spans_from_dup_positions)
from dbsync_spark.sources.tables import read_state
from dbsync_spark.streaming.state import EpochState, Tombstones

_WINDOWS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("pos", LongType()),
    StructField("wh", LongType()),
])
_SPANS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("span_start", LongType()),
    StructField("span_end", LongType()),
    StructField("n_windows", LongType()),
    StructField("span_tokens", LongType()),
])
_RESCORED_SCHEMA = StructType([StructField("doc_id", LongType())])
_EPOCH = StructField("epoch", LongType())  # the partition column


class StreamingSpanIndex(EpochState):
    """Incremental exact-substring dedup over parquet state dirs. Call
    `process_batch` per micro-batch (directly, or via
    `foreach_batch_handler()` from a writeStream). Batch doc_ids must be
    globally unique across epochs (the CDC id contract)."""

    _PUBLISHED = ("windows", "spans", "rescored")

    def __init__(self, spark: SparkSession, root: str,
                 window_tokens: int = 6, min_docs: int = 2):
        super().__init__(spark, root)
        self.window_tokens = window_tokens
        self.min_docs = min_docs

    def _read(self, sub: str, schema: StructType) -> DataFrame:
        return self._read_epochs(sub, schema)

    def process_batch(self, new_docs: DataFrame, epoch_id: int | None = None
                      ) -> DataFrame:
        """Ingest a (doc_id, text) batch; persist and return the span
        rows of every document rescored by this batch."""
        self._recover()
        if epoch_id is None:
            epoch_id = self._next_epoch("windows")
        new_docs = new_docs.select("doc_id", "text")
        new_win = _span_windows(new_docs, "text", "doc_id",
                                self.window_tokens)
        self._write_epoch(new_win, "windows", epoch_id)
        index = self._read("windows", _WINDOWS_SCHEMA)  # incl. this epoch

        # docs to rescore: the batch itself + any doc sharing a window
        # hash with the batch where that hash is (now) duplicated
        touched = new_win.select("wh").distinct()
        tdf = (index.join(touched, on="wh", how="semi")
               .groupBy("wh")
               .agg(F.count_distinct("doc_id").alias("wdf")))
        hot = tdf.where(F.col("wdf") >= self.min_docs).select("wh")
        rescore = (index.join(hot, on="wh", how="semi")
                   .select("doc_id")
                   .unionByName(new_docs.select("doc_id"))
                   .distinct())

        spans = self._rescore_spans(index, rescore)

        self._write_epoch(spans, "spans", epoch_id)
        self._write_epoch(rescore, "rescored", epoch_id)
        return self.spark.read.schema(_SPANS_SCHEMA).parquet(
            self._path("spans", epoch_id))

    def _rescore_spans(self, index: DataFrame,
                       rescore: DataFrame) -> DataFrame:
        """Span rows for the `rescore` docs against `index` windows. A
        rescored doc's OTHER windows may be duplicated via hashes the
        triggering increment never touched, so doc-frequency is
        measured over the rescored docs' full hash set — still
        increment-neighborhood-proportional, never the corpus."""
        rwin = index.join(rescore.select("doc_id"), on="doc_id",
                          how="semi")
        rdf = (index.join(rwin.select("wh").distinct(), on="wh",
                          how="semi")
               .groupBy("wh")
               .agg(F.count_distinct("doc_id").alias("wdf")))
        dup = rwin.join(
            rdf.where(F.col("wdf") >= self.min_docs).select("wh"), on="wh")
        return _spans_from_dup_positions(dup, "doc_id", self.window_tokens)

    def compact(self) -> None:
        """OPTIMIZE-style maintenance: windows merge to their plain
        union (append-only set); spans/rescored — whose read path JOINS
        across subs with latest-epoch-wins — compact to the current span
        table and the distinct rescored-doc set, both republished at the
        max epoch, so latest-per-doc resolves to the same rows afterwards.

        The three subs publish together under the `_compact_ready`
        marker (state.publish), and an interrupted publish is finished
        first. Readers between two publishes see a partial view — the
        same quiescent-caller window the other staged compactions
        document."""
        self._recover()
        n = self._erasure()
        eps = self._epochs("windows")
        if not eps or (len(eps) <= 1 and not n):
            return
        self._publish([
            ("windows", self._read("windows", _WINDOWS_SCHEMA), eps),
            ("spans", self.current_spans(), self._epochs("spans")),
            ("rescored", self._rescored_distinct(),
             self._epochs("rescored"))])
        self._mark_erased(n)

    def _rescored_distinct(self) -> DataFrame:
        """Distinct rescored-doc ids (the Forgetting subclass's `_read`
        filters tombstoned docs, so compaction physically erases them)."""
        return self._read("rescored", _RESCORED_SCHEMA).distinct()

    def current_spans(self) -> DataFrame:
        """The span table as of the latest processed epoch: each doc's
        rows from its HIGHEST rescore epoch (latest-epoch-wins; empty
        frame before the first batch)."""
        res = read_state(self.spark, f"{self.root}/rescored",
                         read_schema=StructType([*_RESCORED_SCHEMA, _EPOCH]))
        spans = read_state(self.spark, f"{self.root}/spans",
                           read_schema=StructType([*_SPANS_SCHEMA, _EPOCH]))
        if res is None or spans is None:
            return self.spark.createDataFrame([], _SPANS_SCHEMA)
        latest = res.groupBy("doc_id").agg(F.max("epoch").alias("epoch"))
        return (spans.join(latest, on=["doc_id", "epoch"])
                .drop("epoch"))


class ForgettingSpanIndex(Tombstones, StreamingSpanIndex):
    """StreamingSpanIndex with right-to-be-forgotten — flushed out by
    the structural forgetting guard. Removal is NON-LOCAL here, like the
    cluster index: a span is recorded because its windows appear in
    >= min_docs documents, so forgetting one holder can demote a
    SURVIVING doc's spans below threshold. forget() therefore rescores
    every surviving doc that shared a window hash with the forgotten
    docs (increment-neighborhood-proportional — the same machinery a
    batch ingest uses, driven by the forgotten docs' hashes) and swaps
    the corrected span/rescored tables over their ENTIRE history at the
    current max epoch — never a new epoch, so a checkpointed stream's
    next batch id cannot collide with a forget (the ForgettingCluster
    epoch discipline). Window rows are hidden by read-time tombstones
    and physically erased at compact(). Forgotten ids are permanently
    retired (re-ingest raises)."""

    _ERASED = "windows"

    def _read(self, sub: str, schema: StructType) -> DataFrame:
        return self._hide(super()._read(sub, schema))

    def current_spans(self) -> DataFrame:
        return self._hide(super().current_spans())

    def process_batch(self, new_docs: DataFrame,
                      epoch_id: int | None = None) -> DataFrame:
        self._reject_retired(new_docs)
        return super().process_batch(new_docs, epoch_id)

    def forget(self, doc_ids: DataFrame, epoch_id: int | None = None
               ) -> None:
        """Tombstone doc ids, rescore their duplication neighborhood,
        and swap the corrected spans/rescored tables in place (staged,
        published at the current max epochs). Replaying a forget
        converges to the same state.

        Spans and rescored are a JOINED pair on the read path, so both
        publish together under the `_compact_ready` marker
        (state.publish): a crash between the two publishes would
        otherwise leave spans at the max epoch while rescored kept
        older per-doc epochs, and current_spans() would silently drop
        surviving docs. An interrupted publish (here or in compact())
        is finished first on entry."""
        self._recover()
        epoch_id = self._write_forgets(doc_ids, epoch_id)
        ids = self._forgotten(epochs=[epoch_id])
        # neighborhood: surviving docs sharing any window hash with the
        # forgotten docs' (still-present, read-hidden) window rows
        raw_win = StreamingSpanIndex._read(self, "windows",
                                           _WINDOWS_SCHEMA)
        gone_wh = (raw_win.join(ids, on="doc_id", how="semi")
                   .select("wh").distinct())
        index = self._read("windows", _WINDOWS_SCHEMA)  # filtered
        affected = (index.join(gone_wh, on="wh", how="semi")
                    .select("doc_id").distinct())
        respans = self._rescore_spans(index, affected)
        keep = (self.current_spans()
                .join(affected, on="doc_id", how="anti"))
        sp_eps = self._epochs("spans")
        if not sp_eps:
            return  # nothing ingested yet; tombstones alone suffice
        self._publish([
            ("spans", keep.unionByName(respans), sp_eps),
            ("rescored", self._rescored_distinct()
             .unionByName(affected).distinct(),
             self._epochs("rescored"))])
