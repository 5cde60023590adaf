"""The shared epoch-state layer (streaming/state.py): one fast
representative per protocol — the multi-sub publish's crash windows, an
interrupted manifest write, the erasure marker on the tombstone indexes
— plus structural guards that keep every state touch in state.py and the
Spark-job pins of one streaming index."""

from __future__ import annotations

import json
import os
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from dbsync_spark.streaming import state
from dbsync_spark.streaming.state import list_epochs

# job counting as the apply-path pins do it (one job group per call)
from test_apply_path import _jobs


def _rows(df):
    return sorted(map(tuple, df.collect()))


_BASE = ("spark table merge join filter scan window batch stream hash "
         "sort group row column value data query order part line key ")


def _docs(spark, n=12):
    rows = [(i, _BASE + f"suffix{i % 3} extra{i}") for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# marker-protected multi-sub publish: crash windows on tiny frames
# ---------------------------------------------------------------------------


def _two_subs(spark, root):
    for sub, base in (("a", 0), ("b", 100)):
        for e in (0, 1):
            spark.createDataFrame([(base + 10 * e + i,) for i in range(2)],
                                  "x long").write.parquet(
                f"{root}/{sub}/epoch={e}")


def _live(spark, root):
    out = {}
    for sub in ("a", "b"):
        eps = list_epochs(root, sub)
        out[sub] = (eps, _rows(spark.read.schema("x long").parquet(
            *[f"{root}/{sub}/epoch={e}" for e in eps])))
    return out


def _stages(spark, root):
    out = []
    for sub in ("a", "b"):
        eps = list_epochs(root, sub)
        out.append((sub, spark.read.schema("x long").parquet(
            *[f"{root}/{sub}/epoch={e}" for e in eps]), eps))
    return out


def test_publish_crash_after_marker_is_finished_by_next_call(
        spark, tmp_path, monkeypatch):
    root = str(tmp_path)
    _two_subs(spark, root)
    before = _live(spark, root)
    real_finish = state.finish_compact
    after = []

    def crashing_finish(r, sub):
        real_finish(r, sub)
        if sub == "a":
            raise RuntimeError("injected crash between publishes")

    monkeypatch.setattr(state, "finish_compact", crashing_finish)
    with pytest.raises(RuntimeError, match="injected"):
        state.publish(root, _stages(spark, root),
                      after=lambda: after.append(1))
    monkeypatch.setattr(state, "finish_compact", real_finish)
    assert os.path.exists(f"{root}/{state.MARKER}")
    assert list_epochs(root, "a") == [1] and not after
    assert state.pending_compaction(root, "b")

    state.recover_publish(root, ("a", "b"), after=lambda: after.append(1))

    assert not os.path.exists(f"{root}/{state.MARKER}")
    assert after == [1]
    got = _live(spark, root)
    assert got == {s: ([1], rows) for s, (_, rows) in before.items()}


def test_publish_crash_before_marker_leaves_live_state(spark, tmp_path,
                                                       monkeypatch):
    root = str(tmp_path)
    _two_subs(spark, root)
    before = _live(spark, root)
    real_write = state.write_json

    def crashing_write(path, obj):
        if path.endswith(state.MARKER):
            raise RuntimeError("injected crash before the marker")
        real_write(path, obj)

    monkeypatch.setattr(state, "write_json", crashing_write)
    with pytest.raises(RuntimeError, match="injected"):
        state.publish(root, _stages(spark, root))
    monkeypatch.setattr(state, "write_json", real_write)
    assert state.pending_compaction(root, "a")  # staged, not committed
    assert _live(spark, root) == before

    state.recover_publish(root, ("a", "b"))  # no marker: stagings dropped

    assert not os.path.exists(f"{root}/a/_compacting")
    assert not os.path.exists(f"{root}/b/_compacting")
    assert _live(spark, root) == before


# ---------------------------------------------------------------------------
# atomic manifest: a failure while writing _covers.json does not brick
# ---------------------------------------------------------------------------


def test_compact_survives_failed_manifest_write(spark, tmp_path,
                                                monkeypatch):
    from dbsync_spark.streaming.search_index import StreamingSearchIndex

    docs = _docs(spark)
    idx = StreamingSearchIndex(spark, str(tmp_path / "s"))
    for e in range(3):
        idx.process_batch(docs.where(F.col("doc_id") % 3 == e), epoch_id=e)
    want = _rows(idx.bm25(["spark", "suffix1"], k=5))
    real_dump = json.dump

    def torn_dump(obj, fh, *args, **kwargs):
        fh.write(json.dumps(obj)[:2])  # a partial manifest, then the kill
        raise OSError("injected failure during the manifest write")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="injected"):
        idx.compact()
    monkeypatch.setattr(json, "dump", real_dump)

    idx.compact()

    assert list_epochs(idx.root, "postings") == [2]
    assert list_epochs(idx.root, "docstats") == [2]
    assert _rows(idx.bm25(["spark", "suffix1"], k=5)) == want


# ---------------------------------------------------------------------------
# erasure marker: a repeat compact() after a forget rewrites nothing
# ---------------------------------------------------------------------------


def _files(root, subs):
    """{path: mtime} of every state file but the erasure marker."""
    out = {}
    for sub in subs:
        for d, _s, files in os.walk(f"{root}/{sub}"):
            for f in files:
                if not f.startswith("_erased"):
                    out[f"{d}/{f}"] = os.path.getmtime(f"{d}/{f}")
    return out


@pytest.mark.parametrize("family", ["search", "dedup"])
def test_repeat_compact_after_forget_rewrites_nothing(spark, tmp_path,
                                                      family):
    from dbsync_spark.streaming.dedup_index import ForgettingDedupIndex
    from dbsync_spark.streaming.search_index import ForgettingSearchIndex

    cls, subs = {
        "search": (ForgettingSearchIndex, ("postings", "docstats")),
        "dedup": (ForgettingDedupIndex, ("docs", "bands", "pairs")),
    }[family]
    docs = _docs(spark)
    idx = cls(spark, str(tmp_path / family))
    for e in range(3):
        idx.process_batch(docs.where(F.col("doc_id") % 3 == e), epoch_id=e)
    idx.forget(spark.createDataFrame([(0,)], "doc_id long"))
    idx.compact()
    raw = spark.read.parquet(f"{idx.root}/{subs[0]}")
    assert raw.where(F.col("doc_id") == 0).isEmpty()

    files = _files(idx.root, subs)
    assert files
    idx.compact()
    assert _files(idx.root, subs) == files

    # a NEW forget re-arms the rewrite
    idx.forget(spark.createDataFrame([(1,)], "doc_id long"))
    idx.compact()
    assert _files(idx.root, subs) != files
    raw = spark.read.parquet(f"{idx.root}/{subs[0]}")
    assert raw.where(F.col("doc_id").isin(0, 1)).isEmpty()


# ---------------------------------------------------------------------------
# structural guards
# ---------------------------------------------------------------------------

_RAW_FS = re.compile(r"\bos\.|\bshutil\.|\bopen\(|np\.save|np\.load")


def test_index_modules_touch_no_files_directly():
    """Every streaming state touch goes through streaming/state.py: the
    index modules and the DTW monitor hold no filesystem calls."""
    pkg = Path(state.__file__).parent
    mods = sorted(pkg.glob("*_index.py")) + [pkg / "dtw_monitor.py"]
    assert len(mods) >= 13
    hits = [f"{m.name}:{n}: {line.strip()}"
            for m in mods
            for n, line in enumerate(m.read_text().splitlines(), 1)
            if _RAW_FS.search(line)]
    assert not hits, hits


# ---------------------------------------------------------------------------
# Spark jobs per call of one streaming index
# ---------------------------------------------------------------------------

# ForgettingSearchIndex over three 4-doc batches and a 1-id forget: a job
# more per call is latency on every micro-batch or maintenance tick.
SEARCH_JOBS = {"process_batch": 3, "forget": 2, "compact": 4,
               "compact_repeat": 0}


def test_search_index_jobs_per_call(spark, tmp_path):
    from dbsync_spark.streaming.search_index import ForgettingSearchIndex

    docs = _docs(spark)
    idx = ForgettingSearchIndex(spark, str(tmp_path / "s"))
    idx.process_batch(docs.where(F.col("doc_id") % 3 == 0), epoch_id=0)
    idx.process_batch(docs.where(F.col("doc_id") % 3 == 1), epoch_id=1)
    got = {"forget": _jobs(spark, lambda: idx.forget(
        spark.createDataFrame([(0,)], "doc_id long")))}
    got["process_batch"] = _jobs(spark, lambda: idx.process_batch(
        docs.where(F.col("doc_id") % 3 == 2), epoch_id=2))
    got["compact"] = _jobs(spark, idx.compact)
    got["compact_repeat"] = _jobs(spark, idx.compact)
    assert got == SEARCH_JOBS
