"""Self time, percentiles, span nesting and job attribution."""

from __future__ import annotations

import json
import threading

import pytest

from perfbench import spans, workloads


def _span(sid, start, end, parent=None, depth=0, name="s"):
    return {"id": sid, "name": name, "parent": parent, "depth": depth,
            "start": start, "end": end}


def test_self_time_subtracts_children_once():
    ss = [_span(0, 0.0, 10.0),
          _span(1, 1.0, 4.0, parent=0, depth=1),
          _span(2, 3.0, 6.0, parent=0, depth=1),   # overlaps span 1
          _span(3, 8.0, 12.0, parent=0, depth=1),  # runs past the parent
          _span(4, 1.5, 2.0, parent=1, depth=2)]
    st = spans.self_times(ss)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[4] == pytest.approx(0.5)
    # parent self time plus children's durations covers the parent
    assert st[0] + 5.0 + 2.0 == pytest.approx(10.0)


def test_quantile_interpolates():
    assert spans.quantile([3, 1, 2], 0.5) == 2
    assert spans.quantile([0, 10], 0.9) == pytest.approx(9.0)
    assert spans.quantile([5], 0.9) == 5
    with pytest.raises(ValueError):
        spans.quantile([], 0.5)


@pytest.mark.parametrize("n, tail", [(99, None), (100, "p90"), (999, "p90"),
                                     (1000, "p99"), (10000, "p99.9")])
def test_summarize_reports_highest_supported_tail(n, tail):
    out = spans.summarize(range(n))
    assert out["n"] == n and out["tail"] == tail
    assert out["p50"] == pytest.approx((n - 1) / 2)


def test_tracer_nests_per_thread_and_wraps():
    tr = spans.Tracer()

    class Thing:
        def work(self, x):
            with tr.span("inner"):
                return x * 2

    t = Thing()
    tr.wrap(t, "work", "outer", on_exit=lambda rec, r: rec.update(seen=r))
    assert t.work(21) == 42
    other = threading.Thread(target=lambda: tr.span("alone").__enter__())
    other.start()
    other.join(timeout=10)
    outer, inner, alone = tr.spans
    assert (outer["name"], outer["parent"], outer["depth"]) == ("outer", None, 0)
    assert (inner["parent"], inner["depth"]) == (outer["id"], 1)
    assert alone["parent"] is None  # another thread starts its own stack
    assert outer["args"] == (21,) and outer["result"] == 42
    assert outer["seen"] == 42
    assert [s["name"] for s in tr.named("outer")] == ["outer"]


def test_jobs_go_to_the_innermost_span():
    ss = [_span(0, 0, 1), _span(1, 0, 1, parent=0, depth=1)]
    tag = spans.TAG_PREFIX
    jobs = [{"job": 1, "tags": [f"{tag}0", f"{tag}1", "spark-session-x"],
             "stage_metrics": [{"task_s": 2.0, "shuffle_read": 0,
                                "shuffle_write": 1 << 20, "spill": 0}]},
            {"job": 2, "tags": [f"{tag}0"], "stage_metrics": []},
            {"job": 3, "tags": [], "stage_metrics": []}]
    owned = spans.attribute_jobs(jobs, ss)
    assert [j["job"] for j in owned[1]] == [1]
    assert [j["job"] for j in owned[0]] == [2]
    assert [j["job"] for j in owned[-1]] == [3]
    tot = spans.spark_totals(jobs)
    assert (tot["jobs"], tot["stages"], tot["task_s"]) == (3, 1, 2.0)
    assert tot["shuffle_write_mb"] == 1.0


def test_source_batches_reads_plain_and_compacted_entries(tmp_path):
    d = tmp_path / "sources" / "0"
    d.mkdir(parents=True)

    def entry(name, b):
        return json.dumps({"path": f"file:///x/log/{name}",
                           "timestamp": 1, "batchId": b})

    (d / "9.compact").write_text("v1\n" + entry("a.parquet", 0) + "\n"
                                 + entry("b.parquet", 9) + "\n")
    (d / "10").write_text("v1\n" + entry("c.parquet", 10) + "\n")
    (d / ".10.crc").write_text("garbage")
    assert workloads.source_batches(str(tmp_path)) == {
        "a.parquet": 0, "b.parquet": 9, "c.parquet": 10}


def test_peak_rss_reads_this_process():
    assert spans.peak_rss_mb() > 1.0
