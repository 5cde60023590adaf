"""bench.py noise-gate policy (judge r6 item #5 + ADVICE): the gate
compares against BOTH the newest recoverable artifact and the
driver-committed round anchor, skips baselines recorded at a different
scale factor, and a two-step sub-threshold drift that slips past the
recent baseline still trips the anchor."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench"] = mod
    spec.loader.exec_module(mod)
    return mod


BENCH = _bench()


def _write(path, payload):
    with open(path, "w") as fh:
        json.dump(payload, fh)


def test_two_step_drift_trips_the_round_anchor(tmp_path):
    """Round anchor q=1.0; a later local run drifted to 1.3 (below the
    1.4x gate vs the anchor, so it landed); the current run measures
    1.81 — below 1.4x vs the RECENT baseline (1.4*1.3=1.82), so gating
    only against BENCH_LOCAL would let the compounded 1.82x regression
    pass silently (1.81x vs the anchor). The anchor must trip."""
    _write(tmp_path / "BENCH_r06.json",
           {"queries": {"q": 1.0}, "sf": 0.1})
    _write(tmp_path / "BENCH_LOCAL.json",
           {"queries": {"q": 1.3}, "sf": 0.1})
    baselines, labels = BENCH.gate_baselines(str(tmp_path), 0.1)
    assert labels == ["BENCH_LOCAL.json", "BENCH_r06.json"]
    t = 1.81
    trips = {lbl: q["q"] for lbl, q in baselines
             if BENCH.gate_trips(t, q["q"])}
    assert "BENCH_r06.json" in trips, trips
    assert "BENCH_LOCAL.json" not in trips


def test_baseline_at_wrong_sf_is_skipped(tmp_path):
    """A developer bench run at sf0.01 must not become the baseline for
    an sf0.1 run (r6 ADVICE): fall through to the round anchor."""
    _write(tmp_path / "BENCH_r06.json",
           {"queries": {"q": 1.0}, "sf": 0.1})
    _write(tmp_path / "BENCH_LOCAL.json",
           {"queries": {"q": 0.05}, "sf": 0.01})
    baselines, labels = BENCH.gate_baselines(str(tmp_path), 0.1)
    assert labels == ["BENCH_r06.json"]
    assert baselines[0][1] == {"q": 1.0}


def test_wrapper_tail_recovery_and_dedupe(tmp_path):
    """Driver-wrapper artifacts (parsed=null, queries only inside the
    stdout tail) stay recoverable, and when the recent chain falls
    through to the anchor the baseline list dedupes to one."""
    tail = 'blah {"metric": "m", "queries": {"q": 2.0}, "sf": 0.1} end'
    _write(tmp_path / "BENCH_r05.json",
           {"parsed": None, "tail": tail, "sf": 0.1})
    baselines, labels = BENCH.gate_baselines(str(tmp_path), 0.1)
    assert labels == ["BENCH_r05.json"]
    assert baselines[0][1] == {"q": 2.0}


def test_gate_threshold_is_ratio_and_absolute():
    assert not BENCH.gate_trips(0.9, 0.5)   # 1.8x but only +0.4 s
    assert not BENCH.gate_trips(2.4, 2.0)   # +0.4 s and 1.2x
    assert BENCH.gate_trips(3.0, 2.0)       # 1.5x and +1.0 s


def test_gate_verdict_consistent_anchors_each_vote():
    """Mutually consistent anchors keep the r6 two-step-drift
    protection: 1.0 -> 1.3 (landed, sub-threshold) -> 1.81 slips the
    recent 1.3 but must trip the 1.0 round anchor."""
    assert BENCH.gate_verdict(1.81, [1.3, 1.0])
    assert not BENCH.gate_verdict(1.35, [1.3, 1.0])


def test_gate_verdict_split_anchors_adopt_driver_conditions():
    """Anchors that disagree past the threshold (quiet-solo 13.3 vs
    driver-conditions 19.5 — judge r8 item #3) are a measurement-
    environment split: the slowest anchor is canonical, so a 20.0 s
    driver-conditions measurement is NOT a permanent `clean: false`,
    while a genuine regression past the slow anchor still trips."""
    assert not BENCH.gate_verdict(19.998, [13.286, 19.5])
    assert not BENCH.gate_verdict(20.0, [13.286, 19.5])
    assert BENCH.gate_verdict(28.0, [13.286, 19.5])


def test_truncated_tail_partial_recovery(tmp_path):
    """A wrapper whose tail was cut BEFORE the queries opener (the real
    r5/r6 shape) still yields its surviving scalar cells as a baseline —
    the round anchor must not silently fall back to an ancient round."""
    tail = '.42, "rolling_7d": 0.144, "bm25_topk": 0.66}, "sf": 0.1, "log_rows": 755599}'
    _write(tmp_path / "BENCH_r06.json", {"parsed": None, "tail": tail})
    q, sf, _cpus = BENCH.recover_bench(str(tmp_path / "BENCH_r06.json"))
    assert q["rolling_7d"] == 0.144 and q["bm25_topk"] == 0.66
    assert sf == 0.1
    baselines, labels = BENCH.gate_baselines(str(tmp_path), 0.1)
    assert labels == ["BENCH_r06.json"]


def test_baseline_at_wrong_cpu_count_is_skipped(tmp_path):
    """The driver's 8-CPU scaling leg clobbered the local[32] anchor in
    r10 (judge r10 item #2): an artifact recorded at a different core
    count must never become the baseline for a local[32] run. Artifacts
    that predate cpus recording (cpus absent) stay eligible."""
    _write(tmp_path / "BENCH_r06.json",
           {"queries": {"q": 1.0}, "sf": 0.1})           # pre-cpus anchor
    _write(tmp_path / "BENCH_LOCAL.json",
           {"queries": {"q": 9.0}, "sf": 0.1, "cpus": 8})  # c8 clobber
    baselines, labels = BENCH.gate_baselines(str(tmp_path), 0.1, 32)
    assert labels == ["BENCH_r06.json"]
    assert baselines[0][1] == {"q": 1.0}


def test_builder_adjudication_artifacts_are_not_round_anchors(tmp_path):
    """Only the driver's strict BENCH_r<digits>.json is a round anchor:
    suffixed files (BENCH_r<n>_<tag>.json, e.g. a core-count leg or a
    repeated attempt) must not outrank it lexically."""
    _write(tmp_path / "BENCH_r06.json",
           {"queries": {"q": 1.0}, "sf": 0.1})
    _write(tmp_path / "BENCH_r06_TRY2.json",
           {"queries": {"q": 5.0}, "sf": 0.1})
    _write(tmp_path / "BENCH_r06_c8.json",
           {"queries": {"q": 9.0}, "sf": 0.1})
    baselines, labels = BENCH.gate_baselines(str(tmp_path), 0.1, 32)
    assert labels == ["BENCH_r06.json"]


def test_stdout_line_fits_the_driver_tail_capture():
    """The printed one-line JSON must survive the grading driver's
    ~2000-byte stdout tail whole (r9's ~6 KB line parsed to null and
    PERF_r10 lost the whole round-over-round comparison). Pin the size
    against the REAL committed cell set plus headroom for a few added
    cells; the renaming floor (key names alone ~1.5 KB) is documented in
    OPTIMIZATION_r11.md."""
    with open(os.path.join(REPO, "BENCH_r10.json")) as fh:
        real = json.load(fh)["parsed"]
    queries = dict(real["queries"])
    # headroom: the cells this round ADDs (additions only, never renames)
    queries["streaming_simjoin_ingest"] = 85.523
    queries["streaming_simjoin_batch"] = 8.552
    line = BENCH.stdout_line({
        "metric": real["metric"], "value": real["value"], "unit": "sec",
        "queries": queries, "sf": real["sf"]})
    encoded = json.dumps(line, separators=(",", ":"))
    assert len(encoded) < 1950, len(encoded)
    assert set(line) == {"metric", "value", "unit", "queries", "sf"}
    # rounding must not zero out real sub-centisecond cells
    assert BENCH.stdout_line(
        {"metric": "m", "value": 0.004, "unit": "sec",
         "queries": {"q": 0.004}, "sf": 0.1})["queries"]["q"] == 0.004


def test_gate_verdict_majority_cluster():
    """A lone slow outlier anchor must not disable regression detection
    when a consistent majority cluster exists."""
    gate_verdict = BENCH.gate_verdict

    # consistent anchors: each votes, any trip flags (unchanged)
    assert not gate_verdict(1.0, [1.0, 1.1])
    assert gate_verdict(3.0, [1.0, 1.1])
    # two-anchor split: slowest stays canonical
    assert not gate_verdict(5.2, [1.0, 5.0])
    assert gate_verdict(8.5, [1.0, 5.0])
    # 3+ anchors, one slow outlier, consistent fast majority: a new
    # measurement regressing past the majority cluster trips even
    # though it is under the outlier
    assert gate_verdict(4.0, [1.0, 1.1, 9.0])
    assert not gate_verdict(1.2, [1.0, 1.1, 9.0])
    # 3+ anchors where the slowest IS majority-consistent: unchanged
    # slowest-canonical behavior
    assert not gate_verdict(9.5, [8.8, 1.0, 9.0])
    assert gate_verdict(14.0, [8.8, 1.0, 9.0])
