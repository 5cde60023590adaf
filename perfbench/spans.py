"""Spans, Spark status-store deltas and the statistics helpers.

Spans are recorded from outside the program: `Tracer.wrap` replaces a
method on one instance with a wrapper that opens a span around the
original call. Spans nest per thread. While a span is open its thread
carries a Spark job tag naming it (job tags are thread-local), so the
status store can attribute every job, and through the job its stages, to
the innermost span that ran it.

Everything stays in memory until the run ends.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

TAG_PREFIX = "perfbench-span-"


class Tracer:
    """Records spans: name, start, end, parent and thread.

    With `sc` (a SparkContext) every span also tags the jobs its thread
    starts; without it spans cost two clock reads and a list append,
    which is what the untraced runs use to time micro-batches."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.cost_s = 0.0  # time spent in the tracer's own bookkeeping

    def _charge(self, seconds: float) -> None:
        with self._lock:  # spans open and close on several threads
            self.cost_s += seconds

    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name,
                   "parent": stack[-1]["id"] if stack else None,
                   "depth": len(stack), "thread": threading.get_ident(),
                   "start": None, "end": None, **attrs}
            self.spans.append(rec)
        stack.append(rec)
        if self.sc is not None:
            self.sc.addJobTag(f"{TAG_PREFIX}{sid}")
        rec["start"] = time.perf_counter()
        self._charge(rec["start"] - t0)
        try:
            yield rec
        finally:
            rec["end"] = t1 = time.perf_counter()
            stack.pop()
            if self.sc is not None:
                self.sc.removeJobTag(f"{TAG_PREFIX}{sid}")
            self._charge(time.perf_counter() - t1)

    def wrap(self, obj, method: str, name: str, on_exit=None,
             on_enter=None) -> None:
        """Replace `obj.method` with a spanned wrapper. The span keeps the
        call's positional arguments. `on_enter(rec)` and `on_exit(rec,
        result)` run inside the span around the call, for counts taken at
        the same boundary; their time is charged to the tracer."""
        orig = getattr(obj, method)

        def wrapper(*args, **kwargs):
            with self.span(name, args=args) as rec:
                if on_enter is not None:
                    t = time.perf_counter()
                    on_enter(rec)
                    self._charge(time.perf_counter() - t)
                result = orig(*args, **kwargs)
                rec["result"] = result
                if on_exit is not None:
                    t = time.perf_counter()
                    on_exit(rec, result)
                    self._charge(time.perf_counter() - t)
                return result

        setattr(obj, method, wrapper)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and s["end"] is not None]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its
    direct children cover (overlapping children are counted once)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        if s["end"] is None:
            continue
        covered, reach = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo = max(c["start"], reach)
            hi = min(c["end"] if c["end"] is not None else s["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(values) -> dict:
    """Median, the highest of p90/p99/p99.9 that has at least ten
    samples beyond it (None below 100 samples), and the count."""
    xs = list(values)
    out = {"n": len(xs), "p50": quantile(xs, 0.5) if xs else None,
           "tail": None, "tail_value": None}
    for name, per_mille in (("p99.9", 999), ("p99", 990), ("p90", 900)):
        if len(xs) * (1000 - per_mille) >= 10 * 1000:
            out["tail"] = name
            out["tail_value"] = quantile(xs, per_mille / 1000)
            break
    return out


# --- Spark status store ------------------------------------------------

def _store(sc):
    return sc._jsc.sc().statusStore()


def max_job_id(sc) -> int:
    """The job-id watermark: deltas later count only jobs above it."""
    it = _store(sc).jobsList(sc._jvm.java.util.ArrayList()).iterator()
    top = -1
    while it.hasNext():
        top = max(top, it.next().jobId())
    return top


def spark_jobs(sc, after_job: int) -> list[dict]:
    """Jobs above the watermark with their tags and stage metrics. The
    store keeps only spark.ui.retainedJobs/Stages entries; the benchmark
    raises both caps at launch so none of a run's entries is dropped."""
    store = _store(sc)
    jobs = []
    it = store.jobsList(sc._jvm.java.util.ArrayList()).iterator()
    while it.hasNext():
        j = it.next()
        if j.jobId() <= after_job:
            continue
        tags = j.jobTags().mkString("\x1f")
        stages = j.stageIds().mkString(",")
        jobs.append({"job": j.jobId(),
                     "tags": tags.split("\x1f") if tags else [],
                     "stages": [int(x) for x in stages.split(",") if x]})
    wanted = {s for j in jobs for s in j["stages"]}
    stages = {}
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    it = store.stageList(sc._jvm.java.util.ArrayList(), False, False, empty,
                         sc._jvm.java.util.ArrayList()).iterator()
    while it.hasNext():
        s = it.next()
        sid = s.stageId()
        if sid not in wanted or s.status().toString() != "COMPLETE":
            continue
        m = stages.setdefault(sid, {"task_s": 0.0, "shuffle_read": 0,
                                    "shuffle_write": 0, "spill": 0})
        m["task_s"] += s.executorRunTime() / 1000.0
        m["shuffle_read"] += s.shuffleReadBytes()
        m["shuffle_write"] += s.shuffleWriteBytes()
        m["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    for j in jobs:
        j["stage_metrics"] = [stages[s] for s in j["stages"] if s in stages]
    return jobs


def attribute_jobs(jobs: list[dict], spans: list[dict]) -> dict[int, list]:
    """Span id -> the jobs whose innermost tagged span it is (jobs with no
    span tag go under -1)."""
    depth = {s["id"]: s["depth"] for s in spans}
    out: dict[int, list] = {}
    for j in jobs:
        ids = [int(t[len(TAG_PREFIX):]) for t in j["tags"]
               if t.startswith(TAG_PREFIX)]
        owner = max(ids, key=lambda i: depth.get(i, -1)) if ids else -1
        out.setdefault(owner, []).append(j)
    return out


def spark_totals(jobs: list[dict]) -> dict:
    stages = [m for j in jobs for m in j["stage_metrics"]]
    mb = 1 << 20
    return {"jobs": len(jobs), "stages": len(stages),
            "task_s": sum(m["task_s"] for m in stages),
            "shuffle_read_mb": sum(m["shuffle_read"] for m in stages) / mb,
            "shuffle_write_mb": sum(m["shuffle_write"] for m in stages) / mb,
            "spill_mb": sum(m["spill"] for m in stages) / mb}


# --- process memory ----------------------------------------------------

def _vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(entry))
    return out


def peak_rss_mb() -> float:
    """Peak resident set of this Python driver plus its JVM child (the
    Spark driver), from /proc (no psutil here)."""
    me = os.getpid()
    jvm = [p for p in _children(me) if _comm(p) == "java"]
    return (_vm_hwm_kb(me) + sum(_vm_hwm_kb(p) for p in jvm)) / 1024.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""
