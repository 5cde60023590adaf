"""Compare two sets of result files written by perfbench/run.py.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Prints, per workload and metric, each side's median, their ratio and
each side's quartile spread (IQR / median). Untraced results carry the
end-to-end metrics; comparing a traced set against an untraced one of the
same code gives the tracing overhead. Refuses (exit 2) to compare results
taken at different core counts or Spark versions: a number measured on
local[8] says nothing about local[4].
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

MACHINE_KEYS = ("spark_graft_cpus", "nproc", "affinity_cpus", "spark_version")


def load(directory: str) -> list[dict]:
    out = []
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as f:
            out.append(json.load(f))
    return out


def machine(results: list[dict]) -> set[tuple]:
    return {tuple(r["stamp"][k] for k in MACHINE_KEYS) for r in results}


def spread(xs: list[float]) -> float:
    if len(xs) < 2:
        return float("nan")
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / med if med else float("nan")


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[0]), load(argv[1])
    if not base or not new:
        print("no result files", file=sys.stderr)
        return 2
    machines = machine(base) | machine(new)
    if len(machines) != 1:
        print(f"refusing to compare across machines "
              f"{MACHINE_KEYS}: {sorted(machines)}", file=sys.stderr)
        return 2
    print(f"{'workload':<13} {'metric':<20} {'base':>10} {'new':>10} "
          f"{'new/base':>9} {'spread_b':>9} {'spread_n':>9}")
    for wl in sorted({r["stamp"]["workload"] for r in base + new}):
        b = [r for r in base if r["stamp"]["workload"] == wl]
        n = [r for r in new if r["stamp"]["workload"] == wl]
        if not b or not n:
            continue
        for metric in b[0]["end_to_end"]:
            xb = [r["end_to_end"][metric] for r in b]
            xn = [r["end_to_end"][metric] for r in n]
            mb, mn = statistics.median(xb), statistics.median(xn)
            print(f"{wl:<13} {metric:<20} {mb:>10.4g} {mn:>10.4g} "
                  f"{mn / mb:>9.3f} {spread(xb):>9.3f} {spread(xn):>9.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
