"""Multi-JVM BENCH evidence (judge r7 item #3): run the full bench
suite under `local-cluster[2,16,M]` — the SAME 32 cores as the local[32]
baseline, split across TWO real executor JVMs — so the only variable is
the process boundary (serialization, shuffle over loopback netty,
broadcast to remote executors, localCheckpoint block placement).
CONTRACT_CLUSTER proved multi-JVM *correctness*; this measures
multi-JVM *cost*, where a broadcast/localCheckpoint-shaped plan could
hide single-process assumptions behind local[32] speed.

Writes BENCH_CLUSTER.json: the cluster run's per-cell timings, the
per-cell ratio against the committed local[32] BENCH_LOCAL.json, and
the >2x list the judge asked to see named causes for (the `causes`
field is annotated after plan inspection, not auto-generated).

Usage: python tools/bench_cluster.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

RAW = "/tmp/bench_cluster_raw.json"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_SF_DIR": sf_dir,
        "SPARK_GRAFT_MASTER": "local-cluster[2,16,24576]",
        "SPARK_GRAFT_EXECUTOR_MEM": "24g",
        "SPARK_GRAFT_DRIVER_MEM": "16g",
        "SPARK_GRAFT_BENCH_OUT": RAW,
    })
    rc = subprocess.call([sys.executable, os.path.join(REPO, "bench.py")], env=env)
    if rc != 0:
        print(f"bench under local-cluster failed rc={rc}",
              file=sys.stderr)
        return rc
    with open(RAW) as fh:
        cluster = json.load(fh)
    with open(os.path.join(REPO, "BENCH_LOCAL.json")) as fh:
        local = json.load(fh)
    lq, cq = local.get("queries", {}), cluster.get("queries", {})
    ratios = {k: round(cq[k] / lq[k], 3) for k in cq
              if k in lq and lq[k] > 0}
    over2x = {k: {"local": lq[k], "cluster": cq[k], "ratio": r}
              for k, r in sorted(ratios.items(), key=lambda kv: -kv[1])
              if r > 2.0 and cq[k] - lq[k] > 0.5}
    out = {
        "master": "local-cluster[2,16,24576]",
        "same_total_cores_as_local": True,
        "sf": cluster.get("sf"),
        "headline_apply_sec": cluster.get("value"),
        "queries": cq,
        "ratio_vs_local32": ratios,
        "over_2x_with_absolute_delta": over2x,
        "causes": {},  # annotated per cell after plan inspection
        "calibration": cluster.get("calibration"),
        "noise_gate": cluster.get("noise_gate"),
    }
    with open(os.path.join(REPO, "BENCH_CLUSTER.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({"n_cells": len(cq), "n_over_2x": len(over2x),
                      "worst": dict(list(over2x.items())[:5])}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
