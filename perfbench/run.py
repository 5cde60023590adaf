"""Replication benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last stdout line is one JSON object
with `correct`, `attempted`, `failed` and `metrics`: every end-to-end
metric of BENCHMARK.json with --trace 0, every per-layer metric with
--trace 1. The line before it is the run's stamp. The full result (stamp,
metrics, sample summaries, per-span Spark deltas) is also written to
perfbench/results/. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


# Spark cores by default. The workloads move a few thousand rows per
# micro-batch, so a batch is mostly fixed per-job cost: on a 4-vCPU host
# local[2] ran trickle's batches in 2.3 s against 3.4 s at local[4], and
# it leaves cores for the generator, the control loops and the JVM's own
# threads instead of competing with them.
DEFAULT_CPUS = 2


def _configure_env(work: str) -> None:
    """Spark settings fixed before the JVM starts: the core count (the
    JVM is told the same count, which caps its GC and compiler threads),
    a 1 GB cap on the driver heap (the JVM still grows the heap only as
    the work needs it, so peak RSS follows heap use), status-store caps
    high enough that no entry of a run is dropped, and every scratch file
    inside the checkout."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(
        min(DEFAULT_CPUS, len(os.sched_getaffinity(0)))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    if os.environ["SPARK_GRAFT_CPUS"].isdigit():
        java_opts += (" -XX:ActiveProcessorCount="
                      + os.environ["SPARK_GRAFT_CPUS"])
    confs = {
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
    }
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}"
                    for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM the gateway launched."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=60)


def _e2e(run) -> dict[str, float]:
    from perfbench.spans import quantile

    s = run.samples
    return {"applied_rows_per_s": quantile(s["rows_per_s"], 0.5),
            "lag_p50_s": quantile(s["lag_s"], 0.5),
            "lag_p90_s": quantile(s["lag_s"], 0.9)}


def stamp(args, spark, sizes: dict) -> dict:
    return {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
            "nproc": os.cpu_count(),
            "affinity_cpus": len(os.sched_getaffinity(0)),
            "spark_version": spark.version,
            "python": sys.version.split()[0], "sizes": sizes}


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "dbsync_spark", "__init__.py")):
        print("perfbench: no dbsync_spark package next to perfbench/; run "
              "from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, ".work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _configure_env(work)

    from perfbench import spans, workloads
    from dbsync_spark.session import get_spark

    spark = None
    try:
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        t_session = time.perf_counter() - T_START
        run = workloads.Run(spark, args.seed, args.seconds, bool(args.trace),
                            work)
        workloads.WORKLOADS[args.workload](run)
        e2e = _e2e(run)
        e2e["setup_s"] = run.setup_s(T_START)
        e2e["peak_rss_mb"] = spans.peak_rss_mb()
        layer = None
        if args.trace:
            layer = workloads.layers(
                run, [m["name"] for m in bench["per_layer"]])
        info = stamp(args, spark, run.sizes)
        info["session_start_s"] = t_session
        info["warm_up_s"] = run.warm_s
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    shown = bench["per_layer"] if args.trace else bench["end_to_end"]
    values = layer if args.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in shown}
    result = {"correct": run.failed == 0, "attempted": run.attempted,
              "failed": run.failed, "metrics": metrics}
    detail = {k: v for k, v in run.detail.items() if k != "last_paths"}
    record = {"stamp": info, **result, "end_to_end": e2e,
              "samples": {k: spans.summarize(v)
                          for k, v in run.samples.items()},
              "detail": detail}
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                                f"-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"stamp": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report, exit non-zero, print no result
        traceback.print_exc()
        sys.exit(1)
