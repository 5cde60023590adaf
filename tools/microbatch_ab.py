"""A/B the bucketed microbatch pipeline's per-batch floor: fixed
n_buckets=64 (the pre-r11 default) vs auto-sizing (n_buckets=None),
interleaved so host drift hits both variants equally.

Measurement only. Usage: python tools/microbatch_ab.py [sf_dir] [reps]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    from dbsync_spark.changelog import ORDERS_PAYLOAD_SCHEMA, build_log_orders
    from dbsync_spark.operators.route import SyncRule
    from dbsync_spark.session import get_spark
    from dbsync_spark.streaming.pipeline import SyncPipeline

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("microbatch-ab")
    spark.sparkContext.setLogLevel("ERROR")
    workdir = tempfile.mkdtemp(prefix="mb_ab_")
    olog = build_log_orders(spark, sf_dir).cache()
    olog.count()
    (olog.repartition(6).write.mode("overwrite").parquet(f"{workdir}/slog"))

    runs: dict[str, list[float]] = {"fixed64": [], "auto": []}
    n = 0
    for rep in range(reps):
        for variant, nb in (("fixed64", 64), ("auto", None)):
            n += 1
            spark.sparkContext.setJobDescription(
                f"mb_ab: {variant} rep={rep}")
            pipe = SyncPipeline(
                spark, SyncRule("db1", "public", "orders", ("o_orderkey",)),
                ORDERS_PAYLOAD_SCHEMA,
                log_path=f"{workdir}/slog",
                target_path=f"{workdir}/t{n}",
                status_path=f"{workdir}/s{n}",
                checkpoint_path=f"{workdir}/c{n}",
                max_files_per_trigger=1, target_layout="bucketed",
                n_buckets=nb)
            t0 = time.monotonic()
            pipe.run_to_completion()
            dt = round(time.monotonic() - t0, 3)
            runs[variant].append(dt)
            end_nb = pipe.target.n_buckets
            print(json.dumps({"variant": variant, "rep": rep, "secs": dt,
                              "end_n_buckets": end_nb}), flush=True)
    print(json.dumps({k: {"best": min(v), "all": v}
                      for k, v in runs.items()}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
