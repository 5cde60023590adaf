"""Measure bucketed-merge batch cost vs n_buckets (OPTIMIZATION r11,
VERDICT "Next #4"): for each target multiplier, seed identical targets at
several bucket counts and time 20-row / 200-row merges into each,
interleaved round-robin so host-load drift hits every variant equally.
Also records the seeded target's on-disk bytes so the advisory
bytes-per-bucket rule can be derived from data, not guessed.

Measurement only; no product code is modified.

Usage: python tools/nbuckets_sweep.py [sf_dir] [mults] [buckets] [reps]
       defaults: /root/testdata/sf0.1  1,8,32  32,64,256,1024  2
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _d, files in os.walk(path):
        for fn in files:
            total += os.stat(os.path.join(root, fn)).st_size
    return total


def main() -> int:
    from pyspark.sql import functions as F

    from dbsync_spark.session import get_spark
    from dbsync_spark.sinks.table import BucketedTable

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    mults = [int(x) for x in (sys.argv[2] if len(sys.argv) > 2
                              else "1,8,32").split(",")]
    buckets = [int(x) for x in (sys.argv[3] if len(sys.argv) > 3
                                else "32,64,256,1024").split(",")]
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 2
    spark = get_spark("nbuckets-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    li_df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    keys2 = ["l_orderkey", "l_linenumber"]

    def _direct_changes(li):
        key_id = (F.col("l_orderkey") * 8
                  + F.col("l_linenumber")).cast("long")
        return li.select(key_id.alias("id"), F.lit("I").alias("operation"),
                         *li.columns)

    workdir = tempfile.mkdtemp(prefix="nbuckets_sweep_")
    results: list[dict] = []
    for mult in mults:
        scaled = li_df if mult == 1 else li_df.withColumn(
            "l_orderkey", F.explode(F.array(
                *[F.col("l_orderkey") * mult + i for i in range(mult)])))
        big = _direct_changes(scaled).localCheckpoint()
        small200 = big.orderBy("id").limit(200).localCheckpoint()
        small20 = big.orderBy("id").limit(20).localCheckpoint()
        tables = {}
        for nb in buckets:
            spark.sparkContext.setJobDescription(
                f"sweep: seed mult={mult} nb={nb}")
            bt = BucketedTable(f"{workdir}/m{mult}_b{nb}", keys2,
                               n_buckets=nb)
            bt.merge_changes(spark, big, keys2, pinned=True)
            tables[nb] = bt
        tbytes = dir_bytes(tables[buckets[0]].data_path)
        # interleave variants: rep-major, bucket-minor, so a stall window
        # cannot favour one bucket count
        cells: dict[tuple, list] = {}
        for rep in range(reps):
            for nb in buckets:
                for label, small in (("20", small20), ("200", small200)):
                    spark.sparkContext.setJobDescription(
                        f"sweep: merge{label} mult={mult} nb={nb} rep={rep}")
                    t0 = time.monotonic()
                    tables[nb].merge_changes(spark, small, keys2)
                    dt = round(time.monotonic() - t0, 3)
                    cells.setdefault((nb, label), []).append(dt)
        for (nb, label), secs in sorted(cells.items()):
            row = {"mult": mult, "n_buckets": nb, "batch_rows": int(label),
                   "target_bytes": tbytes, "secs": secs,
                   "best": min(secs)}
            results.append(row)
            print(json.dumps(row), flush=True)
    out = {"sf_dir": sf_dir, "results": results}
    with open(os.path.join(REPO, "NBUCKETS_SWEEP.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
