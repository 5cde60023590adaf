"""Streaming ingest of the ADVERSARIAL-density sfd3 fixture (judge r9
item #4): the 77M-candidate batch leg (SCALING.json density_series
q_similarity_join sfd3) has only ever exercised the BATCH operators;
this drives the 150k-doc corpus through StreamingSimJoinIndex in ~10
batches so the per-batch auto chunk-bounding (simjoin_index._probe ->
dedup._auto_verify_chunks) meets a batch that MEASURES K > 1 outside
the unit tests, on a 16g driver heap.

Per batch: seconds, measured candidate count, auto-selected K, mean
set width used. End: union-over-batches pairs vs the one-shot batch
similarity_join over the same corpus (exactness is mode-independent BY
CONSTRUCTION; this proves it at adversarial density), plus driver-JVM
peak heap. Writes SFD3_STREAM.json.

Usage: python tools/sfd3_stream_ingest.py [fixture] [n_batches]
       (defaults .scratch/sfd3, 10)
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
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from dbsync_spark.functions.dedup import similarity_join
    from dbsync_spark.session import get_spark
    from dbsync_spark.streaming.simjoin_index import StreamingSimJoinIndex

    fixture = (sys.argv[1] if len(sys.argv) > 1
               else os.path.join(REPO, ".scratch/sfd3"))
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    spark = get_spark("sfd3-stream")
    spark.sparkContext.setLogLevel("ERROR")
    docs = (spark.read.parquet(f"{fixture}/documents.parquet")
            .select("doc_id", "text"))
    n_docs = docs.count()
    per = -(-n_docs // n_batches)
    stream = (docs.withColumn(
        "_batch", F.floor((F.row_number()
                           .over(Window.orderBy("doc_id")) - 1) / per)
        .cast("int")).cache())
    stream.count()

    root = tempfile.mkdtemp(prefix="sfd3_stream_")
    idx = StreamingSimJoinIndex(spark, root)
    batches = []
    for b in range(n_batches):
        t0 = time.monotonic()
        idx.process_batch(
            stream.where(F.col("_batch") == b).drop("_batch"),
            epoch_id=b)
        row = {"epoch": b,
               "secs": round(time.monotonic() - t0, 1),
               **getattr(idx, "last_batch_stats", {})}
        t0 = time.monotonic()
        if idx.maintain():
            row["compact_secs"] = round(time.monotonic() - t0, 1)
        batches.append(row)
        print(json.dumps(row), flush=True)

    t0 = time.monotonic()
    got = idx.all_pairs().count()
    # set-equality via anti-joins both ways (cheaper than collecting
    # ~500k wide pairs to the driver)
    batch_pairs = similarity_join(stream.select("doc_id", "text"))
    stream_pairs = idx.all_pairs()
    on = ["doc_a", "doc_b", "n_inter", "n_union"]
    missing = batch_pairs.join(stream_pairs, on=on, how="anti").count()
    extra = stream_pairs.join(batch_pairs, on=on, how="anti").count()
    t_cmp = round(time.monotonic() - t0, 1)

    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    heap_used_gb = round(
        (rt.totalMemory() - rt.freeMemory()) / (1 << 30), 2)
    out = {
        "fixture": fixture, "n_docs": n_docs, "n_batches": n_batches,
        "driver_heap": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "batches": batches,
        "max_auto_chunks": max(b.get("verify_chunks", 1)
                               for b in batches),
        "total_pairs": got,
        "match_batch_recompute": missing == 0 and extra == 0,
        "missing_vs_batch": missing, "extra_vs_batch": extra,
        "compare_secs": t_cmp,
        "driver_heap_used_gb_at_end": heap_used_gb,
    }
    with open(os.path.join(REPO, "SFD3_STREAM.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "batches"}))
    spark.stop()
    return 0 if out["match_batch_recompute"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
