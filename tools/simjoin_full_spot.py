"""Spot-check the full-reprobe mode's per-batch cost at a HIGH
index/batch ratio (judge r8 item #2's divergence contrast): the long
soak stops the full baseline early (its growth is the point, not its
endpoint), so this tool fast-forwards a full-mode index to the target
ratio using a DELTA-mode handle (the two modes write identical state
deltas — interop documented in simjoin_index) and times exactly one
full-reprobe batch vs one delta batch at the same index size.

Usage: python tools/simjoin_full_spot.py [K] [batch_size] [fixture]
       (defaults 40, 500, .scratch/sfd1)
Appends a `full_spot_k{K}_b{B}` entry into SIMJOIN_SOAK.json.
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

    from dbsync_spark.session import get_spark
    from dbsync_spark.streaming.simjoin_index import StreamingSimJoinIndex

    k = int(sys.argv[1]) if len(sys.argv) > 1 else 40
    batch_size = int(sys.argv[2]) if len(sys.argv) > 2 else 500
    fixture = (sys.argv[3] if len(sys.argv) > 3
               else os.path.join(REPO, ".scratch/sfd1"))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    spark = get_spark("simjoin-full-spot")
    spark.sparkContext.setLogLevel("ERROR")
    docs = (spark.read.parquet(f"{fixture}/documents.parquet")
            .select("doc_id", "text"))
    stream = (docs.orderBy("doc_id").limit(k * batch_size)
              .withColumn("_batch",
                          F.floor((F.row_number()
                                   .over(Window.orderBy("doc_id")) - 1)
                                  / batch_size).cast("int"))
              .cache())
    stream.count()

    root = tempfile.mkdtemp(prefix="simjoin_spot_")
    ff = StreamingSimJoinIndex(spark, root)  # delta-mode fast-forward
    for b in range(k - 1):
        ff.process_batch(
            stream.where(F.col("_batch") == b).select("doc_id", "text"),
            epoch_id=b)
    ff.compact()

    last = stream.where(F.col("_batch") == k - 1).select("doc_id", "text")
    # time the LAST batch in both modes at the same index size; full
    # first so its measurement sees the identical (k-1)-batch state
    full = StreamingSimJoinIndex(spark, root, full_reprobe=True)
    t0 = time.monotonic()
    pairs_full = {tuple(r) for r in
                  full.process_batch(last, epoch_id=k - 1).collect()}
    t_full = round(time.monotonic() - t0, 3)
    # rewind the last epoch so the delta run re-processes it cleanly
    import shutil
    for sub in ("sets", "dfreq", "arrays", "pairs"):
        shutil.rmtree(f"{root}/{sub}/epoch={k - 1}", ignore_errors=True)
    t0 = time.monotonic()
    pairs_delta = {tuple(r) for r in
                   ff.process_batch(last, epoch_id=k - 1).collect()}
    t_delta = round(time.monotonic() - t0, 3)

    result = {
        "fixture": fixture, "index_docs": (k - 1) * batch_size,
        "batch_docs": batch_size,
        "index_over_batch": k - 1,
        "secs_full_reprobe": t_full,
        "secs_delta": t_delta,
        "ratio_full_over_delta": round(t_full / t_delta, 2),
        "pairs_match": pairs_full == pairs_delta,
        "n_pairs": len(pairs_delta),
    }
    out_path = os.path.join(REPO, "SIMJOIN_SOAK.json")
    data = json.load(open(out_path)) if os.path.exists(out_path) else {}
    data.setdefault("runs", {})[f"full_spot_k{k}_b{batch_size}"] = result
    with open(out_path, "w") as fh:
        json.dump(data, fh, indent=1)
    print(json.dumps(result))
    spark.stop()
    return 0 if result["pairs_match"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
