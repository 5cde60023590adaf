"""Stage-level profile of ONE StreamingSimJoinIndex batch at the soak's
k40 conditions (judge r9 item #2: the ~15 s per-batch FIXED floor —
3 delta writes + probe — dominates below ~40x index/batch; find where
it actually goes before cutting it).

Ingests `warmup` batches quietly, then times the next batch with the
index's own methods wrapped: per-stage wall seconds for the prune
collects, the three delta writes, the candidate measure pass, and the
verify+write remainder.

Usage: python tools/simjoin_profile.py [warmup] [batch_size] [fixture]
       (defaults 20, 500, .scratch/sfd1)
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

    import dbsync_spark.streaming.simjoin_index as sji
    from dbsync_spark.session import get_spark

    warmup = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    batch_size = int(sys.argv[2]) if len(sys.argv) > 2 else 500
    fixture = (sys.argv[3] if len(sys.argv) > 3
               else os.path.join(REPO, ".scratch/sfd1"))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    spark = get_spark("simjoin-profile")
    spark.sparkContext.setLogLevel("ERROR")
    docs = (spark.read.parquet(f"{fixture}/documents.parquet")
            .select("doc_id", "text"))
    n = (warmup + 1) * batch_size
    stream = (docs.orderBy("doc_id").limit(n)
              .withColumn("_batch",
                          F.floor((F.row_number()
                                   .over(Window.orderBy("doc_id")) - 1)
                                  / batch_size).cast("int"))
              .cache())
    stream.count()

    root = tempfile.mkdtemp(prefix="simjoin_profile_")
    idx = sji.StreamingSimJoinIndex(spark, root)
    for e in range(warmup):
        idx.process_batch(
            stream.where(F.col("_batch") == e).drop("_batch"), epoch_id=e)
        idx.maintain()  # file-count-triggered, the deployed cadence

    timings: dict[str, float] = {}

    def wrap(obj, name, label=None):
        fn = getattr(obj, name)
        key = label or name

        def timed(*a, **kw):
            t0 = time.time()
            out = fn(*a, **kw)
            timings[key] = timings.get(key, 0.0) + time.time() - t0
            return out

        setattr(obj, name, timed)
        return fn

    orig_prune = idx._prune_info
    prune_calls: list[float] = []

    def timed_prune(df, col):
        t0 = time.time()
        out = orig_prune(df, col)
        prune_calls.append(time.time() - t0)
        return out

    idx._prune_info = timed_prune
    wrap(idx, "_write_deltas")
    wrap(idx, "_probe")
    # the probe reads before-epoch state only
    wrap(idx, "_state", "_state_before")
    wrap(idx, "_batch_frames")
    wrap(idx, "_dfreq_for")
    orig_cu = sji._chunked_union

    def timed_cu(*a, **kw):
        t0 = time.time()
        out = orig_cu(*a, **kw)
        timings["chunked_union"] = time.time() - t0
        return out

    sji._chunked_union = timed_cu
    orig_measure = sji._measure_for_chunks

    def timed_measure(*a, **kw):
        t0 = time.time()
        out = orig_measure(*a, **kw)
        timings["measure_for_chunks"] = time.time() - t0
        return out

    sji._measure_for_chunks = timed_measure

    t0 = time.time()
    idx.process_batch(
        stream.where(F.col("_batch") == warmup).drop("_batch"),
        epoch_id=warmup)
    total = time.time() - t0
    sji._measure_for_chunks = orig_measure

    out = {
        "warmup_batches": warmup,
        "batch_size": batch_size,
        "total_s": round(total, 3),
        "prune_collects_s": [round(t, 3) for t in prune_calls],
        "write_deltas_s": round(timings.get("_write_deltas", 0), 3),
        "probe_s": round(timings.get("_probe", 0), 3),
        "measure_for_chunks_s": round(
            timings.get("measure_for_chunks", 0), 3),
        "state_before_s": round(timings.get("_state_before", 0), 3),
        "batch_frames_s": round(timings.get("_batch_frames", 0), 3),
        "dfreq_for_s": round(timings.get("_dfreq_for", 0), 3),
        "chunked_union_s": round(timings.get("chunked_union", 0), 3),
        "residual_s": round(
            total - timings.get("_write_deltas", 0)
            - timings.get("_probe", 0) - prune_calls[0], 3),
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
