"""Parameter sweep for the 10k-vocab BPE bench cell (judge r9 item #5:
345 rounds x ~0.6 s driver floor IS the cost; merges/round tail mean
29.8 of batch_k=32 — the non-conflict scan exhausts the 1024 pool at
~30 selections, so adaptive doubling never triggers). Hypothesis: the
top of the pool concentrates on few hot symbols; a DEEPER pool admits
rarer-symbol pairs and unlocks bigger non-conflicting batches, cutting
rounds (and the driver floor) proportionally.

Runs bpe_train_incremental on the bench cell's exact trigram corpus at
each (pool, batch_k, adaptive) config and reports wall, rounds,
merges/round. The recurrence stays the pinned one — only its
PARAMETERS change, which the bench cell owns (the oracle cells q_bpe /
q_token_count_bpe keep their own parameters and are untouched).

Usage: python tools/bpe_tune.py [sf_dir] [config...]
  config = pool:batch_k:adaptive, e.g. 1024:32:1 4096:64:1 4096:128:0
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    from pyspark.sql import functions as F

    from dbsync_spark.functions.bpe import bpe_train_incremental
    from dbsync_spark.session import get_spark
    from dbsync_spark.sources.tables import read_table

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    configs = sys.argv[2:] or ["1024:32:1", "4096:64:1", "4096:128:0",
                               "8192:128:1"]
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    spark = get_spark("bpe-tune")
    spark.sparkContext.setLogLevel("ERROR")

    # the bench cell's trigram-word corpus, verbatim (bench.py)
    docs = read_table(spark, sf_dir, "documents")
    _toks = F.split(F.col("text"), " ")
    _tri = F.array_join(
        F.zip_with(F.slice(_toks, 1, F.size(_toks) - 2),
                   F.zip_with(F.slice(_toks, 2, F.size(_toks) - 2),
                              F.slice(_toks, 3, F.size(_toks) - 2),
                              lambda a, b: F.concat(a, b)),
                   lambda a, b: F.concat(a, b)), " ")
    tri_docs = docs.select("doc_id", _tri.alias("text"))

    out = {}
    for cfg in configs:
        pool, bk, ad = cfg.split(":")
        pool, bk, ad = int(pool), int(bk), bool(int(ad))
        t0 = time.time()
        merges, _, stats = bpe_train_incremental(
            tri_docs, n_rounds=600, batch_k=bk, pool=pool, adaptive=ad,
            target_merges=10_000)
        wall = round(time.time() - t0, 1)
        secs = [s[3] for s in stats]
        q = max(len(secs) // 4, 1)
        out[cfg] = {
            "wall_s": wall, "n_merges": len(merges),
            "n_rounds": len(stats),
            "merges_per_round_tail_mean": round(
                sum(s[1] for s in stats[-q:]) / q, 1),
            "round_secs_last_quarter_mean": round(sum(secs[-q:]) / q, 3),
            "first_40_merges": [m[2] + "+" + m[3] for m in merges[:40]],
        }
        print(cfg, json.dumps({k: v for k, v in out[cfg].items()
                               if k != "first_40_merges"}), flush=True)
    with open("/tmp/bpe_tune.json", "w") as fh:
        json.dump(out, fh, indent=1)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
