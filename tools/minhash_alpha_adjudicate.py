"""Adjudicate q_minhash_char's sf1->sf3 size-decade alpha (judge r9
item #3: 1.156, the only >= 1.0 alpha left in SCALING.json): instrument
the leg's CANDIDATE mass per decade — band-bucket size distribution and
pre/post-cap candidate-pair counts — to attribute the exponent either
to demanded candidate growth on the saturated fixture (the
q_similarity_join density-ladder precedent) or to a superlinear plan
stage that needs fixing.

The fixture context: gen_sf1 copies are word PERMUTATIONS of copy 0 —
word shingles decorrelate but char 5-grams largely survive, and the
tiny synthetic vocabulary saturates char-gram space (NOTES round-4:
unrelated docs sit at char-Jaccard ~0.5). Tripling docs triples every
base-group's member count, so in-group candidate pairs grow ~9x per
group — quadratic demanded mass unless the LSH_MAX_BUCKET cap absorbs
it.

Writes MINHASH_ALPHA.json. Usage:
  python tools/minhash_alpha_adjudicate.py [sf1_dir] [sf3_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def measure(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from dbsync_spark.functions import dedup as dd
    from dbsync_spark.functions.dedup import (LSH_MAX_BUCKET,
                                              _row_local_bands,
                                              lsh_candidates)
    from dbsync_spark.sources.tables import read_table

    # exactly q_minhash_char's corpus construction
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    off = docs.agg(F.max("doc_id")).first()[0] + 1
    variants = docs.where(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + off).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" spark")).alias("text"))
    corpus = docs.unionByName(variants)
    shingle_fn = lambda c: dd.char_shingles(c, 5)  # noqa: E731

    t0 = time.time()
    bands = _row_local_bands(corpus, "text", "doc_id", 3, shingle_fn)
    sizes = (bands.groupBy("band", "band_key")
             .agg(F.count("*").alias("s")).persist())
    dist = sizes.agg(
        F.count("*").alias("n_buckets"),
        F.max("s").alias("max_bucket"),
        F.expr("percentile_approx(s, 0.99)").alias("p99_bucket"),
        F.sum(F.col("s") * (F.col("s") - 1) / 2).alias("precap_pairs"),
        F.sum(F.when(F.col("s") <= LSH_MAX_BUCKET,
                     F.col("s") * (F.col("s") - 1) / 2).otherwise(0))
        .alias("postcap_pair_gens"),
        F.sum(F.when(F.col("s") > LSH_MAX_BUCKET, 1).otherwise(0))
        .alias("capped_buckets"),
    ).first()
    t_dist = round(time.time() - t0, 1)

    t0 = time.time()
    n_cands = lsh_candidates(bands).count()  # applies the cap itself
    t_cands = round(time.time() - t0, 1)
    sizes.unpersist()
    n_docs = corpus.count()
    return {
        "sf_dir": sf_dir, "n_docs": n_docs,
        "n_buckets": dist.n_buckets,
        "max_bucket": dist.max_bucket,
        "p99_bucket": dist.p99_bucket,
        "precap_pair_generations": int(dist.precap_pairs),
        "postcap_pair_generations": int(dist.postcap_pair_gens),
        "capped_buckets": int(dist.capped_buckets),
        "distinct_candidates_postcap": n_cands,
        "secs_band_distribution": t_dist,
        "secs_candidates": t_cands,
    }


def main() -> int:
    from dbsync_spark.session import get_spark

    sf1 = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".scratch/sf1")
    sf3 = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, ".scratch/sf3")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    spark = get_spark("minhash-alpha")
    spark.sparkContext.setLogLevel("ERROR")
    import math

    out = {"legs": {}}
    for name, d in (("sf1", sf1), ("sf3", sf3)):
        out["legs"][name] = measure(spark, d)
        print(json.dumps(out["legs"][name]), flush=True)
    a, b = out["legs"]["sf1"], out["legs"]["sf3"]
    ratio_docs = b["n_docs"] / a["n_docs"]
    for key in ("precap_pair_generations", "postcap_pair_generations",
                "distinct_candidates_postcap"):
        r = b[key] / max(a[key], 1)
        out[f"growth_{key}"] = round(r, 3)
        out[f"alpha_{key}"] = round(math.log(r) / math.log(ratio_docs), 3)
    with open(os.path.join(REPO, "MINHASH_ALPHA.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "legs"}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
