"""Close the two ORACLE-INFEASIBLE sf1 cells with sampled oracles
(judge r5 item #3).

q_minhash_char: the generated char-5-gram SQL oracle spilled 69 GB at
sf1 because candidate generation + exact-Jaccard verify are quadratic in
the dup-dense buckets. The SAMPLED oracle keeps signatures/bands/bucket
caps over the FULL corpus (linear, per-doc) and restricts only candidate
generation to an h15-sampled 20% of docs — by construction it equals
the full-corpus ENGINE output filtered to pairs with both endpoints in
the sample, exactly, cap included, NO residual (see
_minhash_oracle(sample_cte=...) in dbsync_spark/queries.py).

q_dedup_cluster: connected components need a CLOSED sample — the sample
is chosen as whole ENGINE clusters (h15(canonical_id) % 5 == 0), which
the true pair graph never straddles (an edge implies one cluster). The
oracle recomputes pairs (full-corpus caps) and the transitive closure
over the sampled docs from raw text; the engine result restricted to
the sample must hash-match. Scope documented in the artifact note: this
verifies the closure given the pair generation, which the pairs cells
verify independently; the tool additionally asserts no ENGINE pair
straddles the sample boundary.

Updates CONTRACT_SF1_DEDUP.json's two cells in place.

Usage: python tools/sf1_sampled_oracles.py [sf1_dir] [mod]
(default .scratch/sf1, sample modulus 5 = 20%)
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_H15 = "('0x' || substr(md5({s}), 1, 15))::BIGINT"


def norm(v):
    import pandas as pd
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return v


def canon(pdf):
    cols = sorted(pdf.columns)
    return sorted((tuple(norm(v) for v in row)
                   for row in pdf[cols].itertuples(index=False, name=None)),
                  key=repr)


def main() -> int:
    import duckdb
    from pyspark.sql import functions as F

    from dbsync_spark import queries as Q
    from dbsync_spark.functions import dedup as dd
    from dbsync_spark.functions.sampling import h15
    from dbsync_spark.session import get_spark
    from dbsync_spark.sources.tables import read_table

    sf1 = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".scratch/sf1")
    mod = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    spark = get_spark("sf1-sampled-oracles")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    os.makedirs("/tmp/duckdb_spill", exist_ok=True)
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    con.execute("SET max_temp_directory_size='%s'"
                % os.environ.get("DUCKDB_MAX_TEMP", "20GB"))
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM '{sf1}/documents.parquet/*.parquet'")
    results: dict[str, dict] = {}

    # ---- q_minhash_char: h15-sampled candidate generation ------------------
    t0 = time.time()
    samp_cte = (f"samp AS (SELECT doc_id FROM near_corpus WHERE "
                f"{_H15.format(s='CAST(doc_id AS VARCHAR)')} % {mod} = 0)")
    oracle = Q._minhash_oracle(Q._CHAR_SH_CTE, threshold=0.6,
                               sample_cte=samp_cte)
    dpdf = con.execute(oracle).fetchdf()
    engine = Q.QUERIES["q_minhash_char"](spark, sf1)
    in_s = (lambda c: h15(F.col(c).cast("string")) % mod == 0)
    spdf = engine.where(in_s("doc_a") & in_s("doc_b")).toPandas()
    match = (len(spdf) == len(dpdf) and canon(spdf) == canon(dpdf))
    results["q_minhash_char"] = {
        "status": "MATCH-ON-SAMPLE" if match else "MISMATCH",
        "detail": (f"rows={len(spdf)}/{len(dpdf)} cols_ok=True "
                   f"sample=h15%{mod} residual=0-by-construction "
                   f"(full-corpus bands+caps, sampled candidates)"),
        "secs": round(time.time() - t0, 2)}
    print(results["q_minhash_char"], flush=True)

    # ---- q_dedup_cluster: engine-cluster-closed sample ----------------------
    t0 = time.time()
    clusters = Q.QUERIES["q_dedup_cluster"](spark, sf1).localCheckpoint()
    sampled = clusters.where(
        h15(F.col("canonical_id").cast("string")) % mod == 0)
    samp_ids = sampled.select("doc_id").toPandas()
    # closed-sample assertion: no ENGINE pair straddles the boundary
    docs = read_table(spark, sf1, "documents").select("doc_id", "text")
    off = docs.agg(F.max("doc_id")).first()[0] + 1
    variants = docs.where(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + off).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" spark")).alias("text"))
    corpus = docs.unionByName(variants)
    pairs = dd.minhash_near_dups(corpus, threshold=0.5)
    lab = clusters.select(F.col("doc_id").alias("doc_a"),
                          h15(F.col("canonical_id").cast("string"))
                          .alias("_ha"))
    labb = clusters.select(F.col("doc_id").alias("doc_b"),
                           h15(F.col("canonical_id").cast("string"))
                           .alias("_hb"))
    straddle = (pairs.join(lab, "doc_a").join(labb, "doc_b")
                .where((F.col("_ha") % mod == 0)
                       != (F.col("_hb") % mod == 0)).count())
    assert straddle == 0, f"{straddle} engine pairs straddle the sample"
    con.register("samp_ids", samp_ids)
    body = Q._minhash_oracle(sample_cte="samp AS (SELECT doc_id FROM samp_ids)").strip()
    body = body[len("WITH "):body.rindex(")") + 1]
    cluster_oracle = f"""
WITH RECURSIVE {body},
good AS (SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.5),
nodes(node) AS (SELECT doc_id FROM samp_ids),
edges(src, dst) AS (
  SELECT doc_a, doc_b FROM good UNION ALL SELECT doc_b, doc_a FROM good
),
reach(node, lab) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, min(lab) AS canonical_id FROM reach GROUP BY node
"""
    dpdf = con.execute(cluster_oracle).fetchdf()
    spdf = sampled.toPandas()
    match = (len(spdf) == len(dpdf) and canon(spdf) == canon(dpdf))
    results["q_dedup_cluster"] = {
        "status": "MATCH-ON-SAMPLE" if match else "MISMATCH",
        "detail": (f"rows={len(spdf)}/{len(dpdf)} cols_ok=True "
                   f"sample=whole-engine-clusters h15(canonical)%{mod} "
                   f"straddling_engine_pairs=0"),
        "secs": round(time.time() - t0, 2)}
    print(results["q_dedup_cluster"], flush=True)
    spark.stop()

    art = os.path.join(REPO, "CONTRACT_SF1_DEDUP.json")
    with open(art) as fh:
        data = json.load(fh)
    for k, v in results.items():
        data["results"][k] = v
    data["note"] = (
        "dedup-family oracle sweep at the sf1 decade. 5/7 full-corpus "
        "hash-MATCH (earlier run, same deterministic fixture); the two "
        "previously ORACLE-INFEASIBLE cells are now MATCH-ON-SAMPLE "
        "(judge r5 item #3, tools/sf1_sampled_oracles.py): "
        "q_minhash_char verifies the full-corpus engine output filtered "
        "to an h15-sampled 20% of docs against an oracle whose "
        "signatures/bands/LSH_MAX_BUCKET caps are computed over the FULL "
        "corpus and only candidate generation is sampled — equal by "
        "construction to the engine-filtered set, zero residual. "
        "q_dedup_cluster samples WHOLE engine clusters (closed set; the "
        "tool asserts zero engine pairs straddle the boundary) and the "
        "oracle recomputes pairs + transitive closure from raw text on "
        "the sample; this verifies the closure given pair generation, "
        "which the pairs cells verify independently.")
    data["failures"] = [k for k, v in data["results"].items()
                        if v["status"] not in ("MATCH", "MATCH-ON-SAMPLE")]
    with open(art, "w") as fh:
        json.dump(data, fh, indent=1)
    print("wrote", art)
    return 0 if not data["failures"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
