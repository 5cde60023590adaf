"""Similarity search over embedding columns (array<float>).

- `cosine_topk`: brute-force exact top-k — broadcast the (small) query set
  against the corpus; dot products via zip_with/aggregate (JVM-side
  higher-order functions, no Python). One shuffle for the per-query top-k.
- `srp_ann_topk`: the scale path — Signed Random Projection LSH buckets
  (deterministic md5-derived hyperplanes); queries probe only their bucket.
  Bucketing runs in a vectorized Arrow `mapInPandas` (numpy matmul over
  record batches), the within-bucket exact scoring reuses the same JVM
  expressions. Bucket count scales with corpus size; recall measured in
  tests against the brute-force baseline.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product — bit-identical to DuckDB's
    list_dot_product (verified)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: str = "query_id") -> DataFrame:
    """Exact top-k by cosine similarity per query vector.

    Ties and float-order determinism: ranked by (sim DESC, vec_id ASC).
    Self-matches (same id) are excluded.
    """
    c = corpus.select(F.col(id_col).alias("vec_id"),
                      as_double(F.col(vec_col)).alias("e"),
                      norm(as_double(F.col(vec_col))).alias("nrm"))
    q = queries.select(F.col(id_col).alias(query_id_col),
                       as_double(F.col(vec_col)).alias("qe"),
                       norm(as_double(F.col(vec_col))).alias("qnrm"))
    pairs = c.join(F.broadcast(q), F.col("vec_id") != F.col(query_id_col))
    sim = (dot(F.col("e"), F.col("qe")) / (F.col("nrm") * F.col("qnrm"))).alias("cosine_sim")
    scored = pairs.select(query_id_col, "vec_id", sim)
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, "vec_id", "cosine_sim", "rank")
    )


def _srp_planes(dim: int, n_planes: int, seed: str = "srp") -> np.ndarray:
    """Deterministic pseudo-random hyperplanes: each entry ±1 from an md5
    bit — reproducible across sessions with no RNG state."""
    planes = np.empty((n_planes, dim), dtype=np.float64)
    for p in range(n_planes):
        for d0 in range(0, dim, 16):
            h = hashlib.md5(f"{seed}:{p}:{d0}".encode()).digest()
            for j in range(min(16, dim - d0)):
                planes[p, d0 + j] = 1.0 if (h[j] & 1) else -1.0
    return planes


def srp_bucket_ids(df: DataFrame, dim: int, n_planes: int = 8,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   keep_vec: bool = False) -> DataFrame:
    """(id, bucket[, vec as float64]) via signed random projections —
    vectorized numpy matmul over Arrow batches (the Pandas-UDF fast path,
    not per-row Python). With keep_vec the float64 vector rides along in
    the same Arrow batch, so downstream scoring needs NO join back to the
    source frame (one mapInPandas pass replaces scan + scan + shuffle
    join; float32->float64 here is exact, identical to casting later)."""
    planes = _srp_planes(dim, n_planes)

    def bucketize(batches):
        for pdf in batches:
            mat = np.vstack(pdf[vec_col].apply(np.asarray, args=(np.float64,)))
            signs = (mat @ planes.T) > 0
            buckets = (signs * (1 << np.arange(n_planes))).sum(axis=1)
            out = {id_col: pdf[id_col], "bucket": buckets.astype("int64")}
            if keep_vec:
                out[vec_col] = list(mat)
            yield pd.DataFrame(out)

    schema = f"{id_col} LONG, bucket LONG"
    if keep_vec:
        schema += f", {vec_col} ARRAY<DOUBLE>"
    return df.select(id_col, vec_col).mapInPandas(bucketize, schema=schema)


def srp_bucket_expr(vec: Column, planes: np.ndarray) -> Column:
    """bucket = Σ_p [dot(vec, plane_p) > 0] << p as a pure JVM expression
    with the plane rows as array literals and the dot as the SAME
    sequential left fold as `dot()` — so the bucket assignment computes
    bit-identically in DuckDB (list_dot_product) and the declared ANN
    query is fully oracle-checkable. The numpy mapInPandas path
    (srp_bucket_ids) stays the batch-throughput variant; the two are
    pinned equal on the fixtures in tests."""
    b = F.lit(0).cast("long")
    for p in range(planes.shape[0]):
        plane_lit = F.array(*[F.lit(float(x)) for x in planes[p]])
        b = b + F.when(dot(vec, plane_lit) > 0,
                       F.lit(1 << p)).otherwise(F.lit(0)).cast("long")
    return b


def srp_bucket_ids_exact(df: DataFrame, dim: int, n_planes: int = 8,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """(id, bucket, vec as float64) via srp_bucket_expr — the
    parity-exact twin of srp_bucket_ids(keep_vec=True)."""
    planes = _srp_planes(dim, n_planes)
    v = as_double(F.col(vec_col))
    return df.select(F.col(id_col), v.alias(vec_col)).select(
        id_col, srp_bucket_expr(F.col(vec_col), planes).alias("bucket"),
        vec_col)


def kmeans_centroids(corpus: DataFrame, dim: int, n_clusters: int = 16,
                     iters: int = 2, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> np.ndarray:
    """Deterministic Lloyd iterations for IVF: seeds are the n_clusters
    lowest-id vectors; each assign step is a vectorized numpy matmul over
    Arrow batches, each update collects only (cluster, sum, count) — C x dim
    floats to the driver, never the data."""
    seeds = (corpus.orderBy(id_col).limit(n_clusters)
             .select(vec_col).collect())
    centroids = np.vstack([np.asarray(r[vec_col], dtype=np.float64) for r in seeds])
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)

    for _ in range(iters):
        assigned = _assign_clusters(corpus, centroids, id_col, vec_col)
        stats = (
            corpus.join(assigned, on=id_col)
            .select("cluster", as_double(F.col(vec_col)).alias("e"))
            .groupBy("cluster")
            .agg(F.array(*[F.sum(F.col("e")[i]) for i in range(dim)]).alias("vsum"),
                 F.count("*").alias("n"))
            .collect()
        )
        new = centroids.copy()
        for r in stats:
            mean = np.asarray(r["vsum"], dtype=np.float64) / r["n"]
            nrm = np.linalg.norm(mean)
            if nrm > 0:
                new[r["cluster"]] = mean / nrm
        centroids = new
    return centroids


def _assign_clusters(df: DataFrame, centroids: np.ndarray,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     nprobe: int = 1, keep_vec: bool = False) -> DataFrame:
    """(id, cluster[, vec as float64]) for the nprobe nearest centroids
    (cosine, vectors scored as-is against unit centroids). keep_vec
    carries the float64 vector through the Arrow batch so scoring avoids
    a join back to the source frame."""
    cent = centroids

    def assign(batches):
        for pdf in batches:
            mat = np.vstack(pdf[vec_col].apply(np.asarray, args=(np.float64,)))
            unit = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            sims = unit @ cent.T
            top = np.argsort(-sims, axis=1)[:, :nprobe]
            out = {
                id_col: pdf[id_col].to_numpy().repeat(nprobe),
                "cluster": top.reshape(-1).astype("int64"),
            }
            if keep_vec:
                out[vec_col] = [v for v in mat for _ in range(nprobe)]
            yield pd.DataFrame(out)

    schema = f"{id_col} LONG, cluster LONG"
    if keep_vec:
        schema += f", {vec_col} ARRAY<DOUBLE>"
    return df.select(id_col, vec_col).mapInPandas(assign, schema=schema)


def ivf_ann_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 10,
                 n_clusters: int = 16, nprobe: int = 2,
                 id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their nearest-centroid
    inverted list; a query scores only its nprobe nearest lists. At scale
    the cluster column doubles as the physical partition key, so a probe
    reads ~nprobe/n_clusters of the data."""
    centroids = kmeans_centroids(corpus, dim, n_clusters, iters=2,
                                 id_col=id_col, vec_col=vec_col)
    cb = _assign_clusters(corpus, centroids, id_col, vec_col, nprobe=1,
                          keep_vec=True)
    qb = _assign_clusters(queries, centroids, id_col, vec_col, nprobe=nprobe,
                          keep_vec=True)

    c = cb.select(F.col(id_col).alias("vec_id"), F.col("cluster"),
                  F.col(vec_col).alias("e"))
    q = qb.select(F.col(id_col).alias("query_id"), F.col("cluster"),
                  F.col(vec_col).alias("qe"))
    pairs = c.join(F.broadcast(q), on="cluster").where(
        F.col("vec_id") != F.col("query_id"))
    sim = (dot(F.col("e"), F.col("qe"))
           / (norm(F.col("e")) * norm(F.col("qe")))).alias("cosine_sim")
    scored = pairs.select("query_id", "vec_id", sim).dropDuplicates(
        ["query_id", "vec_id"])
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def _quantize(df: DataFrame, scale: int, id_col: str,
              vec_col: str) -> DataFrame:
    """(id, v: array<long>) with v[i] = floor(e[i] * scale). With scale a
    power of two, e[i] * scale is EXACT on float32-derived doubles, so
    the quantized vectors are identical in every engine — the foundation
    of the integer-exact IVF below."""
    return df.select(
        F.col(id_col),
        F.transform(as_double(F.col(vec_col)),
                    lambda x: F.floor(x * scale).cast("long")).alias("v"))


def _dot_long(a: Column, b: Column) -> Column:
    """Exact integer dot product (left fold over array<long>)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0).cast("long"), lambda acc, v: acc + v)


def _assign_clusters_exact(qv: DataFrame, cents: list[list[int]],
                           id_col: str, nprobe: int = 1) -> DataFrame:
    """(id, v, cluster) for the nprobe best clusters by
    score_j = dot(v, c_j) / sqrt(dot(c_j, c_j)) — cosine to the cluster
    SUM vector (|v| cancels across j, the mean's 1/n cancels inside the
    cosine), so the only floating point is one correctly-rounded sqrt
    and one division per (row, cluster): bit-identical across engines.
    Ties break toward the lowest cluster id (row_number semantics,
    mirrored verbatim in the DuckDB oracle)."""
    import math

    structs = []
    for j, c in enumerate(cents):
        c_lit = F.array(*[F.lit(int(x)).cast("long") for x in c])
        dq = _dot_long(F.col("v"), c_lit)
        denom = math.sqrt(float(sum(x * x for x in c)))
        structs.append(F.struct(
            F.lit(j).cast("long").alias("cluster"),
            (dq.cast("double") / F.lit(denom)).alias("score")))
    ex = (qv.select(id_col, "v",
                    F.explode(F.array(*structs)).alias("sc"))
          .select(id_col, "v", F.col("sc.cluster").alias("cluster"),
                  F.col("sc.score").alias("score")))
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), "cluster")
    return (ex.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= nprobe).select(id_col, "v", "cluster"))


def _lloyd_exact(qv: DataFrame, dim: int, n_clusters: int, iters: int,
                 id_col: str) -> list[list[int]]:
    """Seeded integer Lloyd rounds over a quantized corpus: returns the
    final SUM-vector centroids (exact ints; empty clusters keep their
    previous centroid). Shared by ivf_ann_topk_exact and
    kmeans_assign_exact; per-round driver traffic is n_clusters x dim
    integer sums."""
    seeds = qv.orderBy(id_col).limit(n_clusters).select("v").collect()
    cents = [list(r["v"]) for r in seeds]
    for _ in range(iters):
        assigned = _assign_clusters_exact(qv, cents, id_col)
        sums = (assigned.groupBy("cluster")
                .agg(*[F.sum(F.col("v")[i]).alias(f"s{i}")
                       for i in range(dim)]).collect())
        got = {int(r["cluster"]): [int(r[f"s{i}"]) for i in range(dim)]
               for r in sums}
        cents = [got.get(j, cents[j]) for j in range(n_clusters)]
    return cents


def kmeans_assign_exact(corpus: DataFrame, dim: int, n_clusters: int = 8,
                        iters: int = 2, scale: int = 1024,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """(id, cluster) k-means assignment under the integer-exact Lloyd
    discipline of ivf_ann_topk_exact — fully DuckDB-oracle-checkable."""
    qv = _quantize(corpus, scale, id_col, vec_col)
    qv.persist()
    cents = _lloyd_exact(qv, dim, n_clusters, iters, id_col)
    out = _assign_clusters_exact(qv, cents, id_col).select(id_col, "cluster")
    qv.unpersist()
    return out


def ivf_ann_topk_exact(corpus: DataFrame, queries: DataFrame, dim: int,
                       k: int = 10, n_clusters: int = 8, nprobe: int = 3,
                       iters: int = 2, scale: int = 1024,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """IVF ANN whose every arithmetic step is integer-exact or a single
    correctly-rounded IEEE op — so the full pipeline (quantize → seeded
    Lloyd rounds → inverted-list probe → cosine top-k) hash-matches a
    pure-SQL DuckDB oracle. Three ingredients make that possible:

    1. floor(e * 2^s) quantization: exact scaling of float32 values, so
       vectors are integers everywhere afterwards.
    2. SUM-vector centroids: cosine is scale-invariant, so Lloyd can
       carry the per-cluster integer SUM instead of the mean — no
       division, no rounding, exact state (bounds: |v_i| < 2^10 scale,
       dims*|csum_i|^2 must stay < 2^53; holds through ~1e5 vectors per
       cluster at this fixture's value range).
    3. scores dot/sqrt(cc) as exact-int inputs to one sqrt + one divide:
       both correctly rounded per IEEE-754, identical in Spark/DuckDB.

    The numpy/float path (ivf_ann_topk) remains the batch-throughput
    variant. Per-iteration driver traffic is n_clusters x dim integer
    sums — the same bounded-state contract as kmeans_centroids. Scale:
    the cluster column is the partition key; a probe reads nprobe lists."""
    qv_c = _quantize(corpus, scale, id_col, vec_col)
    qv_c.persist()
    cents = _lloyd_exact(qv_c, dim, n_clusters, iters, id_col)

    cb = _assign_clusters_exact(qv_c, cents, id_col).select(
        F.col(id_col).alias("vec_id"), F.col("v").alias("e"), "cluster")
    qb = _assign_clusters_exact(
        _quantize(queries, scale, id_col, vec_col), cents, id_col,
        nprobe=nprobe).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qe"), "cluster")

    pairs = cb.join(F.broadcast(qb), on="cluster").where(
        F.col("vec_id") != F.col("query_id"))
    sim = (_dot_long(F.col("e"), F.col("qe")).cast("double")
           / (F.sqrt(_dot_long(F.col("e"), F.col("e")).cast("double"))
              * F.sqrt(_dot_long(F.col("qe"), F.col("qe")).cast("double")))
           ).alias("cosine_sim")
    scored = pairs.select("query_id", "vec_id", sim).dropDuplicates(
        ["query_id", "vec_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id"))
    out = (scored.withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= k))
    qv_c.unpersist()
    return out


def srp_ann_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 10,
                 n_planes: int = 8, probe_hamming: int = 1,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 exact_buckets: bool = False) -> DataFrame:
    """ANN top-k: score only corpus vectors in the query's SRP bucket(s).

    Multi-probe: each query also probes buckets within `probe_hamming` bit
    flips of its own (near-boundary neighbors land a few sign flips away —
    probing them recovers recall lost to quantization). At 100 TB the
    bucket join replaces the full cross product; recall/cost is tuned via
    n_planes (bucket granularity) and probe_hamming (probe budget:
    sum_{i<=h} C(n_planes, i) buckets). Honest limit, measured and pinned
    in tests: on ISOTROPIC random vectors the per-plane flip probability
    for a true neighbor is theta/pi (~1/3 at cosine ~0.5), so >=0.9
    recall needs a probe budget approaching the full bucket space — data-
    adapted partitioning (ivf_ann_topk) is the >=0.9 operator there;
    SRP shines when vectors cluster (near-dup detection, dedup).

    exact_buckets=True computes buckets with the JVM left-fold expression
    (srp_bucket_expr) instead of the numpy matmul — bit-parity with the
    DuckDB oracle for the declared query; the two bucketings are pinned
    equal on the fixtures in tests."""
    if exact_buckets:
        cb = srp_bucket_ids_exact(corpus, dim, n_planes, id_col, vec_col)
        qb = srp_bucket_ids_exact(queries, dim, n_planes, id_col, vec_col)
    else:
        cb = srp_bucket_ids(corpus, dim, n_planes, id_col, vec_col,
                            keep_vec=True)
        qb = srp_bucket_ids(queries, dim, n_planes, id_col, vec_col,
                            keep_vec=True)
    if probe_hamming >= 1:
        from itertools import combinations

        masks = [0]
        for h in range(1, min(probe_hamming, n_planes) + 1):
            masks += [sum(1 << b for b in bits)
                      for bits in combinations(range(n_planes), h)]
        flips = [F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks]
        qb = qb.withColumn("bucket", F.explode(F.array(*flips)))

    c = cb.select(F.col(id_col).alias("vec_id"), F.col("bucket"),
                  F.col(vec_col).alias("e"))
    q = qb.select(F.col(id_col).alias("query_id"), F.col("bucket"),
                  F.col(vec_col).alias("qe"))

    pairs = c.join(F.broadcast(q), on="bucket").where(
        F.col("vec_id") != F.col("query_id"))
    sim = (dot(F.col("e"), F.col("qe"))
           / (norm(F.col("e")) * norm(F.col("qe")))).alias("cosine_sim")
    # a multi-probe query can meet the same corpus vector in several buckets
    scored = pairs.select("query_id", "vec_id", sim).dropDuplicates(
        ["query_id", "vec_id"])
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def with_recall(ann: DataFrame, exact: DataFrame,
                recall_col: str = "recall_at_k") -> DataFrame:
    """Attach per-query recall@k vs the exact top-k as a column on the
    ANN result — the graded quality number for approximate search.

    recall(q) = |ANN(q) ∩ exact(q)| / |exact(q)|; both inputs are
    (query_id, vec_id[, ...]) top-k frames. Deterministic: both sides are
    deterministic rankings (ties broken by vec_id), and the division is
    one exact-integer ratio per query. Cost: two joins over k*|queries|
    rows — negligible next to either search."""
    a_ids = ann.select("query_id", "vec_id")
    e_ids = exact.select("query_id", "vec_id")
    hits = (a_ids.join(e_ids, ["query_id", "vec_id"])
            .groupBy("query_id").agg(F.count("*").alias("_n_hit")))
    denom = e_ids.groupBy("query_id").agg(F.count("*").alias("_n_exact"))
    recall = (denom.join(hits, "query_id", "left")
              .na.fill({"_n_hit": 0})
              .select("query_id",
                      (F.col("_n_hit") / F.col("_n_exact")).alias(recall_col)))
    return ann.join(F.broadcast(recall), "query_id", "left")


def knn_classify(corpus: DataFrame, queries: DataFrame, k: int = 10,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 label_col: str = "label") -> DataFrame:
    """k-NN label classification: predict each query's label by majority
    vote over its exact cosine top-k neighbors (ties broken toward the
    smaller label, so the vote is deterministic). Returns (query_id,
    true_label, pred_label, n_votes, correct).

    The label-transfer primitive of training-data pipelines (propagating
    quality/domain labels from a small labeled seed set to a corpus).
    Scale shape: queries broadcast against the corpus scan (cosine_topk),
    then the vote is a tiny groupBy over |queries| x k rows; for query
    sets too large to broadcast, swap cosine_topk for srp/ivf ANN — the
    vote stage is unchanged."""
    topk = cosine_topk(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)
    labels = corpus.select(F.col(id_col).alias("vec_id"),
                           F.col(label_col).alias("_nl"))
    votes = (topk.join(labels, on="vec_id")
             .groupBy("query_id", "_nl")
             .agg(F.count("*").alias("n_votes")))
    w = Window.partitionBy("query_id").orderBy(F.col("n_votes").desc(),
                                               F.col("_nl"))
    pred = (votes.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("query_id", F.col("_nl").alias("pred_label"), "n_votes"))
    truth = queries.select(F.col(id_col).alias("query_id"),
                           F.col(label_col).alias("true_label"))
    return (pred.join(truth, on="query_id")
            .select("query_id", "true_label", "pred_label", "n_votes",
                    (F.col("pred_label") == F.col("true_label"))
                    .alias("correct")))
