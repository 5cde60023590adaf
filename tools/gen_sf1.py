"""Generate a 10x (sf1-equivalent) fixture from sf0.1 into
.scratch/sf1 (gitignored) — the extra decade for tools/scaling.py
(judge r3 item #4).

Replication is KEY-SPACE scaling, not row duplication games:
- dimensional tables (region, nation) copy verbatim;
- keyed tables replicate 10x with disjoint key offsets (foreign keys
  offset consistently, so joins keep their fan-out: each copy is a
  self-contained TPC-H-ish world);
- documents keep copy 0 verbatim and deterministically WORD-PERMUTE
  copies 1-9 (row-local keyed sort, no RNG): token volume and
  vocabulary are preserved but shingles/spans change, so the dedup
  family sees 10x genuine work instead of a 45x cross-copy
  duplicate-pair explosion that would measure the wrong thing;
- embeddings offset vec_id by the SAME offset as doc_id (the
  vec_id == doc_id fixture contract) and perturb each element with
  md5-derived noise for copies 1-9, breaking cross-copy near-dup
  structure for the same reason.

Usage: SPARK_GRAFT_SF_DIR=<sf0.1 dir> python tools/gen_sf1.py [out_dir] [copies]
       (defaults .scratch/sf1, 10; copies=30 writes the
        sf3-equivalent decade-and-a-half fixture for tools/scaling.py's
        third datapoint on the worst-alpha operators)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = "/root/testdata/sf0.1"
COPIES = 10  # overridden by argv[2]


def source_dir() -> str:
    """The sf0.1 fixture to replicate: $SPARK_GRAFT_SF_DIR, the variable
    bench.py and tools/soak.py read, with the same default (SRC). Exits
    with a message, before Spark starts, if it is not a directory."""
    src = os.environ.get("SPARK_GRAFT_SF_DIR", SRC)
    if not os.path.isdir(src):
        sys.exit(f"{os.path.basename(sys.argv[0])}: source fixture {src!r} "
                 "is not a directory; set SPARK_GRAFT_SF_DIR to an sf0.1 "
                 "fixture")
    return src


def main() -> int:
    from pyspark.sql import functions as F

    from dbsync_spark.session import get_spark

    global COPIES
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".scratch/sf1")
    if len(sys.argv) > 2:
        COPIES = int(sys.argv[2])
    src = source_dir()
    os.makedirs(out, exist_ok=True)
    spark = get_spark("gen-sf1")
    spark.sparkContext.setLogLevel("ERROR")

    def rd(t):
        return spark.read.parquet(f"{src}/{t}.parquet")

    def wr(df, t, parts=8):
        df.repartition(parts).write.mode("overwrite").parquet(
            f"{out}/{t}.parquet")
        print(f"{t}: {df.count()} rows", flush=True)

    def off(col, step, copy):
        return (F.col(col) + F.lit(step * copy)).alias(col)

    def maxk(t, k):
        return rd(t).agg(F.max(k)).first()[0] + 1

    # one shared offset step per key domain (vec_id == doc_id contract)
    ck = maxk("customer", "c_custkey")
    ok = maxk("orders", "o_orderkey")
    pk = maxk("part", "p_partkey")
    sk = maxk("supplier", "s_suppkey")
    dk = max(maxk("documents", "doc_id"), maxk("embeddings", "vec_id"))
    ek = maxk("events", "event_id")
    uk = maxk("events", "user_id")

    for t in ("region", "nation"):
        wr(rd(t), t, parts=1)

    def replicate(t, fn, parts=8):
        copies = [fn(rd(t), c) for c in range(COPIES)]
        df = copies[0]
        for c in copies[1:]:
            df = df.unionByName(c)
        wr(df, t, parts)

    replicate("customer", lambda d, c: d.select(
        off("c_custkey", ck, c),
        *[x for x in d.columns if x != "c_custkey"]), parts=2)
    replicate("supplier", lambda d, c: d.select(
        off("s_suppkey", sk, c),
        *[x for x in d.columns if x != "s_suppkey"]), parts=1)
    replicate("part", lambda d, c: d.select(
        off("p_partkey", pk, c),
        *[x for x in d.columns if x != "p_partkey"]), parts=2)
    replicate("orders", lambda d, c: d.select(
        off("o_orderkey", ok, c), off("o_custkey", ck, c),
        *[x for x in d.columns if x not in ("o_orderkey", "o_custkey")]))
    replicate("lineitem", lambda d, c: d.select(
        off("l_orderkey", ok, c), off("l_partkey", pk, c),
        off("l_suppkey", sk, c),
        *[x for x in d.columns
          if x not in ("l_orderkey", "l_partkey", "l_suppkey")]), parts=16)
    replicate("events", lambda d, c: d.select(
        off("event_id", ek, c), off("user_id", uk, c),
        *[x for x in d.columns if x not in ("event_id", "user_id")]))

    def perm_text(c):
        """Deterministic row-local word permutation for copy c: sort
        tokens by md5(token:pos:copy). Token multiset (and so volume,
        vocabulary, quality stats) is preserved exactly."""
        toks = F.split(F.col("text"), " ")
        keyed = F.zip_with(
            toks, F.sequence(F.lit(1), F.size(toks)),
            lambda t, i: F.struct(
                F.md5(F.concat_ws(":", t, i.cast("string"),
                                  F.lit(str(c)))).alias("k"),
                t.alias("t")))
        return F.concat_ws(" ", F.transform(F.array_sort(keyed),
                                            lambda s: s["t"]))

    replicate("documents", lambda d, c: d.select(
        off("doc_id", dk, c),
        (F.col("text") if c == 0 else perm_text(c)).alias("text"),
        "lang", "source").withColumn("n_chars", F.length("text")))

    def perturb(c):
        return F.transform(
            F.col("embedding"),
            lambda v, i: (v + (
                F.conv(F.substring(F.md5(F.concat_ws(
                    ":", F.col("vec_id").cast("string"),
                    i.cast("string"), F.lit(str(c)))), 1, 6), 16, 10)
                .cast("long") % 1000 - 500).cast("float") / 1000.0
            ).cast("float"))

    replicate("embeddings", lambda d, c: d.select(
        off("vec_id", dk, c),
        (F.col("embedding") if c == 0 else perturb(c)).alias("embedding"),
        "label"), parts=4)

    spark.stop()
    print(f"sf1 fixture written to {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
