"""Focused pins for the round-11 optimizations (each changed an
operator's internals while promising bit-identical outputs). The
verify-threshold rewrite's pin lives in tests/test_simjoin.py."""

from __future__ import annotations


def test_read_table_memoizes_per_session(spark, sf_dir):
    """read_table returns the SAME DataFrame handle for repeated
    (session, sf_dir, table) calls — the ~100 ms/call schema inference
    is paid once — and the memo key includes the applicationId so a
    different session never sees this one's plans."""
    from dbsync_spark.sources.tables import _TABLE_CACHE, read_table

    a = read_table(spark, sf_dir, "nation")
    b = read_table(spark, sf_dir, "nation")
    assert a is b
    key = (spark.sparkContext.applicationId, sf_dir, "nation")
    assert _TABLE_CACHE[key] is a
    # the handle is a live plan, not cached data: a fresh action over it
    # still reads the fixture (row count matches a fresh uncached read)
    assert a.count() == spark.read.parquet(f"{sf_dir}/nation.parquet").count()


def test_fuzzy_dedup_banded_levenshtein_values(spark):
    """fuzzy_dedup switched to threshold-form levenshtein (banded
    O(len*k), -1 past the bound). Planted pairs straddling the bound:
    survivors and their exact dist values must match the full-matrix
    semantics (dist <= max_dist)."""
    from dbsync_spark.functions.dedup import fuzzy_dedup

    base = "abcdefghijklmnopqrstuvwxyzabcdefghijklmn"  # 40 chars
    rows = []
    # doc 0: base; doc 1: 5 edits (keep); doc 2: 12 edits (boundary keep);
    # doc 3: 13 edits (drop); doc 4: identical (dist 0)
    def mutate(s, k):
        out = list(s)
        for i in range(k):
            out[i] = "Z"
        return "".join(out)
    texts = [base, mutate(base, 5), mutate(base, 12), mutate(base, 13), base]
    for i, t in enumerate(texts):
        rows.append((i, "en", len(t), t))
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, n_chars long, text string")
    got = {(r["doc_a"], r["doc_b"]): r["dist"]
           for r in fuzzy_dedup(docs).collect()}
    assert got[(0, 4)] == 0
    assert got[(0, 1)] == 5
    assert got[(0, 2)] == 12          # boundary value survives exactly
    assert (0, 3) not in got          # 13 > max_dist dropped
    assert got[(1, 4)] == 5
