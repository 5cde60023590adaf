"""BPE (byte-pair-encoding) tokenizer training with BATCHED merge rounds:
one distributed word count, then an incremental merge loop in one process.

Scale shape:
- the corpus is touched by ONE distributed pass, `words_table`'s
  explode + map-side-combined aggregate into the (word, cnt)
  distinct-word table; only that table is collected (931 words
  on the bench's pair corpus, 27k on its trigram corpus — the
  post-aggregation size, not the token count);
- the merge rounds then run in one process with NO Spark job per round.
  The loop keeps the (a, b) -> n pair counts and a pair -> words index
  as state; each round ranks the top `pool` pairs, selects up to
  `batch_k` non-conflicting merges and rewrites only the words that
  contain a selected pair, subtracting their old pairs from the counts
  and adding their new ones. Per-round work is bounded by the touched
  words and the pair table, never the corpus, and the number of Spark
  jobs per call does not depend on `n_rounds`;
- the trained segmentation comes back as a (word, cnt, enc) DataFrame,
  so encoding a corpus (`bpe_token_counts`) is a distributed join
  against the distinct-word table.

Batched recurrence (the spec the trainer, the DuckDB oracle and the
pure-Python reference implement identically — `batch_k=1` IS classic
greedy BPE):
  round r: count adjacent symbol pairs weighted by word count;
           rank by (n DESC, a ASC, b ASC); keep the top `pool`;
           scan ranked candidates in order, selecting a pair iff
           neither symbol is in U, where U accumulates
           {left, right, left+right} of this round's selections;
           stop at `batch_k` selections; apply them in selection
           order (left-to-right non-overlapping, as one sequential
           pass per merge).
Disjointness makes the batch exact w.r.t. the counts used to select
it: merging (a,b) preserves every adjacency not involving a or b, so
each selected pair's count is still its true count when applied. (The
ranks of LATER rounds can differ from one-at-a-time greedy — pairs
involving a freshly created symbol only become candidates next round;
that is the documented, pinned recurrence, mirrored exactly by the
oracle and the reference.) The `pool` cap is part of the recurrence
and mirrored on both sides, so selection never depends on unranked
pairs.

Exactness (an order-DEPENDENT greedy algorithm that still
hash-matches a SQL oracle — pinned by q_bpe's DuckDB oracle and
tests/test_bpe.py vs the pure-Python reference):
- words are restricted to [a-z]+ runs, so the segmentation can be
  encoded as a flat string with '#' delimiters that can never collide
  with symbol characters;
- the encoding doubles the delimiter ("##a##b##"), and a merge of pair
  (a, b) is the LITERAL replace  '#a##b#' -> '#ab#' : each match
  consumes one of the two delimiters on each side, so back-to-back
  merge sites ("abab") still match, while overlapping sites ("aaa")
  resolve left-to-right non-overlapping — exactly Python's
  str.replace greedy semantics. The trainer's `str.replace` and
  DuckDB's `replace` both scan left-to-right non-overlapping, so the
  trainer's and the oracle's segmentations are bit-identical;
- ties in the pair-count ranking break by (count DESC, left ASC,
  right ASC) on both sides — integer counts, no floats anywhere.
"""

from __future__ import annotations

import heapq

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BPE_ROUNDS = 12
BPE_POOL = 16


def words_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) frequency table of lowercase [a-z]+ runs — the
    classic BPE training input. One explode + one map-side-combined
    aggregate; the corpus is touched exactly once."""
    return (docs.select(F.explode(
        F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)"))
        .alias("word"))
        .where(F.col("word") != "")
        .groupBy("word").agg(F.count("*").alias("cnt")))


def select_merges(ranked: list[tuple[str, str, int]],
                  batch_k: int) -> list[tuple[str, str, int]]:
    """Greedy non-conflicting selection over (a, b, n) candidates already
    in (n DESC, a ASC, b ASC) rank order: a pair is selected iff neither
    of its symbols appears in any earlier selection's
    {left, right, left+right}. The single definition both the trainer
    and the pure-Python reference call."""
    used: set[str] = set()
    sel: list[tuple[str, str, int]] = []
    for a, b, n in ranked:
        if a in used or b in used:
            continue
        sel.append((a, b, n))
        used.update((a, b, a + b))
        if len(sel) == batch_k:
            break
    return sel


def bpe_train(docs: DataFrame, text_col: str = "text",
              n_rounds: int = BPE_ROUNDS, batch_k: int = 1,
              pool: int = BPE_POOL, adaptive: bool = False,
              target_merges: int | None = None):
    """Train BPE merges over the corpus in up to `n_rounds` batched
    rounds of up to `batch_k` non-conflicting merges each (see module
    docstring for the exact recurrence; batch_k=1 is classic greedy
    BPE). Stops early once `target_merges` merges exist.

    `adaptive=True` doubles batch_k, capped at max(min(pool // 4, 128),
    batch_k), after every round whose selection FILLED the batch:
    conflicts thin out as the symbol alphabet grows, so later rounds
    take bigger non-conflicting batches. The schedule is deterministic
    given the data and mirrored by bpe_reference(adaptive=True).

    Returns (merges, words): `merges` a list of
    (merge_rank, round, left, right, n) rows, `words` the final
    segmented (word, cnt, enc) DataFrame for downstream encoding."""
    if batch_k < 1 or pool < batch_k:
        raise ValueError(f"need 1 <= batch_k <= pool, got {batch_k}/{pool}")
    cnt = {r["word"]: r["cnt"]
           for r in words_table(docs, text_col).collect()}
    enc = {w: "##" + "##".join(w) + "##" for w in cnt}
    counts: dict[tuple[str, str], int] = {}
    holders: dict[tuple[str, str], set[str]] = {}
    for w, e in enc.items():
        _shift(w, [], _pairs(e), cnt[w], counts, holders)
    merges: list[tuple[int, int, str, str, int]] = []
    cur_k = batch_k
    for rnd in range(1, n_rounds + 1):
        top = heapq.nsmallest(pool, ((-n, a, b)
                                     for (a, b), n in counts.items()))
        sel = select_merges([(a, b, -n) for n, a, b in top], cur_k)
        if not sel:
            break
        for a, b, n in sel:
            merges.append((len(merges) + 1, rnd, a, b, n))
            site, merged = f"#{a}##{b}#", f"#{a}{b}#"
            for w in list(holders[(a, b)]):
                old = _pairs(enc[w])
                enc[w] = enc[w].replace(site, merged)
                _shift(w, old, _pairs(enc[w]), cnt[w], counts, holders)
        if target_merges is not None and len(merges) >= target_merges:
            break
        if adaptive and len(sel) == cur_k:
            cur_k = min(cur_k * 2, max(min(pool // 4, 128), batch_k))
    words = docs.sparkSession.createDataFrame(
        [(w, cnt[w], e) for w, e in enc.items()],
        "word string, cnt bigint, enc string")
    return merges, words


def _pairs(enc: str) -> list[tuple[str, str]]:
    """Adjacent symbol pairs of one '##'-delimited encoding, in order
    (overlapping positions each count, as in reference BPE)."""
    syms = enc[2:-2].split("##")
    return list(zip(syms, syms[1:]))


def _shift(word: str, old: list[tuple[str, str]],
           new: list[tuple[str, str]], cnt: int, counts: dict,
           holders: dict) -> None:
    """Move `word` (weight `cnt`) from its `old` pair occurrences to its
    `new` ones in the pair counts and the pair -> words index. A pair no
    word holds any more leaves both."""
    for p in old:
        counts[p] -= cnt
    for p in new:
        counts[p] = counts.get(p, 0) + cnt
    for p in set(new).difference(old):
        holders.setdefault(p, set()).add(word)
    for p in set(old).difference(new):
        held = holders[p]
        held.discard(word)
        if not held:
            del holders[p], counts[p]


def bpe_token_counts(docs: DataFrame, words: DataFrame,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(id, n_tokens): per-document BPE token count under the trained
    segmentation. The real-scale BPE-apply optimization: documents
    join the DISTINCT-word segmentation table instead of re-running
    merges per token occurrence. Token count per word is pure string
    arithmetic on the encoding (delimiter count / 2 - 1)."""
    n_syms = (F.length("enc")
              - F.length(F.regexp_replace("enc", "#", ""))) / 2 - 1
    seg = words.select("word", n_syms.cast("long").alias("n_syms"))
    doc_words = (docs.select(
        F.col(id_col),
        F.explode(F.expr(
            f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)"))
        .alias("word"))
        .where(F.col("word") != ""))
    return (docs.select(id_col)
            .join(doc_words.join(seg, on="word")
                  .groupBy(id_col).agg(F.sum("n_syms").alias("n_tokens")),
                  on=id_col, how="left")
            .select(id_col,
                    F.coalesce("n_tokens", F.lit(0)).alias("n_tokens")))


def bpe_reference(texts: list[str], n_rounds: int = BPE_ROUNDS,
                  batch_k: int = 1, pool: int = BPE_POOL,
                  adaptive: bool = False):
    """Pure-Python reference implementing the identical batched
    recurrence (segmentations as symbol tuples, same ranking, same
    pool cap, same non-conflicting selection, same in-order
    application, same adaptive batch_k schedule). Used by tests;
    batch_k=1 reproduces classic one-merge-at-a-time greedy BPE."""
    import re
    from collections import Counter

    wc: Counter = Counter()
    for t in texts:
        wc.update(re.findall(r"[a-z]+", t.lower()))
    segs = {w: tuple(w) for w in wc}
    merges: list[tuple[int, int, str, str, int]] = []
    cur_k = batch_k
    for rnd in range(1, n_rounds + 1):
        pc: Counter = Counter()
        for w, syms in segs.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += wc[w]
        ranked = sorted(pc.items(),
                        key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[:pool]
        sel = select_merges([(a, b, n) for (a, b), n in ranked], cur_k)
        if not sel:
            break
        for a, b, n in sel:
            merges.append((len(merges) + 1, rnd, a, b, n))
            for w, syms in segs.items():
                # canonical greedy left-to-right non-overlapping merge
                out, i = [], 0
                while i < len(syms):
                    if (i + 1 < len(syms)
                            and syms[i] == a and syms[i + 1] == b):
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                segs[w] = tuple(out)
        if adaptive and len(sel) == cur_k:
            cur_k = min(cur_k * 2, max(min(pool // 4, 128), batch_k))
    return merges, segs


def bpe_encode_oracle_sql(docs_table: str = "documents",
                          text_col: str = "text", n_rounds: int = 3,
                          batch_k: int = 4, pool: int = BPE_POOL) -> str:
    """DuckDB SQL for the corpus ENCODE under the trained merges:
    reuses bpe_oracle_sql's unrolled segmentation chain (the seg{N}
    CTE holds every distinct word's final encoding) and reduces it to
    per-document token counts with the same delimiter-pair string
    arithmetic as bpe_token_counts."""
    # structural composition (r7 ADVICE): the training CTE chain is a
    # separate builder, so the encode oracle appends its reduction to
    # the chain directly instead of string-slicing the training SQL
    head = _bpe_train_ctes(docs_table, text_col, n_rounds, batch_k, pool)
    return head + f""",
dw AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower({text_col}), '[a-z]+')) AS word
  FROM {docs_table}
),
wsyms AS (
  SELECT word,
         CAST((len(enc) - len(replace(enc, '#', ''))) / 2 - 1 AS BIGINT)
           AS n_syms
  FROM seg{n_rounds}
),
counts AS (
  SELECT dw.doc_id, SUM(n_syms) AS n_tokens
  FROM dw JOIN wsyms USING (word) WHERE dw.word <> '' GROUP BY dw.doc_id
)
SELECT d.doc_id, CAST(COALESCE(c.n_tokens, 0) AS BIGINT) AS n_tokens
FROM {docs_table} d LEFT JOIN counts c USING (doc_id)"""


def bpe_oracle_sql(docs_table: str = "documents", text_col: str = "text",
                   n_rounds: int = 3, batch_k: int = 4,
                   pool: int = BPE_POOL) -> str:
    """DuckDB SQL computing the identical batched recurrence, rounds and
    selection steps unrolled into a CTE chain. Emits
    (merge_rank, round, lft, rgt, n) exactly like q_bpe's Spark side."""
    unions = " UNION ALL ".join(
        f"SELECT {r} AS round, a, b, n, rk FROM selu{r}_{batch_k}"
        for r in range(1, n_rounds + 1))
    return _bpe_train_ctes(docs_table, text_col, n_rounds, batch_k,
                           pool) + f"""
SELECT CAST(row_number() OVER (ORDER BY round, rk) AS INT) AS merge_rank,
       CAST(round AS INT) AS round, a AS lft, b AS rgt, n
FROM ({unions})"""


def _bpe_train_ctes(docs_table: str, text_col: str, n_rounds: int,
                    batch_k: int, pool: int) -> str:
    """The training WITH-chain (seg0..seg{n_rounds} plus the per-round
    ranked/sel/selu CTEs) shared by the training oracle (which appends
    the merge-table SELECT) and the encode oracle (which appends the
    per-doc token-count reduction). MATERIALIZED CTEs keep the unrolled
    chain linear-cost (each round's segmentation is referenced by the
    pair counter AND the next round)."""
    parts = [f"""WITH seg0 AS MATERIALIZED (
  SELECT word, cnt,
         regexp_replace(word, '(.)', '##\\1', 'g') || '##' AS enc
  FROM (
    SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
      SELECT unnest(regexp_extract_all(lower({text_col}), '[a-z]+')) AS w
      FROM {docs_table})
    WHERE w <> '' GROUP BY w)
)"""]
    for r in range(1, n_rounds + 1):
        parts.append(f""",
ranked{r} AS MATERIALIZED (
  SELECT a, b, n, row_number() OVER (ORDER BY n DESC, a, b) AS rk FROM (
    SELECT p[1] AS a, p[2] AS b, CAST(SUM(cnt) AS BIGINT) AS n FROM (
      SELECT cnt, unnest(list_zip(s[1:len(s)-1], s[2:len(s)])) AS p FROM (
        SELECT cnt, list_filter(str_split(enc, '##'), x -> x <> '') AS s
        FROM seg{r - 1}))
    WHERE p[2] IS NOT NULL GROUP BY 1, 2)
  QUALIFY rk <= {pool}
)""")
        for i in range(1, batch_k + 1):
            if i == 1:
                parts.append(f""",
sel{r}_1 AS MATERIALIZED (
  SELECT a, b, n, rk FROM ranked{r} ORDER BY rk LIMIT 1),
selu{r}_1 AS (SELECT * FROM sel{r}_1)""")
            else:
                parts.append(f""",
sel{r}_{i} AS MATERIALIZED (
  SELECT a, b, n, rk FROM ranked{r} r
  WHERE NOT EXISTS (
    SELECT 1 FROM selu{r}_{i - 1} s
    WHERE r.a IN (s.a, s.b, s.a || s.b)
       OR r.b IN (s.a, s.b, s.a || s.b))
  ORDER BY rk LIMIT 1),
selu{r}_{i} AS (SELECT * FROM selu{r}_{i - 1}
                UNION ALL SELECT * FROM sel{r}_{i})""")
        # apply this round's selections in selection (= rank) order;
        # the chr(1)/'' coalesce makes an empty selection a no-op replace
        enc_expr = "enc"
        for i in range(1, batch_k + 1):
            enc_expr = (
                f"replace({enc_expr}, "
                f"coalesce((SELECT '#' || a || '##' || b || '#' "
                f"FROM sel{r}_{i}), chr(1)), "
                f"coalesce((SELECT '#' || a || b || '#' "
                f"FROM sel{r}_{i}), ''))")
        parts.append(f""",
seg{r} AS MATERIALIZED (
  SELECT word, cnt, {enc_expr} AS enc FROM seg{r - 1}
)""")
    return "".join(parts)
