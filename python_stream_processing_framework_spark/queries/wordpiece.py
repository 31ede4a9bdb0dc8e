"""WordPiece induction + greedy-encode queries with exact DuckDB
oracles (operators/wordpiece.py).

Training replays like queries/bpe.py — the whole merge loop unrolled
as CTEs — with the WordPiece differences: a symbol-count CTE feeds
the likelihood denominator each round, the argmax ranks by the
quantized score ``(count(ab) * 1e12) // (count(a) * count(b))``
(HUGEINT truncating division = the operator's exact decimal
arithmetic), and the rewrite strips the ``##`` prefix off the right
symbol. The greedy longest-match ENCODE replays as 16 unrolled
cursor-walk CTEs (one per possible step at max_word_len=16): each
step LEFT-joins the walker against the best-edge-per-(word, start)
table and either advances, finishes, or dies to UNK — plain joins,
no recursion, bit-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from python_stream_processing_framework_spark.catalog import load
from python_stream_processing_framework_spark.operators.wordpiece import (
    wordpiece_segment_counts,
    wordpiece_train,
)
from python_stream_processing_framework_spark.queries.base import query

_N_MERGES = 6

_TOKS = "string_split(trim(lower(text)), ' ')"


def _wp_ctes(n_merges: int) -> str:
    """wf word frequencies (1..16 chars, the unigram_word_table
    bound) -> v0 (##-prefixed char sequences) -> per round: sy{r}
    symbol counts, p{r} pair counts, b{r} score argmax, v{r+1}
    rewrite."""
    parts = [
        f"""
    wf AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest({_TOKS}) AS word FROM documents) z
      WHERE len(word) BETWEEN 1 AND 16
      GROUP BY word),
    v0 AS MATERIALIZED (
      SELECT ' ' || word[1] || CASE WHEN len(word) > 1
               THEN '  ' || array_to_string(
                 list_transform(range(2, len(word) + 1),
                                i -> '##' || word[i]), '  ')
               ELSE '' END || ' ' AS seq,
             cnt
      FROM wf)"""
    ]
    for r in range(n_merges):
        parts.append(
            f"""
    sy{r} AS MATERIALIZED (
      SELECT sym, SUM(cnt) AS c
      FROM (SELECT cnt, unnest(string_split(trim(seq), '  ')) AS sym
            FROM v{r}) z
      GROUP BY sym),
    p{r} AS MATERIALIZED (
      SELECT pr[1] AS l, pr[2] AS r_, SUM(cnt) AS total
      FROM (SELECT cnt,
                   unnest(list_transform(range(1, len(syms)),
                     i -> [syms[i], syms[i+1]])) AS pr
            FROM (SELECT cnt, string_split(trim(seq), '  ') AS syms
                  FROM v{r}) z) zz
      GROUP BY 1, 2),
    b{r} AS MATERIALIZED (
      SELECT p.l, p.r_, p.total,
             (CAST(p.total AS HUGEINT) * 1000000000000)
               // (CAST(sl.c AS HUGEINT) * sr.c) AS score_q
      FROM p{r} p
      JOIN sy{r} sl ON sl.sym = p.l
      JOIN sy{r} sr ON sr.sym = p.r_
      ORDER BY score_q DESC, p.l, p.r_ LIMIT 1),
    v{r + 1} AS MATERIALIZED (
      SELECT replace(seq,
               ' ' || (SELECT l FROM b{r}) || '  '
                   || (SELECT r_ FROM b{r}) || ' ',
               ' ' || (SELECT l FROM b{r})
                   || (SELECT CASE WHEN r_ LIKE '##%' THEN r_[3:]
                              ELSE r_ END FROM b{r}) || ' ') AS seq,
             cnt
      FROM v{r})"""
        )
    return ",".join(parts)


def _merges_union(n_merges: int) -> str:
    return " UNION ALL ".join(
        f'SELECT CAST({r} AS INTEGER) AS merge_idx, l AS "left",'
        f' r_ AS "right", CAST(total AS BIGINT) AS pair_count,'
        f" CAST(score_q AS BIGINT) AS score_q FROM b{r}"
        for r in range(n_merges)
    )


def _greedy_ctes(n_merges: int, max_word_len: int = 16) -> str:
    """The deployed WordPiece encode, unrolled: vocabulary = the
    final round's surviving symbols; best = the longest matching
    edge per (word, cursor); k0..k{L} walk the cursor (done / dead /
    advance); segx = words that reached their end."""
    steps = []
    for i in range(max_word_len):
        steps.append(
            f"""
    k{i + 1} AS (
      SELECT k.word, k.wl,
             CASE WHEN k.pos = k.wl OR k.pos < 0 THEN k.pos
                  WHEN b.e IS NULL THEN -1 ELSE b.e END AS pos,
             CASE WHEN k.pos = k.wl OR k.pos < 0 OR b.e IS NULL
                  THEN k.path ELSE k.path || ' ' || b.form END AS path
      FROM k{i} k LEFT JOIN bestx b
        ON b.word = k.word AND b.s = k.pos)"""
        )
    return f"""
    vocabx AS MATERIALIZED (
      SELECT DISTINCT sym AS piece
      FROM (SELECT unnest(string_split(trim(seq), '  ')) AS sym
            FROM v{n_merges}) z),
    mx AS (SELECT MAX(len(piece)) AS m FROM vocabx),
    wt AS (SELECT word, len(word) AS wl FROM wf),
    cd AS (
      SELECT word, wl, s, s + p AS e,
             CASE WHEN s = 0 THEN substr(word, s + 1, p)
                  ELSE '##' || substr(word, s + 1, p) END AS form
      FROM wt,
           (SELECT unnest(range(0, {max_word_len})) AS s) ss,
           (SELECT unnest(range(1, {max_word_len + 1})) AS p) pp,
           mx
      WHERE s < wl AND p <= least(mx.m, wl - s)),
    bestx AS MATERIALIZED (
      SELECT cd.word, cd.wl, cd.s, MAX(cd.e) AS e,
             arg_max(cd.form, cd.e) AS form
      FROM cd JOIN vocabx ON vocabx.piece = cd.form
      GROUP BY cd.word, cd.wl, cd.s),
    k0 AS (SELECT word, wl, CAST(0 AS BIGINT) AS pos, '' AS path FROM wt),
    {",".join(steps)},
    segx AS MATERIALIZED (
      SELECT word, trim(path) AS path
      FROM k{max_word_len} WHERE pos = wl)"""


@query(
    "wordpiece_merges",
    f"""
    WITH {_wp_ctes(_N_MERGES)}
    {_merges_union(_N_MERGES)}
    """,
    doc="WordPiece vocabulary induction (Schuster & Nakajima 2012, "
    "operators/wordpiece.py) — the BERT-lineage tokenizer completing "
    "the BPE/unigram trio: ONE corpus pass to the word-frequency "
    "table, then each of the 6 rounds merges the pair maximizing the "
    "unigram likelihood gain count(ab)/(count(a)count(b)) — ranked "
    "by the quantized exact score (count*1e12) // (cl*cr), ties by "
    "(left, right) — with ## continuation discipline; the rounds "
    "run driver-side on the once-collected word table, corpus never "
    "re-read. "
    "The oracle unrolls all rounds and matches the full merge table "
    "(order, pair, count, score).",
)
def wordpiece_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load(spark, sf_dir, "documents")
    return wordpiece_train(documents, "text", n_merges=_N_MERGES)


@query(
    "wordpiece_token_counts",
    f"""
    WITH {_wp_ctes(_N_MERGES)},
    {_greedy_ctes(_N_MERGES)}
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(CASE WHEN s.path IS NULL THEN 1
                         ELSE len(string_split(s.path, ' ')) END)
                AS BIGINT) AS n_pieces
    FROM (SELECT doc_id, unnest({_TOKS}) AS word FROM documents) d
    LEFT JOIN segx s USING (word)
    GROUP BY doc_id
    """,
    doc="WordPiece token-budget counts (operators/wordpiece."
    "wordpiece_segment_counts): train 6 merges, then encode with the "
    "DEPLOYED algorithm — greedy longest-match-first from the "
    "cursor, continuations matched in ## form, whole-word UNK on "
    "any dead cursor (counted 1) — NOT merge replay; this is where "
    "WordPiece genuinely differs from BPE. Each DISTINCT word walks "
    "once (lattice join reduced to the longest edge per cursor + a "
    "map-side fold); the corpus hash-joins the result. The oracle "
    "unrolls the walk as 16 cursor-step CTEs and matches every "
    "document's piece count.",
)
def wordpiece_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_stream_processing_framework_spark.operators.common import (
        persist_lazy,
    )
    from python_stream_processing_framework_spark.operators.unigram import (
        unigram_word_table,
    )
    from python_stream_processing_framework_spark.operators.wordpiece import (
        wordpiece_vocab,
    )

    (documents,) = load(spark, sf_dir, "documents")
    # ONE corpus word pass shared by train / vocab / segment (r15):
    # previously each phase re-derived the word table from documents
    wt = persist_lazy(unigram_word_table(documents, "text", max_word_len=16))
    # merges_out (r16): the trainer hands back the accepted pairs
    # driver-side, so wordpiece_vocab skips re-collecting the local
    # merge DataFrame the trainer just built (one job)
    mpairs: list = []
    wordpiece_train(
        documents, "text", n_merges=_N_MERGES, words=wt, merges_out=mpairs
    )
    # vocab is piece-bounded and read twice downstream (the span-cap
    # head and the broadcast probe) — lazy persist: the first action
    # populates it, the second reads blocks
    vocab = persist_lazy(wordpiece_vocab(documents, "text", mpairs, words=wt))
    return wordpiece_segment_counts(
        documents, "doc_id", "text", vocab, words=wt
    )
