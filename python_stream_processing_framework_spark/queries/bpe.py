"""BPE vocabulary-induction queries with exact DuckDB oracles.

The oracle unrolls the ENTIRE training loop in SQL — the word-
frequency pass, then per round: weighted adjacent-pair count, the
(count DESC, left, right) argmax, and the literal block-aligned
merge rewrite — exactly the way queries/pq.py unrolls Lloyd rounds.
That is possible because operators/bpe.py defines every step over
engine-portable primitives: integer counts, binary-collation string
ordering, and left-to-right non-overlapping literal replacement.

Non-degeneracy note: the unrolled SQL assumes every round finds at
least one pair (true for any corpus whose words aren't all fused
within n_merges rounds — trivially true here); bpe_train itself
stops early on a degenerate corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from python_stream_processing_framework_spark.catalog import load
from python_stream_processing_framework_spark.operators.bpe import (
    bpe_encode,
    bpe_segment_counts,
    bpe_train,
)
from python_stream_processing_framework_spark.queries.base import query

_N_MERGES = 8

_TOKS = "string_split(trim(lower(text)), ' ')"


def _byte_map_sql() -> str:
    """The GPT-2 byte<->unicode table as a DuckDB list literal,
    rebuilt from the SAME codepoint ints the Spark operator uses
    (operators/bpe._BYTE_CODEPOINTS) — identical by construction."""
    from python_stream_processing_framework_spark.operators.bpe import (
        _BYTE_CODEPOINTS,
    )

    cps = ", ".join(str(c) for c in _BYTE_CODEPOINTS)
    return (
        f"list_transform([{cps}], c -> chr(CAST(c AS INT)))"
    )


def _bpe_ctes(n_merges: int, *, level: str = "char", toks: str = _TOKS) -> str:
    """CTE chain: word frequencies -> v0 (char or byte-mapped
    sequences) -> per round r: p{r} pair counts, b{r} argmax, v{r+1}
    rewrite."""
    if level == "byte":
        seed = (
            "' ' || array_to_string("
            "list_transform(range(1, octet_length(encode(word)) + 1),"
            " i -> bmap.cs[CAST('0x' || substr(hex(encode(word)),"
            " CAST(i*2-1 AS INT), 2) AS INT) + 1]), '  ') || ' '"
        )
        v0 = f"""
    bmap AS (SELECT {_byte_map_sql()} AS cs),
    v0 AS MATERIALIZED (SELECT {seed} AS seq, cnt FROM wf, bmap)"""
    else:
        v0 = """
    v0 AS MATERIALIZED (SELECT ' ' || array_to_string(regexp_extract_all(word, '.'), '  ')
                    || ' ' AS seq,
                  cnt
           FROM wf)"""
    parts = [
        f"""
    wf AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM (SELECT unnest({toks}) AS word FROM documents) z
           GROUP BY word),{v0}"""
    ]
    for r in range(n_merges):
        parts.append(
            f"""
    p{r} AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r_, SUM(cnt) AS total
             FROM (SELECT cnt,
                          unnest(list_transform(range(1, len(syms)),
                            i -> [syms[i], syms[i+1]])) AS pr
                   FROM (SELECT cnt, string_split(trim(seq), '  ') AS syms
                         FROM v{r}) z) zz
             GROUP BY 1, 2),
    b{r} AS MATERIALIZED (SELECT l, r_, total FROM p{r}
             ORDER BY total DESC, l, r_ LIMIT 1),
    v{r + 1} AS MATERIALIZED (SELECT replace(seq,
                   ' ' || (SELECT l FROM b{r}) || '  ' || (SELECT r_ FROM b{r}) || ' ',
                   ' ' || (SELECT l FROM b{r}) || (SELECT r_ FROM b{r}) || ' ') AS seq,
                 cnt FROM v{r})"""
        )
    return ",".join(parts)


def _merges_union(n_merges: int) -> str:
    return " UNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS merge_idx, l AS \"left\","
        f" r_ AS \"right\", CAST(total AS BIGINT) AS pair_count FROM b{r}"
        for r in range(n_merges)
    )


@query(
    "bpe_merges",
    f"""
    WITH {_bpe_ctes(_N_MERGES)}
    {_merges_union(_N_MERGES)}
    """,
    doc="Distributed BPE vocabulary induction (Sennrich et al. 2016, "
    "operators/bpe.py): ONE corpus pass collapses the text to a "
    "word-frequency table, collected once; the 8 merge rounds "
    "(weighted adjacent-pair count, deterministic argmax, "
    "left-to-right rewrite) run driver-side on that table — the "
    "corpus is never touched again. The oracle unrolls all 8 rounds "
    "in SQL and value-compares the full merge table (order, pairs, "
    "counts).",
)
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load(spark, sf_dir, "documents")
    return bpe_train(documents, "text", n_merges=_N_MERGES)


#: accent injection so the ASCII testdata genuinely exercises
#: multi-byte UTF-8 (é = C3 A9): identical deterministic transform on
#: both engines
_ACCENT_TOKS = "string_split(trim(replace(lower(text), 'e', 'é')), ' ')"


@query(
    "bpe_byte_merges",
    f"""
    WITH {_bpe_ctes(_N_MERGES, level="byte", toks=_ACCENT_TOKS)}
    {_merges_union(_N_MERGES)}
    """,
    doc="BYTE-level BPE induction (the GPT-2 deployed contract, "
    "operators/bpe.bpe_train(level='byte')): seed symbols are each "
    "word's UTF-8 bytes rendered through the published reversible "
    "byte<->unicode table, so all 256 byte symbols exist and no UNK "
    "is possible at any vocabulary size. The corpus is accented "
    "deterministically (e -> é) on both engines so multi-byte UTF-8 "
    "is genuinely on the merge path (é contributes C3 A9, two "
    "symbols). The oracle rebuilds the identical byte table from the "
    "operator's codepoint list and unrolls all 8 rounds; same merge "
    "loop, scale shape, and argmax contract as bpe_merges.",
)
def bpe_byte_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    (documents,) = load(spark, sf_dir, "documents")
    accented = documents.withColumn(
        "text", F.replace(F.lower(F.col("text")), F.lit("e"), F.lit("é"))
    )
    return bpe_train(accented, "text", n_merges=_N_MERGES, level="byte")


@query(
    "bpe_token_counts",
    f"""
    WITH {_bpe_ctes(_N_MERGES)},
    mm AS ({_merges_union(_N_MERGES)}),
    pat AS (SELECT list(
              ' ' || "left" || '  ' || "right" || ' ' || chr(31) ||
              ' ' || "left" || "right" || ' '
              ORDER BY merge_idx) AS ps
            FROM mm)
    SELECT doc_id,
           CAST(len(words) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(words, w ->
             len(string_split(trim(
               list_reduce(
                 list_prepend(
                   ' ' || array_to_string(regexp_extract_all(w, '.'), '  ')
                       || ' ',
                   ps),
                 (acc, p) -> replace(acc, split_part(p, chr(31), 1),
                                     split_part(p, chr(31), 2)))),
               '  ')))) AS BIGINT) AS n_pieces
    FROM (SELECT doc_id, {_TOKS} AS words FROM documents) d, pat
    """,
    doc="Apply the learned BPE merges back to the corpus and count "
    "each document's pieces under the induced vocabulary — the "
    "token-budget number once a real tokenizer exists (operators/"
    "bpe.bpe_segment_counts). Map-only: the 8-merge chain rides in "
    "the plan as literals and every word folds through it in order "
    "inside a transform lambda. The oracle re-derives the merges "
    "(same unrolled CTEs) and replays the identical fold via "
    "list_reduce.",
)
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load(spark, sf_dir, "documents")
    merges = bpe_train(documents, "text", n_merges=_N_MERGES)
    return bpe_segment_counts(documents, "doc_id", "text", merges)


@query(
    "bpe_encode_pieces",
    f"""
    WITH {_bpe_ctes(_N_MERGES)},
    mm AS ({_merges_union(_N_MERGES)}),
    pat AS (SELECT list(
              ' ' || "left" || '  ' || "right" || ' ' || chr(31) ||
              ' ' || "left" || "right" || ' '
              ORDER BY merge_idx) AS ps
            FROM mm),
    enc AS (SELECT doc_id,
              flatten(list_transform(words, w ->
                string_split(trim(
                  list_reduce(
                    list_prepend(
                      ' ' || array_to_string(regexp_extract_all(w, '.'), '  ')
                          || ' ',
                      ps),
                    (acc, p) -> replace(acc, split_part(p, chr(31), 1),
                                        split_part(p, chr(31), 2)))),
                  '  '))) AS pieces
            FROM (SELECT doc_id, {_TOKS} AS words FROM documents
                  WHERE doc_id % 20 = 0) d, pat)
    SELECT doc_id, CAST(gs - 1 AS BIGINT) AS piece_idx, pieces[gs] AS piece
    FROM enc, LATERAL (SELECT unnest(generate_series(1, len(enc.pieces))) AS gs) g
    """,
    doc="The ENCODE step a training pipeline runs once the vocabulary "
    "exists: tokenize every document into its BPE piece sequence under "
    "the learned merges (operators/bpe.bpe_encode). Map-only — the "
    "merge chain rides in the plan as literal replaces, one corpus "
    "scan, zero exchanges (plan-pinned); the oracle re-derives the "
    "merges and replays the identical fold, exploding pieces with "
    "ordinality. A deterministic 5% doc sample (doc_id % 20 = 0) "
    "bounds the compared row count.",
)
def bpe_encode_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    (documents,) = load(spark, sf_dir, "documents")
    merges = bpe_train(documents, "text", n_merges=_N_MERGES)
    enc = bpe_encode(
        documents.filter(F.col("doc_id") % 20 == 0), "doc_id", "text", merges
    )
    return enc.select(
        "doc_id",
        F.posexplode("pieces").alias("piece_idx", "piece"),
    ).select("doc_id", F.col("piece_idx").cast("bigint").alias("piece_idx"), "piece")
