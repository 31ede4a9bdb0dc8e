"""BPE vocabulary induction (Sennrich et al. 2016) — the
tokenizer-training step of an LLM data pipeline, Spark-first.

Beyond-reference capability (SURVEY §2.7). The published algorithm
is sequential in its merge choices but not in its data: ONE
distributed corpus pass collapses the corpus to a word-frequency
table, and every merge round after that works on that vocabulary-
bounded table, never on the corpus. That is the published shape —
reference BPE trainers operate on word counts, not raw text. The
trainer collects the seeded table once and runs the whole merge
loop driver-side (`_learn_merges`, shared with WordPiece) with
incremental pair counts: a pair -> words index, so each merge
touches only the words that contain the pair, as in Sennrich's
`learn_bpe.py`. Training is one Spark collect whatever the merge
count; the table must fit in driver memory (SCALE.md).

Determinism contract: the argmax tie-break is (score DESC, left,
right), and a merge rewrites each word left-to-right without
overlap (`a a a` under (a, a) -> `aa a`). Python's code-point string
order equals Spark's binary UTF-8 order, so the learned table is the
one the SQL oracle (queries/bpe.py) replays round by round.

Encode applies the table with Spark column expressions: symbol
sequences are DOUBLE-space-delimited strings with single-space ends
(`' a  b  c '`), and a merge of pair (l, r) is the literal
replacement ``' l  r ' -> ' lr '``. The 2-char separators make every
match block-aligned on BOTH sides — a one-sided delimiter is subtly
wrong when one symbol is a string prefix of another (`' a ab'`
contains `' a a'`) — while left-to-right non-overlapping replacement
is exactly the trainer's rewrite (runs of any length pair off
left-to-right because consumed matches end on the first char of the
next separator). The seed expressions below are the single
definition of a word's initial symbols for training and encode.
"""

from __future__ import annotations

import operator
from collections import defaultdict

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from python_stream_processing_framework_spark.operators.dedup import tokens_expr

#: Schema of the learned merge table.
MERGES_SCHEMA = "merge_idx int, left string, right string, pair_count bigint"


def _bytes_to_unicode() -> list[str]:
    """The GPT-2 reversible byte<->unicode table (Radford et al.
    2019, the published `bytes_to_unicode`): printable latin-1 bytes
    map to themselves, every other byte to an unused codepoint
    256 + n — so any byte sequence renders as a printable string and
    decodes back losslessly. Index b holds byte b's surface char."""
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(ord("¡"), ord("¬") + 1))
        + list(range(ord("®"), ord("ÿ") + 1))
    )
    out: list[str] = [""] * 256
    for b in bs:
        out[b] = chr(b)
    n = 0
    for b in range(256):
        if not out[b]:
            out[b] = chr(256 + n)
            n += 1
    return out


_BYTE_CHARS = _bytes_to_unicode()
#: codepoints of _BYTE_CHARS — the SQL oracle rebuilds the identical
#: table from these ints (no string-literal escaping concerns)
_BYTE_CODEPOINTS = [ord(c) for c in _BYTE_CHARS]


def _seq_expr(word: Column) -> Column:
    """Initial symbol sequence of a word: characters joined by DOUBLE
    spaces with single-space ends (the block-aligned merge-pattern
    anchors — see the module docstring)."""
    chars = F.regexp_extract_all(word, F.lit("."), F.lit(0))
    return F.concat(F.lit(" "), F.array_join(chars, "  "), F.lit(" "))


def _byte_seq_expr(word: Column) -> Column:
    """Byte-level initial sequence (the GPT-2 deployed contract): the
    word's UTF-8 BYTES, each rendered through the reversible
    byte<->unicode table, double-space delimited. Every byte is a
    seed symbol, so every word is segmentable — no UNK exists at any
    vocabulary size. JVM-side: hex the encoded word and fold 2-char
    chunks through the 256-entry literal array."""
    hexs = F.hex(F.encode(word, "UTF-8"))
    # the empty-word guard matters: sequence(1, 0) counts DOWN in
    # Spark, which would index byte -1 instead of yielding no symbols
    syms = F.when(
        F.length(hexs) >= 2,
        F.transform(
            F.sequence(F.lit(1), (F.length(hexs) / F.lit(2)).cast("int")),
            lambda i: F.element_at(
                F.lit(_BYTE_CHARS),
                F.conv(F.substr(hexs, i * 2 - 1, F.lit(2)), 16, 10).cast(
                    "int"
                )
                + 1,
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(F.lit(" "), F.array_join(syms, "  "), F.lit(" "))


def _seed_expr(level: str):
    if level == "char":
        return _seq_expr
    if level == "byte":
        return _byte_seq_expr
    raise ValueError(f"level must be 'char' or 'byte', got {level!r}")


def word_frequency_table(df: DataFrame, text_col: str) -> DataFrame:
    """The one corpus pass: (word, cnt) over whitespace tokens.
    Output size is VOCABULARY-bounded; everything downstream (the
    whole merge loop) runs on this table, never on the corpus."""
    return (
        df.select(F.explode(tokens_expr(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def _symbols(seq: Column) -> Column:
    """The symbol array of a double-space-delimited sequence. Spark's
    trim strips spaces only, so a symbol such as '\\t' survives."""
    return F.split(F.trim(seq), "  ")


def _rewrite(syms: list, left: str, right: str, merged: str) -> list:
    """One merge applied left-to-right without overlap."""
    out, i, n = [], 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            out.append(merged)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _learn_merges(words: DataFrame, seed, n_merges: int, *, score, merged):
    """The merge loop both trainers share. Collects the (word, cnt)
    table's seeded symbol arrays in one collect, then merges driver-side:
    each round picks the pair with the highest ``score(count,
    count(left), count(right))`` (ties: left, then right ascending)
    and rewrites the words that contain it into ``merged(left,
    right)``. Pair and symbol counts update incrementally from a
    pair -> words index, so a round costs the words it touches plus
    one argmax over the live pairs. Stops early when no pair remains.
    Returns [(left, right, pair_count, score)] in application order."""
    rows = words.select(_symbols(seed(F.col("word"))).alias("s"), "cnt").collect()
    seqs = [r["s"] for r in rows]
    cnts = [r["cnt"] for r in rows]
    pairs: dict[tuple[str, str], int] = defaultdict(int)
    sym_cnt: dict[str, int] = defaultdict(int)
    # word ids that may hold a pair; an id whose word no longer does
    # is skipped when the pair merges (its rewrite is a no-op)
    where: dict[tuple[str, str], set[int]] = defaultdict(set)
    for i, (syms, c) in enumerate(zip(seqs, cnts)):
        for s in syms:
            sym_cnt[s] += c
        for p in zip(syms, syms[1:]):
            pairs[p] += c
            where[p].add(i)

    def scored(p: tuple[str, str]) -> int:
        return score(pairs[p], sym_cnt[p[0]], sym_cnt[p[1]])

    out: list[tuple[str, str, int, int]] = []
    while len(out) < n_merges:
        live = [p for p, n in pairs.items() if n]
        if not live:
            break
        left, right = best = min(live, key=lambda p: (-scored(p), p))
        out.append((left, right, pairs[best], scored(best)))
        m = merged(left, right)
        for i in where.pop(best):
            old, c = seqs[i], cnts[i]
            new = seqs[i] = _rewrite(old, left, right, m)
            k = (len(old) - len(new)) * c
            if not k:
                continue
            sym_cnt[left] -= k
            sym_cnt[right] -= k
            sym_cnt[m] += k
            for p in zip(old, old[1:]):
                pairs[p] -= c
            for p in zip(new, new[1:]):
                pairs[p] += c
                # every pair the merge created holds m
                if m in p:
                    where[p].add(i)
    return out


def bpe_train(
    df: DataFrame,
    text_col: str,
    *,
    n_merges: int = 8,
    level: str = "char",
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from the corpus.

    ``level``: ``"char"`` (default — symbols are the word's
    characters) or ``"byte"`` — the GPT-2 deployed contract: symbols
    are the word's UTF-8 bytes rendered through the standard
    reversible byte<->unicode table (_bytes_to_unicode), so no UNK
    can ever exist (all 256 byte symbols seed the vocabulary) and
    learned pieces decode back to exact byte sequences. On pure
    printable-ASCII corpora byte == char bit-exactly (the table maps
    printable ASCII to itself — pinned by test).

    Returns the merge table (merge_idx, left, right, pair_count) —
    merge_idx is application order. Each round merges the adjacent
    symbol pair with the highest count weighted by word frequency
    (ties: (left, right) ascending — fully deterministic). Training
    stops early if no pair remains (every word fused to one symbol).

    Scale shape: one distributed corpus pass to the word-frequency
    table, one collect of its seeded symbols, then the driver-side
    merge loop (`_learn_merges`): the Spark job count does not depend
    on ``n_merges``.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    learned = _learn_merges(
        word_frequency_table(df, text_col),
        _seed_expr(level),
        n_merges,
        score=lambda count, _cl, _cr: count,
        merged=operator.add,
    )
    return df.sparkSession.createDataFrame(
        [(i, left, right, count) for i, (left, right, count, _) in enumerate(learned)],
        MERGES_SCHEMA,
    )


def _merge_pairs(merges) -> list[tuple[str, str]]:
    """The ordered (left, right) pairs of a merge table: a trainer's
    DataFrame (collected here — bounded by n_merges) or a pair list."""
    if isinstance(merges, DataFrame):
        rows = merges.orderBy("merge_idx").collect()
        return [(r["left"], r["right"]) for r in rows]
    return [(l, r) for l, r in merges]


def _apply_merges(seq: Column, pairs, merged=operator.add) -> Column:
    """A seeded sequence with every merge applied in order: the
    block-aligned literal rewrite chain (module docstring)."""
    for left, right in pairs:
        seq = F.replace(
            seq, F.lit(f" {left}  {right} "), F.lit(f" {merged(left, right)} ")
        )
    return seq


def _word_pieces(text_col: str, merges, level: str) -> Column:
    """Per document, each word's BPE pieces: array<array<string>>."""
    pairs = _merge_pairs(merges)
    seed = _seed_expr(level)
    return F.transform(
        tokens_expr(text_col), lambda w: _symbols(_apply_merges(seed(w), pairs))
    )


def bpe_segment_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges,
    *,
    level: str = "char",
) -> DataFrame:
    """Apply a learned merge table to the corpus and count the BPE
    pieces each document tokenizes to.

    ``merges`` is the DataFrame `bpe_train` returns (collected here —
    bounded by n_merges) or a list of (left, right) tuples. Output:
    (id, n_words, n_pieces) — n_pieces is the document's token count
    under the learned vocabulary, the number a token-budget planner
    actually wants once a tokenizer exists.

    Scale shape: pure map-only column expressions — each word's
    symbol sequence runs the merge chain IN ORDER inside a transform
    lambda, then piece counts sum per document. No shuffle, no
    Python, one corpus scan; the merge chain rides in the plan as
    literals.
    """
    pieces = _word_pieces(text_col, merges, level)
    return df.select(
        F.col(id_col),
        F.size(tokens_expr(text_col)).cast("bigint").alias("n_words"),
        F.aggregate(
            pieces,
            F.lit(0).cast("bigint"),
            lambda a, x: a + F.size(x).cast("bigint"),
        ).alias("n_pieces"),
    )


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges,
    *,
    level: str = "char",
) -> DataFrame:
    """Tokenize the corpus under a learned merge table — the encode
    step a training pipeline actually runs at 100 TB once the
    vocabulary exists. Output: (id, pieces array<string>) — each
    document's full BPE piece sequence in reading order.

    Scale shape: identical to :func:`bpe_segment_counts` — pure
    map-only column expressions, the merge chain unrolled as literal
    `replace` rewrites inside a transform lambda over the word array,
    flattened per document. No shuffle, no Python, ONE corpus scan;
    plan-pinned exchange-free in tests/test_plans.py. For integer
    token ids downstream, join the distinct pieces against a
    vocabulary table once (the standard id-assignment job) — ids are
    deliberately not baked in here so the piece strings stay
    engine-replayable.
    """
    return df.select(
        F.col(id_col),
        F.flatten(_word_pieces(text_col, merges, level)).alias("pieces"),
    )
