"""Distributed WordPiece vocabulary induction + greedy encode
(Schuster & Nakajima 2012; the BERT tokenizer family) — completing
the engine's tokenizer trio: BPE (operators/bpe.py, GPT lineage),
unigram-LM (operators/unigram.py, T5/SentencePiece lineage), and
WordPiece here.

Training is the BPE merge loop with a different objective: each
round merges the adjacent symbol pair maximizing the unigram-LM
likelihood gain ``count(ab) / (count(a) * count(b))`` instead of the
raw pair count, and word-internal continuation symbols carry the
``##`` prefix (merging (l, r) produces ``l + strip_##(r)``). The
corpus collapses to a word-frequency table in ONE distributed pass;
the trainer collects that table's seeded symbols once and runs
bpe.py's shared driver-side merge loop with this score and merged
form, so training is one Spark collect whatever the merge count.

Score determinism contract: the rational score quantizes to
``score_q = (count(ab) * 1e12) // (count(a) * count(b))`` — exact
integer arithmetic with truncating division, which DuckDB's HUGEINT
``//`` reproduces, so the (score_q DESC, left, right) argmax is the
one the SQL oracle replays (ties after quantization break
lexicographically; the same one-quantization-then-exact pattern as
unigram's nano log-probs).

ENCODE is where WordPiece genuinely differs from BPE: the deployed
tokenizer does NOT replay merges — it greedily takes the LONGEST
vocabulary piece matching at the cursor (word-initial pieces plain,
continuations matched with the ``##`` form), and a word with no
match at any cursor is UNK as a whole. Greedy longest-match is a
fold, not a DP: per DISTINCT word, the lattice join (all substrings
x vocabulary — unigram's one-join shape) reduces to the single best
(longest) edge per start offset, and a map-side ``F.aggregate`` walk
advances the cursor through at most ``word_length`` steps. The
corpus never carries the walk: distinct words segment once, the
corpus hash-joins the result (the unigram_encode contract).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from python_stream_processing_framework_spark.operators.bpe import (
    _apply_merges,
    _learn_merges,
    _merge_pairs,
    _symbols,
)
from python_stream_processing_framework_spark.operators.common import (
    maybe_broadcast,
)
from python_stream_processing_framework_spark.operators.dedup import tokens_expr
from python_stream_processing_framework_spark.operators.unigram import (
    unigram_word_table,
)

#: Learned merge table: application order, the merged pair (right in
#: its ## surface form), its count and quantized likelihood score.
WP_MERGES_SCHEMA = (
    "merge_idx int, left string, right string,"
    " pair_count bigint, score_q bigint"
)

_SCORE_SCALE = 10**12


def _wp_seq_expr(word: Column) -> Column:
    """Initial WordPiece symbol sequence: first character plain,
    every later character ``##``-prefixed, double-space delimited
    with single-space ends (bpe.py's block-aligned discipline)."""
    syms = F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: F.when(i == 1, F.substr(word, i, F.lit(1))).otherwise(
            F.concat(F.lit("##"), F.substr(word, i, F.lit(1)))
        ),
    )
    return F.concat(F.lit(" "), F.array_join(syms, "  "), F.lit(" "))


def _merged_form(left: str, right: str) -> str:
    return left + (right[2:] if right.startswith("##") else right)


def wordpiece_train(
    df: DataFrame,
    text_col: str,
    *,
    n_merges: int = 6,
    max_word_len: int = 16,
    words: DataFrame | None = None,
    merges_out: list | None = None,
) -> DataFrame:
    """Learn ``n_merges`` WordPiece merges; returns WP_MERGES_SCHEMA
    rows in application order. Stops early when no pair remains.

    Scale shape: bpe_train's — one corpus pass to the word table, one
    collect of its seeded symbols, then the shared driver-side merge
    loop (bpe._learn_merges) scoring pairs by the quantized
    likelihood gain. The Spark job count does not depend on
    ``n_merges``.

    ``words``: an already-persisted word table (the
    unigram_word_table shape) to train from instead of deriving one
    here — lets a query that both trains AND segments share ONE
    corpus pass. Results are identical either way.

    ``merges_out``: a list the trainer appends each accepted
    (left, right) pair to, in application order — the same pairs the
    returned DataFrame carries. Callers that feed the merges straight
    into :func:`wordpiece_vocab` (whose ``merges`` argument accepts a
    pair list) can use it to skip re-collecting the merge DataFrame
    the trainer just built driver-side."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    learned = _learn_merges(
        words
        if words is not None
        else unigram_word_table(df, text_col, max_word_len=max_word_len),
        _wp_seq_expr,
        n_merges,
        # Python ints are exact: this is the oracle's HUGEINT `//`
        score=lambda count, cl, cr: count * _SCORE_SCALE // (cl * cr),
        merged=_merged_form,
    )
    if merges_out is not None:
        merges_out.extend((left, right) for left, right, _, _ in learned)
    return df.sparkSession.createDataFrame(
        [(i, *m) for i, m in enumerate(learned)], WP_MERGES_SCHEMA
    )


def wordpiece_vocab(
    df: DataFrame,
    text_col: str,
    merges,
    *,
    max_word_len: int = 16,
    words: DataFrame | None = None,
) -> DataFrame:
    """The serving vocabulary a merge table induces: apply the merges
    to the word table's symbol sequences and count the surviving
    symbols — (piece, cnt), ## continuation forms included. One
    corpus pass (the word table — or the caller's pre-built ``words``
    frame, shared with the other phases, r15), then map-only
    rewrites; output is vocabulary-bounded."""
    seq = _apply_merges(
        _wp_seq_expr(F.col("word")), _merge_pairs(merges), _merged_form
    )
    if words is None:
        words = unigram_word_table(df, text_col, max_word_len=max_word_len)
    return (
        words.select(F.explode(_symbols(seq)).alias("piece"), "cnt")
        .groupBy("piece")
        .agg(F.sum("cnt").alias("cnt"))
    )


def greedy_segment(words: DataFrame, vocab: DataFrame) -> DataFrame:
    """Greedy longest-match-first segmentation (the deployed
    WordPiece encode) of each word in ``words`` (word, cnt, wl)
    under ``vocab``'s pieces: returns (word, cnt, path) with path
    space-joined (## forms kept — the BERT surface convention).
    Words with no match at some cursor yield NO row (UNK is the
    consumer's join-miss, exactly viterbi_segment's contract).

    Shape: the unigram lattice join (all substrings x vocabulary,
    word-initial spans matched plain, continuations matched as
    ``##`` + substring), reduced to ONE edge per (word, start) — the
    longest — then a map-side fold walks the cursor. Never rides a
    corpus frame."""
    # span cap: the raw max piece length (no ##-stripping — a PLAIN
    # piece can itself start with '##' when words contain '#', and
    # overshooting the cap only adds join-filtered candidates).
    # The vocab row count rides the SAME one-row job (r16): it is the
    # broadcast-gate bound maybe_broadcast needed, so the gate's
    # limit-probe job (and its extra persist of the projection) is
    # skipped — vocab rows are distinct pieces, so the count bounds
    # the distinct projection exactly.
    stats = vocab.agg(
        F.max(F.length("piece")).alias("m"), F.count(F.lit(1)).alias("n")
    ).head()
    max_len, n_vocab = stats["m"], int(stats["n"])
    if max_len is None:
        return words.select(
            "word", "cnt", F.lit(None).cast("string").alias("path")
        ).filter(F.lit(False))
    spans = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.col("wl") - 1),
            lambda s: F.transform(
                F.sequence(
                    F.lit(1), F.least(F.lit(int(max_len)), F.col("wl") - s)
                ),
                lambda p: F.struct(
                    s.cast("int").alias("s"),
                    (s + p).cast("int").alias("e"),
                    F.when(
                        s == 0, F.substr(F.col("word"), s + 1, p)
                    )
                    .otherwise(
                        F.concat(
                            F.lit("##"), F.substr(F.col("word"), s + 1, p)
                        )
                    )
                    .alias("form"),
                ),
            ),
        )
    )
    cand = (
        words.select("word", "cnt", "wl", F.explode(spans).alias("c"))
        .select("word", "cnt", "wl", "c.s", "c.e", F.col("c.form").alias("form"))
        .join(
            maybe_broadcast(
                vocab.select(F.col("piece").alias("form")).distinct(),
                known_count=n_vocab,
            ),
            "form",
        )
    )
    # the single longest edge per (word, start): for a fixed start,
    # e determines the form, so max on struct(e, form) is max(e)
    best = cand.groupBy("word", "cnt", "wl", "s").agg(
        F.max(F.struct("e", "form")).alias("_b")
    )
    per = best.groupBy("word", "cnt", "wl").agg(
        F.collect_list(
            F.struct("s", F.col("_b.e").alias("e"), F.col("_b.form").alias("form"))
        ).alias("cs")
    )

    def _step(acc, _i):
        nx = F.get(F.filter(F.col("cs"), lambda c: c["s"] == acc["pos"]), 0)
        return F.when(
            (acc["pos"] == F.col("wl")) | (acc["pos"] < 0), acc
        ).otherwise(
            F.when(
                nx.isNull(),
                F.struct(
                    F.lit(-1).cast("int").alias("pos"),
                    acc["path"].alias("path"),
                ),
            ).otherwise(
                F.struct(
                    nx["e"].cast("int").alias("pos"),
                    F.concat(acc["path"], F.lit(" "), nx["form"]).alias(
                        "path"
                    ),
                )
            )
        )

    walk = F.aggregate(
        F.sequence(F.lit(1), F.col("wl")),
        F.struct(
            F.lit(0).cast("int").alias("pos"), F.lit("").alias("path")
        ),
        _step,
    )
    return (
        per.select("word", "cnt", "wl", walk.alias("_w"))
        .filter(F.col("_w.pos") == F.col("wl"))
        .select("word", "cnt", F.trim(F.col("_w.path")).alias("path"))
    )


def wordpiece_segment_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: DataFrame,
    *,
    max_word_len: int = 16,
    words: DataFrame | None = None,
) -> DataFrame:
    """Token-budget counts under a TRAINED WordPiece vocabulary
    (the (piece, cnt) table :func:`wordpiece_vocab` builds from the
    TRAINING corpus — passing the serve-time corpus itself would
    mint char pieces the trained tokenizer never had, silently
    un-UNKing unseen characters): (id, n_words, n_pieces);
    unsegmentable or over-length words count 1 (UNK). One
    vocabulary-bounded segmentation of the DISTINCT words, one
    corpus hash join on `word` — the unigram consumer contract.
    ``words``: optional pre-built word table shared with the train /
    vocab phases (r15)."""
    seg = greedy_segment(
        words
        if words is not None
        else unigram_word_table(df, text_col, max_word_len=max_word_len),
        vocab,
    ).select(
        "word",
        F.size(F.split(F.col("path"), " ")).cast("bigint").alias("_np"),
    )
    corpus_words = df.select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("word")
    )
    return (
        corpus_words.join(seg, "word", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum(F.coalesce(F.col("_np"), F.lit(1)))
            .cast("bigint")
            .alias("n_pieces"),
        )
    )
