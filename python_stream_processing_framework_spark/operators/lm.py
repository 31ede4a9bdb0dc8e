"""N-gram language-model perplexity scoring — the CCNet filter.

Beyond-reference capability (SURVEY §2.7 charter): the standard
quality filter for LLM pretraining corpora (CCNet, Wenzek et al. 2019;
used by LLaMA/RedPajama/FineWeb pipelines) scores every document with
a small n-gram language model trained on trusted text and drops or
buckets documents by perplexity. The reference engine
(/root/reference/pspf) has no text statistics at all; this module
supplies the train + score pair Spark-first.

Model: an add-k-smoothed n-gram LM (default bigram; ``n`` raises the
order — contexts become space-joined (n-1)-token windows, same shape
throughout) over whitespace tokens with BOS markers::

    lp(w | ctx) = ln( (c(ctx, w) + k) / (c(ctx) + k * (V + 1)) )

where ``V`` is the training vocabulary size and the ``+1`` reserves a
slot for unseen tokens (any (ctx, w) the training corpus never saw
falls back toward the uniform floor ``-ln(V + 1)``). A document's
score is its mean token log-probability — perplexity is
``exp(-avg_lp)``, monotone in it, so filtering thresholds on
``avg_lp`` directly and no exp() need enter the comparison.

Scale shape:

- **Training** is one corpus scan: token explode -> two chained
  groupBy counts (bigram, then context marginal derived FROM the
  bigram frame, so contexts cost a second small shuffle over the
  count table, not a second corpus scan). Count tables are
  vocab-bounded (|V|² worst case, Zipf-tiny in practice), NOT
  corpus-sized.
- **Scoring** is one corpus scan + two equi-joins against the count
  frames. The joins are left joins keyed on (ctx, w) / ctx; at
  sf-test sizes AQE broadcasts the count side, at 100 TB they stay
  shuffle hash joins on a key whose build side has exactly one row
  per key (no build-side skew; probe-side hot keys like stopword
  contexts are ordinary shuffle-join traffic AQE's skew handling
  splits).
- Nothing corpus-sized ever reaches the driver: the only collect is
  the 1-row vocabulary-size scalar (the same bounded-metadata
  contract as retrieval.bm25's (N, avgdl)).

Determinism (oracle contract): each token's log-prob is quantized to
integer NANO-units (round(lp * 1e9) as BIGINT — the functions/
exact.py "integer cents" pattern) so the per-document sum is an
order-free exact integer sum: Spark gets map-side partial
aggregation and a narrow shuffle, and any engine reproduces the sum
bit-exact regardless of association order. Every count enters the
probability as an exact-integer-valued DOUBLE, the division/ln
expression shape is mirrored verbatim in the DuckDB oracle, and the
final 6dp round is computed from the nano sum identically in both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_stream_processing_framework_spark.operators.retrieval import tokenize_expr

#: Beginning-of-document marker prepended before the first token so the
#: first real token is conditioned on a document-start context.
BOS = "<s>"


def _ngram_pairs(text_col: str, n: int):
    """Array of (ctx, w) structs: the (n-1)-token context predicting
    each token. ``ctx`` is the space-joined window (tokens contain no
    whitespace — the tokenizer splits on it — so the join is
    unambiguous); the first tokens see n-1 BOS markers.

    BOS itself is never a predicted word, only context. Built so the
    generator emits ONLY the pair structs — an explode over position
    indices would carry the whole padded token array into every
    output row and re-index it there, which dominated the scoring
    scan's cost. Zero-token documents yield an empty array.
    """
    toks = tokenize_expr(F.col(text_col))
    padded = F.concat(F.array(*[F.lit(BOS)] * (n - 1)), toks)
    ntok = F.size(toks)
    # n shifted slices zipped progressively: element i of slice j is
    # padded[i+j-1], so folding slices 1..n-1 with a space-concat
    # builds every (n-1)-token context and slice n supplies the
    # predicted word — O(n * len) per document. (A transform over
    # position indices re-evaluated `padded` and re-sliced it INSIDE
    # the per-element lambda — O(len^2) per document, measured ~6x
    # the whole-query wall at n=3/sf0.1.)
    ctx = F.slice(padded, 1, ntok)
    for j in range(2, n):
        ctx = F.zip_with(
            ctx, F.slice(padded, j, ntok), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.zip_with(
        ctx,
        F.slice(padded, n, ntok),
        lambda a, b: F.struct(a.alias("ctx"), b.alias("w")),
    )


def _ngram_explode(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """One row per real token: the (ctx, w) n-gram predicting it.
    Zero-token documents produce no rows."""
    return df.select(
        F.col(id_col), F.explode(_ngram_pairs(text_col, n)).alias("_pr")
    ).select(id_col, "_pr.ctx", "_pr.w")


def train_ngram_lm(
    train_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 2,
    min_count: int = 1,
) -> tuple[DataFrame, DataFrame, int]:
    """Count n-grams over a training corpus (default bigram).

    Returns ``(ngram_counts, context_counts, vocab_size)``:
    ``ngram_counts`` has columns (ctx, w, c) where ``ctx`` is the
    space-joined (n-1)-token context, ``context_counts`` (ctx, cc) —
    both counts as exact-integer-valued DOUBLE so the smoothed
    division is bit-reproducible in any engine — and ``vocab_size``
    is the exact number of distinct training tokens (BOS excluded),
    the one scalar this trainer collects.

    ``min_count > 1`` prunes n-grams observed fewer times (one
    filter over the count table — the knob that keeps the table
    vocab-bounded at n >= 3 over web text, where singleton n-grams
    are the overwhelming tail). Context marginals are computed from
    the PRUNED table, so every surviving (ctx, w) probability stays
    <= 1 and the pruned mass falls into the add-k unseen slot —
    exactly what scoring assumes. ``vocab_size`` is counted BEFORE
    pruning: the vocabulary is a property of the corpus, and
    shrinking the smoothing denominator because rare n-grams were
    pruned would overweight every survivor.
    """
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    from python_stream_processing_framework_spark.operators.common import (
        persist_lazy,
    )

    grams = _ngram_explode(train_df, id_col, text_col, n)
    # ONE corpus scan total: the persisted count table feeds the
    # context marginals, the vocabulary size, AND both scoring joins.
    # LAZY (r15): the vocab-size count below is an eager action on
    # this frame anyway — it populates the blocks, so materialize's
    # own count job was a pure duplicate.
    counted = persist_lazy(
        grams.groupBy("ctx", "w").agg(
            F.count(F.lit(1)).cast("double").alias("c")
        )
    )
    ngrams = (
        counted
        if min_count == 1
        else counted.filter(F.col("c") >= F.lit(float(min_count)))
    )
    contexts = ngrams.groupBy("ctx").agg(F.sum("c").alias("cc"))
    # every training token is predicted exactly once (BOS pads the
    # first contexts), so the distinct `w` values ARE the vocabulary
    # — a count over the cached vocab-bounded table, not a second
    # corpus scan
    vocab_size = counted.select("w").distinct().count()
    return ngrams, contexts, int(vocab_size)


def train_bigram_lm(
    train_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_count: int = 1,
) -> tuple[DataFrame, DataFrame, int]:
    """Bigram convenience form of `train_ngram_lm` (n=2)."""
    return train_ngram_lm(train_df, id_col, text_col, n=2, min_count=min_count)


def score_ngram_lm(
    df: DataFrame,
    ngrams: DataFrame,
    contexts: DataFrame,
    vocab_size: int,
    id_col: str,
    text_col: str,
    *,
    add_k: float = 0.5,
    n: int = 2,
) -> DataFrame:
    """Mean token log-probability per document under the trained LM.

    ``n`` must match the order the counts were trained at. Returns
    (id_col, n_tokens, avg_lp) with avg_lp rounded to 6dp;
    zero-token documents keep a row with n_tokens=0 and NULL avg_lp
    (a filter must decide their fate explicitly, not lose them).
    Lower avg_lp = higher perplexity = less like the training corpus.
    """
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    # explode_outer keeps zero-token documents as one NULL-pair row,
    # so ONE corpus scan yields both the per-token log-probs and the
    # token counts (count of non-null pairs) — no second base scan,
    # no join back, no anti-join recomputing the aggregation.
    ev = df.select(
        F.col(id_col),
        F.explode_outer(_ngram_pairs(text_col, n)).alias("_pr"),
    ).select(
        id_col, F.col("_pr.ctx").alias("ctx"), F.col("_pr.w").alias("w")
    )
    denom_k = F.lit(float(add_k)) * F.lit(float(vocab_size + 1))
    # Determinism WITHOUT a positional fold: quantize each token's
    # log-prob to integer nano-units (the functions/exact.py "integer
    # cents" pattern, same as similarity.py's int8 path) so the
    # per-document sum is an order-free exact BIGINT sum — Spark gets
    # map-side partial aggregation and a narrow shuffle instead of a
    # per-doc struct sort, and any engine reproduces it bit-exact.
    lp = (
        ev.join(ngrams, ["ctx", "w"], "left")
        .join(contexts, ["ctx"], "left")
        .select(
            id_col,
            F.when(
                F.col("w").isNotNull(),
                F.round(
                    F.log(
                        (
                            F.coalesce(F.col("c"), F.lit(0.0))
                            + F.lit(float(add_k))
                        )
                        / (F.coalesce(F.col("cc"), F.lit(0.0)) + denom_k)
                    )
                    * F.lit(1e9)
                ).cast("bigint"),
            ).alias("lp_nano"),
        )
    )
    return lp.groupBy(id_col).agg(
        F.count("lp_nano").alias("n_tokens"),
        F.round(
            F.sum("lp_nano").cast("double")
            / F.lit(1e9)
            / F.count("lp_nano"),
            6,
        ).alias("avg_lp"),
    )


def score_bigram_lm(
    df: DataFrame,
    bigrams: DataFrame,
    contexts: DataFrame,
    vocab_size: int,
    id_col: str,
    text_col: str,
    *,
    add_k: float = 0.5,
) -> DataFrame:
    """Bigram convenience form of `score_ngram_lm` (n=2)."""
    return score_ngram_lm(
        df, bigrams, contexts, vocab_size, id_col, text_col,
        add_k=add_k, n=2,
    )


def _ctx_suffix(ctx, n: int, k: int):
    """Order-k context from the full (n-1)-token context: its last
    (k-1) tokens. The full context ALWAYS has exactly n-1 tokens
    (BOS padding guarantees it), so the slice is position-stable.
    Order 1 has the empty context."""
    if k == 1:
        return F.lit("")
    if k == n:
        return ctx
    return F.array_join(F.slice(F.split(ctx, " "), n - k + 1, k - 1), " ")


def train_backoff_lm(
    train_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    min_count: int = 1,
) -> tuple[dict[int, tuple[DataFrame, DataFrame]], int, int]:
    """Count tables for stupid-backoff scoring (Brants et al. 2007,
    "Large Language Models in Machine Translation") at every order
    1..n, from ONE corpus scan.

    Returns ``(orders, vocab_size, total_tokens)`` where
    ``orders[k] = (ngrams_k, contexts_k)`` — (ctx, w, c) and
    (ctx, cc) with order-k contexts (k-1 space-joined tokens; order
    1's context is the empty string). Every lower order is DERIVED
    from the top-order count table by suffix aggregation — each
    token is predicted exactly once in the BOS-padded top table, so
    marginalizing full contexts onto their (k-1)-token suffix reproduces
    the exact order-k counts — vocabulary-bounded shuffles, never a
    second corpus pass. ``min_count`` prunes each order's table
    independently AFTER aggregation (counts stay exact; pruned mass
    backs off to the lower order, which is the whole point).
    ``total_tokens`` is the exact training-token count (the unigram
    denominator).
    """
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    from python_stream_processing_framework_spark.operators.common import (
        persist_lazy,
    )

    grams = _ngram_explode(train_df, id_col, text_col, n)
    # LAZY (r15): the scalars collect right below populates the
    # blocks — materialize's eager count was a duplicate job
    top = persist_lazy(
        grams.groupBy("ctx", "w").agg(
            F.count(F.lit(1)).cast("double").alias("c")
        )
    )
    scalars = top.agg(
        F.count_distinct("w").alias("v"), F.sum("c").alias("nn")
    ).collect()[0]
    # a zero-token training corpus yields NULL aggregates, not zero
    vocab_size = int(scalars["v"] or 0)
    total_tokens = int(scalars["nn"] or 0)

    orders: dict[int, tuple[DataFrame, DataFrame]] = {}
    for k in range(1, n + 1):
        counts_k = (
            top
            if k == n
            else (
                top.select(
                    _ctx_suffix(F.col("ctx"), n, k).alias("ctx"), "w", "c"
                )
                .groupBy("ctx", "w")
                .agg(F.sum("c").alias("c"))
            )
        )
        if min_count > 1:
            counts_k = counts_k.filter(F.col("c") >= F.lit(float(min_count)))
        contexts_k = counts_k.groupBy("ctx").agg(F.sum("c").alias("cc"))
        orders[k] = (counts_k, contexts_k)
    return orders, vocab_size, total_tokens


def score_backoff_lm(
    df: DataFrame,
    orders: dict[int, tuple[DataFrame, DataFrame]],
    vocab_size: int,
    total_tokens: int,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    alpha: float = 0.4,
    add_k: float = 0.5,
) -> DataFrame:
    """Mean token log-score per document under stupid backoff.

    Per token: the relative frequency at the highest order whose
    (ctx, w) survives in the count tables, discounted by
    ``alpha`` per backed-off order::

        S(w | ctx_k) = c_k(ctx_k, w) / cc_k(ctx_k)       if c_k > 0
                     = alpha * S(w | ctx_{k-1})           otherwise

    with an add-k-smoothed unigram base so unseen words stay finite:
    ``(c_1(w) + add_k) / (N + add_k * (V + 1))``. Scores are not
    normalized probabilities — that is the published trade for
    web-scale counts, and document RANKING is what the filter uses.

    Output schema matches `score_ngram_lm`: (id, n_tokens, avg_lp),
    zero-token documents keep a NULL-avg_lp row. One corpus scan;
    per-order left equi-joins against vocabulary-bounded count
    tables (broadcast at test SF, shuffle-hash at 100 TB); the same
    nano-unit BIGINT quantization makes the per-doc sum order-free
    exact, so DuckDB replays bit-exact.
    """
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    ev = df.select(
        F.col(id_col),
        F.explode_outer(_ngram_pairs(text_col, n)).alias("_pr"),
    ).select(
        id_col, F.col("_pr.ctx").alias("ctx"), F.col("_pr.w").alias("w")
    )
    for k in range(2, n + 1):
        ev = ev.withColumn(f"_ctx{k}", _ctx_suffix(F.col("ctx"), n, k))
    joined = ev
    for k in range(n, 1, -1):
        ngrams_k, contexts_k = orders[k]
        # cc_k is only READ when the (ctx, w) count row matched (the
        # cascade tests _c{k} IS NOT NULL before log(c/cc)), and every
        # ctx in the pruned count table owns a context row by
        # construction — so the context denominator rides the
        # VOCAB-BOUNDED count table via one small inner join instead
        # of a second corpus-scale join of the event stream. n=3
        # scoring pays 3 event joins instead of 5; values unchanged
        # (r15 optimization pass, guide §2.4).
        counts_with_cc = ngrams_k.join(contexts_k, ["ctx"]).select(
            F.col("ctx").alias(f"_ctx{k}"),
            F.col("w"),
            F.col("c").alias(f"_c{k}"),
            F.col("cc").alias(f"_cc{k}"),
        )
        joined = joined.join(
            counts_with_cc,
            [f"_ctx{k}", "w"],
            "left",
        )
    unigrams, _ = orders[1]
    joined = joined.join(
        unigrams.select("w", F.col("c").alias("_c1")), ["w"], "left"
    )
    ln_alpha = F.log(F.lit(float(alpha)))
    base = F.log(
        (F.coalesce(F.col("_c1"), F.lit(0.0)) + F.lit(float(add_k)))
        / (
            F.lit(float(total_tokens))
            + F.lit(float(add_k)) * F.lit(float(vocab_size + 1))
        )
    ) + F.lit(float(n - 1)) * ln_alpha
    lp_expr = base
    # build the cascade bottom-up so order n ends outermost
    for k in range(2, n + 1):
        lp_expr = F.when(
            F.col(f"_c{k}").isNotNull(),
            F.log(F.col(f"_c{k}") / F.col(f"_cc{k}"))
            + F.lit(float(n - k)) * ln_alpha,
        ).otherwise(lp_expr)
    lp = joined.select(
        id_col,
        F.when(
            F.col("w").isNotNull(),
            F.round(lp_expr * F.lit(1e9)).cast("bigint"),
        ).alias("lp_nano"),
    )
    return lp.groupBy(id_col).agg(
        F.count("lp_nano").alias("n_tokens"),
        F.round(
            F.sum("lp_nano").cast("double")
            / F.lit(1e9)
            / F.count("lp_nano"),
            6,
        ).alias("avg_lp"),
    )


def perplexity_buckets(
    scored: DataFrame,
    group_col: str,
    score_col: str = "avg_lp",
    *,
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet head/middle/tail partitioning by per-group score terciles.

    CCNet's final step buckets each language's documents into three
    equal-mass perplexity bands (head = least surprising, the cleanest
    third). This is NOT an NTILE window over the corpus — a per-group
    global sort funnels each language through one reducer at web
    scale. Instead the cutoffs are exact order statistics computed on
    the DISTINCT-quantized-score histogram (a table bounded by
    distinct 6dp score values, not corpus rows): cut i is the smallest
    score whose cumulative count reaches ceil(i * n / B). Assignment
    is then a map-side CASE against the broadcast per-group threshold
    table (one row per group). Tied scores land in the same bucket by
    construction — the rule is a pure function of the score, so it is
    engine- and partitioning-independent.

    Returns the non-NULL-score rows of ``scored`` plus
    ``score_micro`` (the round(score * 1e6) BIGINT the rule is
    computed on — exact, oracle-friendly) and ``bucket``
    ('tail' < 'middle' < 'head' ascending score for the default 3;
    'b1'..'bB' otherwise). NULL scores are excluded — the caller
    decides zero-evidence documents explicitly.
    """
    from pyspark.sql import Window

    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    b = int(n_buckets)
    s = scored.filter(F.col(score_col).isNotNull()).withColumn(
        "score_micro", F.round(F.col(score_col) * F.lit(1e6)).cast("bigint")
    )
    hist = s.groupBy(group_col, "score_micro").agg(
        F.count(F.lit(1)).alias("_c")
    )
    w_cum = (
        Window.partitionBy(group_col)
        .orderBy("score_micro")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(group_col)
    cum = hist.select(
        group_col,
        F.col("score_micro"),
        F.sum("_c").over(w_cum).alias("_cum"),
        F.sum("_c").over(w_all).alias("_n"),
    )
    thr = cum.groupBy(group_col).agg(
        *[
            F.min(
                F.when(
                    F.col("_cum")
                    >= F.expr(f"CAST((_n * {i} + {b - 1}) DIV {b} AS BIGINT)"),
                    F.col("score_micro"),
                )
            ).alias(f"_t{i}")
            for i in range(1, b)
        ]
    )
    labels = (
        ["tail", "middle", "head"]
        if b == 3
        else [f"b{i}" for i in range(1, b + 1)]
    )
    bucket = F.when(F.col("score_micro") <= F.col("_t1"), F.lit(labels[0]))
    for i in range(2, b):
        bucket = bucket.when(
            F.col("score_micro") <= F.col(f"_t{i}"), F.lit(labels[i - 1])
        )
    bucket = bucket.otherwise(F.lit(labels[b - 1]))
    out = s.join(F.broadcast(thr), [group_col])
    return out.select(*s.columns, bucket.alias("bucket"))
