"""Bigram-LM perplexity scoring (operators/lm.py): hand-computed
smoothed probabilities, empty-doc handling and the uniform fallback.
"""

from __future__ import annotations

import math

import pytest

from python_stream_processing_framework_spark.operators.lm import (
    score_bigram_lm,
    train_bigram_lm,
)


def _avg_lp(*lps):
    """Reference computation: nano-quantized order-free sum, then the
    6dp-rounded mean — exactly the operator's arithmetic."""
    s = sum(round(lp * 1e9) for lp in lps)
    return round(s / 1e9 / len(lps), 6)


@pytest.fixture(scope="module")
def lm_model(spark):
    train = spark.createDataFrame(
        [(1, "a b"), (2, "a b")], "doc_id int, text string"
    )
    bigrams, contexts, v = train_bigram_lm(train, "doc_id", "text")
    return train, bigrams, contexts, v


def test_train_counts_and_vocab(lm_model):
    _, bigrams, contexts, v = lm_model
    assert v == 2  # {a, b}; BOS is not vocabulary
    big = {(r["ctx"], r["w"]): r["c"] for r in bigrams.collect()}
    assert big == {("<s>", "a"): 2.0, ("a", "b"): 2.0}
    ctx = {r["ctx"]: r["cc"] for r in contexts.collect()}
    assert ctx == {"<s>": 2.0, "a": 2.0}


def test_score_matches_hand_computation(spark, lm_model):
    _, bigrams, contexts, v = lm_model
    docs = spark.createDataFrame(
        [(10, "a b"), (11, "c"), (12, "z q"), (13, "")],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["avg_lp"])
        for r in score_bigram_lm(
            docs, bigrams, contexts, v, "doc_id", "text", add_k=0.5
        ).collect()
    }
    # k=0.5, V+1=3 => denom adds 1.5
    seen = math.log(2.5 / 3.5)  # c(ctx,w)=2 over c(ctx)=2
    unseen_w = math.log(0.5 / 3.5)  # known ctx <s>, unseen word
    unseen_ctx = math.log(0.5 / 1.5)  # unseen ctx z: uniform floor
    assert out[10] == (2, _avg_lp(seen, seen))
    assert out[11] == (1, _avg_lp(unseen_w))
    assert out[12] == (2, _avg_lp(unseen_w, unseen_ctx))
    # empty doc keeps its row: zero tokens, NULL score
    assert out[13] == (0, None)


def test_unseen_context_hits_uniform_floor(spark, lm_model):
    """A fully-unseen bigram in an unseen context scores exactly
    ln(k / (k * (V+1))) = -ln(V+1): the uniform fallback."""
    _, bigrams, contexts, v = lm_model
    docs = spark.createDataFrame([(20, "z q")], "doc_id int, text string")
    row = score_bigram_lm(
        docs, bigrams, contexts, v, "doc_id", "text", add_k=0.5
    ).collect()[0]
    floor = -math.log(v + 1)
    # second token's lp is the floor; first is unseen-word-known-ctx
    assert row["avg_lp"] == _avg_lp(math.log(0.5 / 3.5), floor)


def test_min_count_prunes_and_keeps_vocab(spark):
    """min_count=2 drops singleton bigrams, context marginals
    re-derive from the pruned table, and the vocabulary stays the
    PRE-prune token set."""
    train = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], "doc_id int, text string"
    )
    bigrams, contexts, v = train_bigram_lm(
        train, "doc_id", "text", min_count=2
    )
    assert v == 3  # {a, b, c} — c survives the vocab despite pruning
    big = {(r["ctx"], r["w"]): r["c"] for r in bigrams.collect()}
    # (<s>,a)=3, (a,b)=2 survive; (a,c)=1 pruned
    assert big == {("<s>", "a"): 3.0, ("a", "b"): 2.0}
    ctx = {r["ctx"]: r["cc"] for r in contexts.collect()}
    assert ctx == {"<s>": 3.0, "a": 2.0}  # cc('a') excludes the pruned gram

    docs = spark.createDataFrame([(10, "a c")], "doc_id int, text string")
    row = score_bigram_lm(
        docs, bigrams, contexts, v, "doc_id", "text", add_k=0.5
    ).collect()[0]
    # k=0.5, V+1=4 => denom adds 2.0; pruned (a,c) scores as unseen
    lps = [math.log(3.5 / 5.0), math.log(0.5 / 4.0)]
    assert (row["n_tokens"], row["avg_lp"]) == (2, _avg_lp(*lps))


def test_backoff_hand_computed(spark):
    """Stupid backoff at n=3, hand-computed: trigram hit uses its
    relative frequency; a bigram-only hit pays one alpha; an
    OOV word pays two alphas into the add-k unigram base."""
    from python_stream_processing_framework_spark.operators.lm import (
        score_backoff_lm,
        train_backoff_lm,
    )

    train = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d"), (3, "x b")], "doc_id int, text string"
    )
    orders, v, nn = train_backoff_lm(train, "doc_id", "text", n=3)
    assert v == 5  # {a, b, c, d, x}; BOS excluded
    assert nn == 8  # 3 + 3 + 2 tokens
    # derived bigram counts marginalize the trigram table
    bi = {(r["ctx"], r["w"]): r["c"] for r in orders[2][0].collect()}
    assert bi[("a", "b")] == 2.0 and bi[("b", "c")] == 1.0
    uni = {r["w"]: r["c"] for r in orders[1][0].collect()}
    assert uni == {"a": 2.0, "b": 3.0, "c": 1.0, "d": 1.0, "x": 1.0}

    docs = spark.createDataFrame(
        [(10, "a b c"), (11, "x b c"), (12, "q")], "doc_id int, text string"
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["avg_lp"])
        for r in score_backoff_lm(
            docs, orders, v, nn, "doc_id", "text", n=3, alpha=0.4, add_k=0.5
        ).collect()
    }
    a = math.log(0.4)
    base = lambda c: math.log((c + 0.5) / (8.0 + 0.5 * 6.0)) + 2 * a  # noqa: E731
    # doc 10: every trigram seen
    lps10 = [
        math.log(2.0 / 3.0),  # a | <s> <s> (3 starts, 2 are 'a')
        math.log(2.0 / 2.0),  # b | <s> a
        math.log(1.0 / 2.0),  # c | a b
    ]
    assert out[10] == (3, _avg_lp(*lps10))
    # doc 11: 'x','b' trigram-seen; (x b -> c) unseen at 3 AND
    # (b -> c) seen at 2 => one alpha
    lps11 = [
        math.log(1.0 / 3.0),  # x | <s> <s>
        math.log(1.0 / 1.0),  # b | <s> x
        math.log(1.0 / 2.0) + a,  # c | b  (bigram backoff: c(b,c)=1, cc(b)=2)
    ]
    assert out[11] == (3, _avg_lp(*lps11))
    # doc 12: 'q' is OOV everywhere -> double-alpha unigram base
    assert out[12] == (1, _avg_lp(base(0.0)))


def test_trigram_order(spark):
    """n=3: contexts are 2-token windows with double-BOS padding —
    hand-computed on a corpus where bigram and trigram scores
    differ."""
    from python_stream_processing_framework_spark.operators.lm import (
        score_ngram_lm,
        train_ngram_lm,
    )

    train = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d")], "doc_id int, text string"
    )
    ngrams, contexts, v = train_ngram_lm(train, "doc_id", "text", n=3)
    assert v == 4  # {a, b, c, d}
    big = {(r["ctx"], r["w"]): r["c"] for r in ngrams.collect()}
    assert big == {
        ("<s> <s>", "a"): 2.0,
        ("<s> a", "b"): 2.0,
        ("a b", "c"): 1.0,
        ("a b", "d"): 1.0,
    }
    docs = spark.createDataFrame([(10, "a b c")], "doc_id int, text string")
    row = score_ngram_lm(
        docs, ngrams, contexts, v, "doc_id", "text", add_k=0.5, n=3
    ).collect()[0]
    # k=0.5, V+1=5 => denom adds 2.5
    lps = [
        math.log(2.5 / 4.5),  # a | <s> <s>   (2+0.5)/(2+2.5)
        math.log(2.5 / 4.5),  # b | <s> a
        math.log(1.5 / 4.5),  # c | a b       (1+0.5)/(2+2.5)
    ]
    assert (row["n_tokens"], row["avg_lp"]) == (3, _avg_lp(*lps))
