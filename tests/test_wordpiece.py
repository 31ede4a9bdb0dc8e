"""WordPiece (operators/wordpiece.py): hypothesis parity of the
distributed trainer against a sequential reference, the canonical
likelihood-vs-count ranking example, greedy longest-match segment
semantics, UNK conventions, and determinism."""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings, strategies as st

from python_stream_processing_framework_spark.operators.unigram import (
    unigram_word_table,
)
from python_stream_processing_framework_spark.operators.wordpiece import (
    greedy_segment,
    wordpiece_segment_counts,
    wordpiece_train,
    wordpiece_vocab,
)

_SCALE = 10**12


def _ref_train(words: list[str], n_merges: int):
    """Sequential WordPiece trainer over a word list (each occurrence
    counted): same scoring quantization, same (score DESC, l, r)
    tie-break, same left-to-right non-overlapping rewrite."""
    counts: dict[str, int] = {}
    for w in words:
        if 1 <= len(w) <= 16:
            counts[w] = counts.get(w, 0) + 1
    seqs = {
        w: [w[0]] + ["##" + c for c in w[1:]] for w in counts
    }
    merges = []
    for _ in range(n_merges):
        pc: dict[tuple[str, str], int] = {}
        sc: dict[str, int] = {}
        for w, cnt in counts.items():
            syms = seqs[w]
            for s in syms:
                sc[s] = sc.get(s, 0) + cnt
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + cnt
        if not pc:
            break

        def score(p):
            return (pc[p] * _SCALE) // (sc[p[0]] * sc[p[1]])

        best = min(pc, key=lambda p: (-score(p), p[0], p[1]))
        merged = best[0] + (
            best[1][2:] if best[1].startswith("##") else best[1]
        )
        merges.append((best[0], best[1], pc[best], score(best)))
        for w in seqs:
            syms, out, i = seqs[w], [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == best[0]
                    and syms[i + 1] == best[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seqs[w] = out
    vocab = sorted({s for syms in seqs.values() for s in syms})
    return merges, vocab


def _ref_encode(word: str, vocab: set[str]):
    pos, out = 0, []
    while pos < len(word):
        hit = None
        for ln in range(len(word) - pos, 0, -1):
            form = word[pos : pos + ln]
            if pos > 0:
                form = "##" + form
            if form in vocab:
                hit = (ln, form)
                break
        if hit is None:
            return None
        out.append(hit[1])
        pos += hit[0]
    return out


@settings(max_examples=6, deadline=None)
@given(
    words=st.lists(
        st.text(alphabet="ab#\x1f", min_size=1, max_size=6),
        min_size=1,
        max_size=10,
    ),
    n_merges=st.integers(1, 4),
)
@example(words=["a\x1fb", "a\x1fb", "b\x1f"], n_merges=3)
def test_wordpiece_matches_sequential_reference(spark, words, n_merges):
    """Trainer == sequential reference: identical merge order, pairs,
    counts, and quantized scores; identical induced vocabulary;
    identical greedy piece counts per word. The small alphabet
    maximizes tie pressure on the score argmax; '#' makes plain
    symbols collide with ## continuation forms (the word '##' seeds
    as ['#', '###'] and merges to the plain symbol '##'), and '\x1f'
    is an ordinary character inside a symbol."""
    words = [w for w in words if w]
    if not words:
        words = ["a"]
    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id int, text string"
    )
    m = wordpiece_train(docs, "text", n_merges=n_merges)
    got = [
        (r["left"], r["right"], r["pair_count"], r["score_q"])
        for r in m.orderBy("merge_idx").collect()
    ]
    want_merges, want_vocab = _ref_train(words, n_merges)
    assert got == want_merges, (words, n_merges)
    v = wordpiece_vocab(docs, "text", m)
    assert sorted(r["piece"] for r in v.collect()) == want_vocab
    seg = {
        r["word"]: r["path"].split(" ")
        for r in greedy_segment(
            docs.sparkSession.createDataFrame(
                [(w, 1, len(w)) for w in sorted(set(words))],
                "word string, cnt bigint, wl int",
            ),
            v,
        ).collect()
    }
    vset = set(want_vocab)
    for w in sorted(set(words)):
        assert seg.get(w) == _ref_encode(w, vset), (w, words, n_merges)


def test_wordpiece_prefers_likelihood_over_count(spark):
    """The canonical WordPiece-vs-BPE ranking: on the 'hugs' corpus
    BPE merges the most frequent pair (h, ##u — count 6) first;
    WordPiece first merges rare-denominator pairs (##h ##e -> 'the',
    score count/(1*1) = max) and reaches (h, ##u) only later."""
    docs = spark.createDataFrame(
        [(1, "hugging hugs the hug"), (2, "hugging hugging pugs hug bug")],
        "doc_id bigint, text string",
    )
    m = [
        (r["left"], r["right"], r["score_q"])
        for r in wordpiece_train(docs, "text", n_merges=5)
        .orderBy("merge_idx")
        .collect()
    ]
    assert (m[0][0], m[0][1]) == ("##h", "##e")
    assert m[0][2] == _SCALE  # count 1 / (1 * 1)
    assert ("h", "##u") == (m[4][0], m[4][1])  # count-6 pair merges LAST


def test_wordpiece_encode_greedy_longest_match(spark):
    docs = spark.createDataFrame(
        [(1, "hugging hugs the hug"), (2, "hugging hugging pugs hug bug")],
        "doc_id bigint, text string",
    )
    m = wordpiece_train(docs, "text", n_merges=5)
    v = wordpiece_vocab(docs, "text", m)
    paths = {
        r["word"]: r["path"]
        for r in greedy_segment(unigram_word_table(docs, "text"), v).collect()
    }
    assert {w: paths[w] for w in ("hugging", "hugs", "the", "hug")} == {
        "hugging": "hu ##g ##g ##in ##g",
        "hugs": "hu ##g ##s",
        "the": "the",
        "hug": "hu ##g",
    }
    counts = {
        r["doc_id"]: (r["n_words"], r["n_pieces"])
        for r in wordpiece_segment_counts(docs, "doc_id", "text", v).collect()
    }
    assert counts[1] == (4, 11)
    assert counts[2] == (5, 18)


def test_wordpiece_unk_conventions(spark):
    """A word with a character the vocabulary never saw dies at that
    cursor: greedy_segment yields no row and segment_counts prices it
    1. Over-length words (>16 chars) are UNK the same way."""
    train = spark.createDataFrame(
        [(1, "abc abc ab")], "doc_id bigint, text string"
    )
    m = wordpiece_train(train, "text", n_merges=2)
    v = wordpiece_vocab(train, "text", m)
    probe = spark.createDataFrame(
        [(9, "abc xyz " + "a" * 17)], "doc_id bigint, text string"
    )
    paths = {
        r["word"]: r["path"]
        for r in greedy_segment(unigram_word_table(probe, "text"), v).collect()
    }
    # 'abc' dies too: greedy takes the longest match 'ab', and '##c'
    # is not in the vocabulary (no backtracking to 'a' + '##bc')
    assert paths == {}
    (c,) = wordpiece_segment_counts(probe, "doc_id", "text", v).collect()
    assert c["n_words"] == 3
    # each UNK word prices exactly one piece
    assert c["n_pieces"] == 3


def test_wordpiece_train_partition_invariant(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(["ab ab abc", "ba ab", "abc ba ab"])],
        "doc_id int, text string",
    )
    one = wordpiece_train(docs.coalesce(1), "text", n_merges=3).collect()
    many = wordpiece_train(docs.repartition(5), "text", n_merges=3).collect()
    assert sorted(map(tuple, one)) == sorted(map(tuple, many))


def test_wordpiece_rejects_bad_params(spark):
    docs = spark.createDataFrame([(1, "a")], "doc_id int, text string")
    with pytest.raises(ValueError, match="n_merges"):
        wordpiece_train(docs, "text", n_merges=0)
