"""Property-based checks against independent implementations:
window bucketing vs plain integer arithmetic, as-of join vs
pandas.merge_asof. Few examples, batched per Spark job."""

from __future__ import annotations

import pytest

import pandas as pd
from hypothesis import example, given, settings, strategies as st

from pyspark.sql import functions as F

# Heavyweight battery: slow tier (see pyproject addopts; VERDICT r15 #1)
pytestmark = pytest.mark.slow

TS = st.integers(min_value=0, max_value=10_000_000)  # millis


@settings(max_examples=8, deadline=None)
@given(
    ts_ms=st.lists(TS, min_size=1, max_size=50),
    size_s=st.integers(min_value=1, max_value=3600),
)
def test_tumbling_assignment_matches_arithmetic(spark, ts_ms, size_s):
    # integer millis straight in (a /1000*1000 float roundtrip truncates)
    df = spark.createDataFrame([(t,) for t in ts_ms], ["ts_ms"]).withColumn(
        "ts", F.timestamp_millis(F.col("ts_ms"))
    )
    out = df.select(
        "ts_ms", F.unix_timestamp(F.window("ts", f"{size_s} seconds")["start"]).alias("w")
    ).collect()
    for r in out:
        expect = r["ts_ms"] // (size_s * 1000) * size_s
        assert r["w"] == expect, (r["ts_ms"], size_s, r["w"], expect)


@settings(max_examples=8, deadline=None)
@given(
    left=st.lists(st.tuples(st.integers(0, 3), TS), min_size=1, max_size=30),
    right=st.lists(st.tuples(st.integers(0, 3), TS, st.integers(0, 99)), min_size=1, max_size=30),
)
def test_as_of_join_matches_pandas_merge_asof(spark, left, right):
    from python_stream_processing_framework_spark.operators.joins import as_of_join

    # dedupe (key, ts) on the right: with ties merge_asof picks the last
    # row while our window-fill picks an arbitrary one — dedupe keeps
    # the comparison well-defined (real streams have unique event times)
    right = list({(k, t): v for k, t, v in right}.items())
    right = [(k, t, v) for (k, t), v in right]

    ldf = spark.createDataFrame(
        [(k, t / 1000.0, i) for i, (k, t) in enumerate(left)], ["k", "ts", "i"]
    ).withColumn("ts", F.timestamp_millis((F.col("ts") * 1000).cast("long")))
    rdf = spark.createDataFrame(
        [(k, t / 1000.0, v) for k, t, v in right], ["k", "ts", "v"]
    ).withColumn("ts", F.timestamp_millis((F.col("ts") * 1000).cast("long")))

    got = {
        r["i"]: r["r_v"]
        for r in as_of_join(ldf, rdf, "k", "ts", "ts").collect()
    }

    lp = pd.DataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], columns=["k", "ts", "i"]
    ).sort_values("ts", kind="mergesort")
    rp = pd.DataFrame(right, columns=["k", "ts", "v"]).sort_values(
        "ts", kind="mergesort"
    )
    merged = pd.merge_asof(lp, rp, on="ts", by="k", direction="backward")
    expect = {
        int(row.i): (None if pd.isna(row.v) else int(row.v))
        for row in merged.itertuples()
    }
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(
    events=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 500_000)),  # (key, ts_ms)
        min_size=1,
        max_size=40,
    ),
    gap_s=st.integers(min_value=1, max_value=120),
)
def test_session_windows_match_independent_islands(spark, events, gap_s):
    """Spark session_window vs a plain-Python gaps-and-islands fold:
    same sessions (start, end=last+gap, count) for random event sets."""
    # integer millis straight in: a /1000*1000 float roundtrip truncates
    # values like 287ms to 286ms under cast("long")
    df = spark.createDataFrame(
        [(k, t) for k, t in events], ["k", "ts_ms"]
    ).withColumn("ts", F.timestamp_millis(F.col("ts_ms")))

    got = {
        (r["k"], r["start_us"], r["end_us"], r["n"])
        for r in df.groupBy("k", F.session_window("ts", f"{gap_s} seconds").alias("w"))
        .count()
        .select(
            "k",
            F.unix_micros("w.start").alias("start_us"),
            F.unix_micros("w.end").alias("end_us"),
            F.col("count").alias("n"),
        )
        .collect()
    }

    # independent: sort per key, break when diff >= gap
    expect = set()
    by_key: dict[int, list[int]] = {}
    for k, t in events:
        by_key.setdefault(k, []).append(t * 1000)  # us
    gap_us = gap_s * 1_000_000
    for k, ts_list in by_key.items():
        ts_list.sort()
        start, last, n = ts_list[0], ts_list[0], 1
        for t in ts_list[1:]:
            if t - last >= gap_us:
                expect.add((k, start, last + gap_us, n))
                start, n = t, 0
            last = t
            n += 1
        expect.add((k, start, last + gap_us, n))
    assert got == expect


# ---- pure-Python properties (no Spark job per example) ----------------

_COUNTS = st.dictionaries(
    st.sampled_from(["a", "b", "c", "d"]),
    st.integers(min_value=0, max_value=10_000),
    min_size=1,
)
_WEIGHTS = st.dictionaries(
    st.sampled_from(["a", "b", "c", "d"]),
    st.floats(min_value=0.01, max_value=10.0, allow_nan=False),
    min_size=1,
)


@settings(max_examples=300, deadline=None)
@given(counts=_COUNTS, weights=_WEIGHTS)
def test_mixture_quotas_feasible_and_proportional(counts, weights):
    from python_stream_processing_framework_spark.operators.mixture import (
        mixture_quotas,
    )

    import math

    q = mixture_quotas(counts, weights)
    assert set(q) == set(weights)
    # the documented spec: T = floor(min(n_s / w_s)), quota = floor(w*T)
    t = math.floor(min(counts.get(s, 0) / w for s, w in weights.items()))
    for s, w in weights.items():
        # feasible: never asks a stratum for more than it has
        assert 0 <= q[s] <= counts.get(s, 0)
        # proportional to the feasible total: within 1 of the w*T line
        assert w * t - 1 < q[s] <= w * t + 1e-9


@settings(max_examples=300, deadline=None)
@given(counts=_COUNTS, weights=_WEIGHTS, extra=st.integers(1, 5_000))
def test_mixture_quotas_monotone_in_counts(counts, weights, extra):
    """Adding documents to any stratum never shrinks any quota — the
    property that makes incremental corpus growth safe (a bigger
    corpus can only widen the feasible mixture)."""
    from python_stream_processing_framework_spark.operators.mixture import (
        mixture_quotas,
    )

    base = mixture_quotas(counts, weights)
    for s in weights:
        grown = dict(counts)
        grown[s] = grown.get(s, 0) + extra
        bigger = mixture_quotas(grown, weights)
        assert all(bigger[x] >= base[x] for x in weights)


@settings(max_examples=200, deadline=None)
@given(
    weights=st.dictionaries(
        st.sampled_from(["train", "val", "test", "x"]),
        st.floats(min_value=0.001, max_value=100.0, allow_nan=False),
        min_size=1,
    )
)
def test_split_thresholds_partition_hash_space(weights):
    from python_stream_processing_framework_spark.operators.sampling import (
        HASH_SPACE,
        split_thresholds,
    )

    bounds = split_thresholds(weights)
    uppers = [b for _, b in bounds]
    # nondecreasing, and the final bucket always closes the space: no
    # hash value can fall through to an unassigned label
    assert uppers == sorted(uppers)
    assert uppers[-1] == HASH_SPACE
    assert [label for label, _ in bounds] == list(weights)


@settings(max_examples=6, deadline=None)
@given(
    texts=st.lists(
        st.text(
            # printable-ish mix heavy in the characters the PII
            # patterns care about (@, dots, digits, separators)
            alphabet="abcXYZ019@.+-_ :/\t",
            min_size=0,
            max_size=80,
        ),
        min_size=1,
        max_size=20,
    )
)
def test_redact_pii_idempotent_and_matches_python_re(spark, texts):
    """Two properties on arbitrary adversarial text: (1) redaction is
    IDEMPOTENT — the category tokens contain no digits or '@', so a
    second pass never finds new spans (a scrubbed corpus can be
    re-scrubbed safely); (2) both counts and redacted output match an
    independent Python `re` implementation applying the same patterns
    in the same order (java.util.regex vs the `re` module — a third
    engine beyond the DuckDB oracle)."""
    import re

    from python_stream_processing_framework_spark.operators.text import (
        CCARD_PATTERN,
        PII_PATTERNS,
        pii_stats,
        redact_pii,
    )

    def luhn(c: str) -> bool:
        ds = [int(ch) for ch in re.sub(r"[-. ]", "", c)][::-1]
        return (
            sum(
                d if i % 2 == 0 else (d * 2 - 9 if d * 2 > 9 else d * 2)
                for i, d in enumerate(ds)
            )
            % 10
            == 0
        )

    def py_redact(t: str) -> str:
        name0, p0 = PII_PATTERNS[0]
        out = re.sub(p0, f"[{name0.upper()}]", t)
        # the Luhn-gated literal-replace fold, in match order
        for c in re.findall(CCARD_PATTERN, out):
            if luhn(c):
                out = out.replace(c, "[CCARD]")
        for name, p in PII_PATTERNS[1:]:
            out = re.sub(p, f"[{name.upper()}]", out)
        return out

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got_stats = {
        r["doc_id"]: tuple(r[f"n_{n}"] for n, _ in PII_PATTERNS)
        + (r["n_ccard"],)
        for r in pii_stats(df, "doc_id", "text").collect()
    }
    once = {
        r["doc_id"]: r["red"]
        for r in redact_pii(df, "text", output_col="red").collect()
    }
    red_df = redact_pii(df, "text")  # in place
    twice = {
        r["doc_id"]: r["red"]
        for r in redact_pii(red_df, "text", output_col="red").collect()
    }
    for i, t in enumerate(texts):
        expect_counts = tuple(
            len(re.findall(p, t)) for _, p in PII_PATTERNS
        ) + (sum(1 for c in re.findall(CCARD_PATTERN, t) if luhn(c)),)
        expect_red = py_redact(t)
        assert got_stats[i] == expect_counts, (t, got_stats[i], expect_counts)
        assert once[i] == expect_red, (t, once[i], expect_red)
        assert twice[i] == once[i], (t, once[i], twice[i])


@settings(max_examples=6, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="abcZ01:/.https w\n", min_size=0, max_size=80),
        min_size=1,
        max_size=20,
    )
)
def test_extract_url_domains_matches_python_re(spark, texts):
    import re

    from python_stream_processing_framework_spark.operators.text import (
        URL_HOST_PATTERN,
        extract_url_domains,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got: dict[int, list[str]] = {i: [] for i in range(len(texts))}
    for r in extract_url_domains(df, "doc_id", "text").collect():
        got[r["doc_id"]].append(r["domain"])
    for i, t in enumerate(texts):
        expect = [m.lower() for m in re.findall(URL_HOST_PATTERN, t)]
        assert sorted(got[i]) == sorted(expect), (t, got[i], expect)


@settings(max_examples=8, deadline=None)
@given(
    n_tokens=st.integers(min_value=1, max_value=60),
    chunk_tokens=st.integers(min_value=2, max_value=12),
    overlap=st.integers(min_value=0, max_value=11),
)
def test_chunk_documents_coverage_properties(spark, n_tokens, chunk_tokens, overlap):
    """Invariants for any (n, chunk, overlap) with overlap < chunk:
    chunks tile the doc left to right at the exact stride, consecutive
    chunks share exactly `overlap` tokens (except a shorter tail),
    every token appears in at least one chunk, and concatenating the
    stride-prefix of each chunk plus the last chunk reconstructs the
    document."""
    from hypothesis import assume

    from python_stream_processing_framework_spark.operators.text import (
        chunk_documents,
    )

    assume(overlap < chunk_tokens)
    toks = [f"w{i}" for i in range(n_tokens)]
    df = spark.createDataFrame([(1, " ".join(toks))], ["doc_id", "text"])
    rows = sorted(
        (r["chunk_id"], r["chunk_text"].split(" "))
        for r in chunk_documents(
            df, "doc_id", "text", chunk_tokens=chunk_tokens, overlap=overlap
        ).collect()
    )
    stride = chunk_tokens - overlap
    assert [cid for cid, _ in rows] == list(range(len(rows)))
    covered = []
    for cid, chunk in rows:
        assert chunk == toks[cid * stride : cid * stride + chunk_tokens]
        covered.extend(range(cid * stride, cid * stride + len(chunk)))
    assert set(covered) == set(range(n_tokens))  # no token lost
    # reconstruct: stride-prefixes of all but the last chunk + last chunk
    rebuilt = [
        t for cid, chunk in rows[:-1] for t in chunk[:stride]
    ] + rows[-1][1]
    assert rebuilt == toks


def _ref_bpe(words, n_merges):
    """Pure-Python reference BPE (Sennrich et al. 2016): word-frequency
    table, greedy-leftmost merge application, (count DESC, pair ASC)
    tie-break — the semantics operators/bpe.py distributes."""
    from collections import Counter

    wf = Counter(words)
    vocab = {tuple(w): c for w, c in wf.items()}
    merges = []
    for i in range(n_merges):
        pc = Counter()
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += c
        if not pc:
            break
        (l, r), total = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((i, l, r, total))
        new_vocab = {}
        for syms, c in vocab.items():
            out, j = [], 0
            while j < len(syms):
                if j + 1 < len(syms) and syms[j] == l and syms[j + 1] == r:
                    out.append(l + r)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges, vocab


@settings(max_examples=6, deadline=None)
@given(
    words=st.lists(
        st.text(alphabet="ab", min_size=1, max_size=5),
        min_size=1,
        max_size=12,
    ),
    n_merges=st.integers(1, 4),
)
@example(words=["a\x1fb", "a\x1fb", "b\x1f"], n_merges=3)
def test_bpe_matches_reference_implementation(spark, words, n_merges):
    """Distributed BPE == sequential reference BPE on the same corpus:
    identical merge table (order, pairs, counts) AND identical per-doc
    piece counts. The tiny 'ab' alphabet maximizes tie and
    overlapping-pair pressure (aa/ab/ba/bb collisions every round);
    the example keeps '\x1f' an ordinary character inside a symbol."""
    from python_stream_processing_framework_spark.operators.bpe import (
        bpe_segment_counts,
        bpe_train,
    )

    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id int, text string"
    )
    got_merges = [
        (r["merge_idx"], r["left"], r["right"], r["pair_count"])
        for r in bpe_train(docs, "text", n_merges=n_merges).collect()
    ]
    want_merges, _ = _ref_bpe(words, n_merges)
    assert got_merges == want_merges

    pairs = [(l, r) for _, l, r, _ in want_merges]
    got_seg = {
        r["doc_id"]: r["n_pieces"]
        for r in bpe_segment_counts(docs, "doc_id", "text", pairs).collect()
    }
    for i, w in enumerate(words):
        syms = list(w)
        for l, r in pairs:
            out, j = [], 0
            while j < len(syms):
                if j + 1 < len(syms) and syms[j] == l and syms[j + 1] == r:
                    out.append(l + r)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            syms = out
        assert got_seg[i] == len(syms), (w, pairs)


def _ref_ngram_lm(train_words_per_doc, score_words_per_doc, n=2, add_k=0.5):
    """Sequential reference of operators/lm.py: n-gram counts with
    (n-1) BOS contexts, add-k smoothing over (V+1), nano-quantized
    sums."""
    import math
    from collections import Counter

    def grams(toks):
        padded = ["<s>"] * (n - 1) + list(toks)
        for i in range(len(toks)):
            yield " ".join(padded[i : i + n - 1]), padded[i + n - 1]

    big, ctx, vocab = Counter(), Counter(), set()
    for toks in train_words_per_doc:
        vocab.update(toks)
        for c, w in grams(toks):
            big[(c, w)] += 1
            ctx[c] += 1
    v = len(vocab)
    out = []
    for toks in score_words_per_doc:
        nanos = 0
        for c, w in grams(toks):
            lp = math.log(
                (big.get((c, w), 0) + add_k)
                / (ctx.get(c, 0) + add_k * (v + 1))
            )
            nanos += round(lp * 1e9)
        nt = len(toks)
        out.append((nt, round(nanos / 1e9 / nt, 6) if nt else None))
    return out


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.text(alphabet="xyz", min_size=1, max_size=3),
            min_size=0,
            max_size=8,
        ),
        min_size=1,
        max_size=10,
    ),
    n=st.integers(2, 3),
)
def test_lm_matches_reference_implementation(spark, docs, n):
    """Distributed bigram-LM train+score == a sequential reference on
    the same corpus (80/20 split by index parity stand-in: train on
    docs with even index). The tiny alphabet maximizes context
    collisions; empty docs pin the NULL-score row."""
    from python_stream_processing_framework_spark.operators.lm import (
        score_ngram_lm,
        train_ngram_lm,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    train = df.filter(F.col("doc_id") % 2 == 0)
    ngrams, contexts, v = train_ngram_lm(train, "doc_id", "text", n=n)

    # tokenize like the operator: whitespace-run split, blank -> []
    def toks_of(t):
        t = t.strip().lower()
        return t.split() if t else []

    train_toks = [toks_of(t) for i, t in rows if i % 2 == 0]
    all_toks = [toks_of(t) for _, t in rows]
    assert v == len({w for ts in train_toks for w in ts})
    want = _ref_ngram_lm(train_toks, all_toks, n=n)
    got = {
        r["doc_id"]: (r["n_tokens"], r["avg_lp"])
        for r in score_ngram_lm(
            df, ngrams, contexts, v, "doc_id", "text", n=n
        ).collect()
    }
    assert got == {i: w for i, w in enumerate(want)}


def _ref_backoff_lm(
    train_toks, score_toks, n=3, min_count=1, alpha=0.4, add_k=0.5
):
    """Sequential reference of train_backoff_lm/score_backoff_lm:
    count all orders directly from the corpus, prune each order
    independently, cascade highest-surviving-order relative
    frequency with alpha per backed-off order, add-k unigram base."""
    import math
    from collections import Counter

    counts = {k: Counter() for k in range(1, n + 1)}
    vocab, total = set(), 0
    for toks in train_toks:
        vocab.update(toks)
        total += len(toks)
        padded = ["<s>"] * (n - 1) + list(toks)
        for i in range(len(toks)):
            w = padded[i + n - 1]
            for k in range(1, n + 1):
                ctx = " ".join(padded[i + n - k : i + n - 1])
                counts[k][(ctx, w)] += 1
    pruned = {
        k: {kw: c for kw, c in counts[k].items() if c >= min_count}
        for k in counts
    }
    ctxs = {k: Counter() for k in counts}
    for k, tab in pruned.items():
        for (ctx, _w), c in tab.items():
            ctxs[k][ctx] += c
    v = len(vocab)
    out = []
    for toks in score_toks:
        padded = ["<s>"] * (n - 1) + list(toks)
        nanos = 0
        for i in range(len(toks)):
            w = padded[i + n - 1]
            lp = None
            for k in range(n, 1, -1):
                ctx = " ".join(padded[i + n - k : i + n - 1])
                if (ctx, w) in pruned[k]:
                    lp = math.log(
                        pruned[k][(ctx, w)] / ctxs[k][ctx]
                    ) + (n - k) * math.log(alpha)
                    break
            if lp is None:
                lp = math.log(
                    (pruned[1].get(("", w), 0) + add_k)
                    / (total + add_k * (v + 1))
                ) + (n - 1) * math.log(alpha)
            nanos += round(lp * 1e9)
        nt = len(toks)
        out.append((nt, round(nanos / 1e9 / nt, 6) if nt else None))
    return out


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.text(alphabet="xyz", min_size=1, max_size=3),
            min_size=0,
            max_size=8,
        ),
        min_size=1,
        max_size=10,
    ),
    n=st.integers(2, 3),
    min_count=st.integers(1, 2),
)
def test_backoff_lm_matches_reference_implementation(
    spark, docs, n, min_count
):
    """Distributed stupid-backoff train+score == a sequential
    reference that counts every order directly from the corpus —
    this also pins the marginalize-the-top-table derivation against
    direct counting, at both min_count=1 and with pruning."""
    from python_stream_processing_framework_spark.operators.lm import (
        score_backoff_lm,
        train_backoff_lm,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    train = df.filter(F.col("doc_id") % 2 == 0)
    orders, v, nn = train_backoff_lm(
        train, "doc_id", "text", n=n, min_count=min_count
    )

    def toks_of(t):
        t = t.strip().lower()
        return t.split() if t else []

    train_toks = [toks_of(t) for i, t in rows if i % 2 == 0]
    all_toks = [toks_of(t) for _, t in rows]
    assert v == len({w for ts in train_toks for w in ts})
    assert nn == sum(len(ts) for ts in train_toks)
    want = _ref_backoff_lm(train_toks, all_toks, n=n, min_count=min_count)
    got = {
        r["doc_id"]: (r["n_tokens"], r["avg_lp"])
        for r in score_backoff_lm(
            df, orders, v, nn, "doc_id", "text", n=n
        ).collect()
    }
    assert got == {i: w for i, w in enumerate(want)}


@settings(max_examples=6, deadline=None)
@given(
    n_rows=st.integers(5, 120),
    n_strata=st.integers(1, 4),
    seed=st.text(alphabet="abc", min_size=0, max_size=3),
    bucket_bits=st.integers(1, 10),
)
def test_domain_mixture_membership_matches_reference(
    spark, n_rows, n_strata, seed, bucket_bits
):
    """The two-phase distributed selection (bucket histogram + cutoff
    bucket rank) must keep EXACTLY the quota-smallest hash60(id#seed)
    rows per stratum — pinned against a direct reference across
    bucket widths (bucket_bits=1 maximizes cutoff-boundary traffic)."""
    import hashlib
    import math

    from python_stream_processing_framework_spark.operators.mixture import (
        domain_mixture,
        mixture_quotas,
    )

    strata = [f"s{i}" for i in range(n_strata)]
    weights = {s: 1.0 / n_strata for s in strata}
    rows = [(i, strata[(i * 7) % n_strata]) for i in range(n_rows)]
    df = spark.createDataFrame(rows, "doc_id int, lang string")

    def h60(i):
        return int(hashlib.md5(f"{i}#{seed}".encode()).hexdigest()[:15], 16)

    counts = {}
    for i, s in rows:
        counts[s] = counts.get(s, 0) + 1
    quotas = mixture_quotas(counts, weights)
    want = set()
    for s in strata:
        members = sorted(
            (h60(i), i) for i, ss in rows if ss == s
        )[: quotas[s]]
        want.update(i for _, i in members)

    got = {
        r["doc_id"]
        for r in domain_mixture(
            df, "lang", weights, "doc_id", seed=seed, bucket_bits=bucket_bits
        ).collect()
    }
    assert got == want


WORD = st.sampled_from(["alpha", "beta", "Gamma", "DELTA", "x"])
PARA = st.lists(WORD, min_size=0, max_size=4).map(" ".join)


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.lists(PARA, min_size=0, max_size=5).map("\n".join),
        min_size=1,
        max_size=8,
    ),
)
def test_paragraph_dedup_matches_sequential(spark, docs):
    """dedup_paragraphs (corpus scope, min_count=2) vs a direct
    sequential keep-first implementation."""
    from python_stream_processing_framework_spark.operators.paragraphs import (
        dedup_paragraphs,
    )

    rows = [(i, d) for i, d in enumerate(docs)]
    seen: set[str] = set()
    want = {}
    for i, d in rows:
        kept, n_paras, n_removed = [], 0, 0
        for seg in d.split("\n"):
            para = seg.strip()
            if para == "":
                continue
            n_paras += 1
            key = para.lower()
            if key in seen:
                n_removed += 1
            else:
                seen.add(key)
                kept.append(para)
        want[i] = ("\n".join(kept), n_paras, n_removed)
    # sequential first-seen == lowest (id, idx) because we walk ids
    # ascending and positions ascending — the operator's canonical rule
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_paras"], r["n_removed"])
        for r in dedup_paragraphs(df).collect()
    }
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.lists(WORD, min_size=0, max_size=12).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    width=st.sampled_from([1, 2, 16, 4096]),
)
def test_count_min_matches_sequential(spark, docs, width):
    """cm_build/cm_estimate vs a direct Counter + md5 replay: every
    estimate (including collision overcounts at tiny widths) equal."""
    import hashlib
    from collections import Counter

    from python_stream_processing_framework_spark.operators.sketch import (
        cm_build,
        cm_estimate,
    )

    depth = 3

    def bucket(i, t):
        return (
            int(hashlib.md5(f"cm{i}#{t}".encode()).hexdigest()[:7], 16) % width
        )

    exact = Counter()
    for d in docs:
        exact.update(d.strip().lower().split(" "))
    sk = Counter()
    for t, c in exact.items():
        for i in range(depth):
            sk[(i, bucket(i, t))] += c
    want = {
        t: min(sk[(i, bucket(i, t))] for i in range(depth)) for t in exact
    }

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id bigint, text string"
    )
    sketch = cm_build(df, "text", depth=depth, width=width)
    cands = spark.createDataFrame(
        [(t,) for t in exact], "token string"
    )
    got = {
        r["token"]: r["est"]
        for r in cm_estimate(
            cands, sketch, "token", depth=depth, width=width
        ).collect()
    }
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    words=st.lists(
        # mixed 1- and 2-byte UTF-8 (é = C3 A9) plus ASCII: byte-level
        # seeds differ from char-level wherever é appears
        st.text(alphabet="aé", min_size=1, max_size=5),
        min_size=1,
        max_size=12,
    ),
    n_merges=st.integers(1, 4),
)
def test_bpe_byte_level_matches_reference(spark, words, n_merges):
    """r14 byte-level BPE == the sequential reference run over
    GPT-2-mapped UTF-8 byte symbols: identical merge tables and
    per-doc piece counts on corpora where multi-byte characters make
    byte and char seeds genuinely diverge."""
    from python_stream_processing_framework_spark.operators.bpe import (
        _BYTE_CHARS,
        bpe_segment_counts,
        bpe_train,
    )

    def byte_syms(w: str) -> list[str]:
        return [_BYTE_CHARS[b] for b in w.encode("utf-8")]

    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id int, text string"
    )
    got = [
        (r["merge_idx"], r["left"], r["right"], r["pair_count"])
        for r in bpe_train(
            docs, "text", n_merges=n_merges, level="byte"
        ).collect()
    ]
    # the reference loop is seed-agnostic: feed it byte-symbol tuples
    from collections import Counter

    wf = Counter(words)
    vocab = {tuple(byte_syms(w)): c for w, c in wf.items()}
    want = []
    for i in range(n_merges):
        pc = Counter()
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += c
        if not pc:
            break
        (l, r), total = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((i, l, r, total))
        nv = {}
        for syms, c in vocab.items():
            out, j = [], 0
            while j < len(syms):
                if j + 1 < len(syms) and syms[j] == l and syms[j + 1] == r:
                    out.append(l + r)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + c
        vocab = nv
    assert got == want, (words, n_merges)

    pairs = [(l, r) for _, l, r, _ in want]
    got_seg = {
        r["doc_id"]: r["n_pieces"]
        for r in bpe_segment_counts(
            docs, "doc_id", "text", pairs, level="byte"
        ).collect()
    }
    for i, w in enumerate(words):
        syms = byte_syms(w)
        for l, r in pairs:
            out, j = [], 0
            while j < len(syms):
                if j + 1 < len(syms) and syms[j] == l and syms[j + 1] == r:
                    out.append(l + r)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            syms = out
        assert got_seg[i] == len(syms), (w, pairs)
