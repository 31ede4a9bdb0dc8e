"""Trained char-n-gram multiclass classifier (operators/charclf.py,
r14 verdict #2 — the fastText lang-id shape): exact parity with a
sequential Python reference (features, smoothing, nano quantization,
unseen fallback, priors, argmax tie-break), plus the capability
fixture — a crafted multilingual held-out set the trained classifier
must beat text.lang_id's stopword heuristics on."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from python_stream_processing_framework_spark.operators.charclf import (
    PRIOR_BUCKET,
    UNSEEN_BUCKET,
    _char_grams_expr,
    charclf_predict,
    charclf_train,
)
from tests.conftest import jobs_in

# ------------------------------------------------------ sequential ref


def _ref_grams(text: str, n: int) -> list[str]:
    out = []
    for w in text.strip().lower().split():
        p = f"<{w}>"
        if len(p) >= n:
            out.extend(p[i : i + n] for i in range(len(p) - n + 1))
    return out


def _bucket(g: str, n_buckets: int) -> int:
    return int(hashlib.md5(g.encode()).hexdigest()[:7], 16) % n_buckets


def _ref_train(docs, n, n_buckets, add_k=0.5):
    """docs: [(id, text, label)] -> {(label, bucket): w_nano} with the
    module's sentinel buckets; mirrors charclf_train exactly."""
    counts: dict[str, Counter] = {}
    nd: Counter = Counter()
    for _i, text, label in docs:
        nd[label] += 1
        counts.setdefault(label, Counter()).update(
            _bucket(g, n_buckets) for g in _ref_grams(text, n)
        )
    observed = sorted({b for c in counts.values() for b in c})
    n_docs = sum(nd.values())
    model = {}
    for label in nd:
        t = sum(counts.get(label, Counter()).values())
        denom = t + add_k * n_buckets
        for b in observed:
            c = counts.get(label, Counter()).get(b, 0)
            model[(label, b)] = round(math.log((c + add_k) / denom) * 1e9)
        model[(label, UNSEEN_BUCKET)] = round(math.log(add_k / denom) * 1e9)
        model[(label, PRIOR_BUCKET)] = round(
            math.log(nd[label] / n_docs) * 1e9
        )
    return model, set(observed), sorted(nd)


def _ref_predict(docs, model, observed, labels, n, n_buckets):
    out = {}
    for i, text in docs:
        feats = Counter(_bucket(g, n_buckets) for g in _ref_grams(text, n))
        best = None
        for label in labels:
            s = model[(label, PRIOR_BUCKET)]
            for b, cnt in feats.items():
                w = (
                    model[(label, b)]
                    if b in observed
                    else model[(label, UNSEEN_BUCKET)]
                )
                s += cnt * w
            key = (-s, label)
            if best is None or key < best:
                best = key
        out[i] = (best[1], -best[0])
    return out


# ------------------------------------------------------------- fixtures

TRAIN = [
    (0, "the cat sat on the mat", "en"),
    (1, "a dog runs in the park", "en"),
    (2, "le chat dort sur le lit", "fr"),
    (3, "un chien court dans le jardin", "fr"),
    (4, "el gato duerme en la cama", "es"),
    (5, "un perro corre por el parque", "es"),
]


def test_train_matches_sequential_reference(spark):
    df = spark.createDataFrame(TRAIN, "doc_id bigint, text string, lang string")
    got = {
        (r["label"], r["bucket"]): r["w_nano"]
        for r in charclf_train(
            df, "doc_id", "text", "lang", n=3, n_buckets=64
        ).collect()
    }
    want, _, _ = _ref_train(TRAIN, 3, 64)
    assert got == want


def test_predict_matches_sequential_reference(spark):
    df = spark.createDataFrame(TRAIN, "doc_id bigint, text string, lang string")
    model = charclf_train(df, "doc_id", "text", "lang", n=3, n_buckets=64)
    test = [
        (10, "the cats sleep"),
        (11, "le chats"),
        (12, "el perro"),
        (13, ""),  # zero-gram doc: priors alone
        (14, "zzzz qqqq"),  # likely-unseen buckets
    ]
    tdf = spark.createDataFrame(test, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["pred"], r["score_nano"])
        for r in charclf_predict(
            tdf, model, "doc_id", "text", n=3, n_buckets=64
        ).collect()
    }
    ref_model, observed, labels = _ref_train(TRAIN, 3, 64)
    want = _ref_predict(test, ref_model, observed, labels, 3, 64)
    assert got == want


@settings(max_examples=25, deadline=None)
@given(
    st.lists(  # documents: words over a tiny alphabet, 3 labels
        st.tuples(
            st.lists(
                st.text(alphabet="abcdef", min_size=1, max_size=5),
                min_size=0,
                max_size=6,
            ),
            st.sampled_from(["x", "y", "z"]),
        ),
        min_size=1,
        max_size=10,
    ),
    st.sampled_from([2, 3, 4]),
)
@pytest.mark.slow
def test_hypothesis_parity_with_sequential_reference(spark, corpus, n):
    """Random tiny corpora with forced bucket collisions (16
    buckets): the distributed train + predict equals the sequential
    reference bit-for-bit — weights, priors, unseen fallback, argmax
    tie-break."""
    docs = [
        (i, " ".join(words), label) for i, (words, label) in enumerate(corpus)
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string, lang string")
    model = charclf_train(df, "doc_id", "text", "lang", n=n, n_buckets=16)
    got_m = {
        (r["label"], r["bucket"]): r["w_nano"] for r in model.collect()
    }
    want_m, observed, labels = _ref_train(docs, n, 16)
    assert got_m == want_m
    tdf = df.select("doc_id", "text")
    got_p = {
        r["doc_id"]: (r["pred"], r["score_nano"])
        for r in charclf_predict(
            tdf, model, "doc_id", "text", n=n, n_buckets=16
        ).collect()
    }
    want_p = _ref_predict(
        [(i, t) for i, t, _l in docs], want_m, observed, labels, n, 16
    )
    assert got_p == want_p


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_null_label_refused(spark):
    df = spark.createDataFrame(
        [(0, "hello", "en"), (1, "bonjour", None)],
        "doc_id bigint, text string, lang string",
    )
    before = _n_persistent(spark)

    def train():
        with pytest.raises(ValueError, match="NULL labels"):
            charclf_train(df, "doc_id", "text", "lang")

    # the refusal is the doc-count aggregate alone: the corpus explode
    # and its materialize never run
    assert jobs_in(spark, train) == 4
    assert _n_persistent(spark) == before  # refusal leaves no cache behind


def test_empty_training_frame_refused(spark):
    df = spark.createDataFrame([], "doc_id bigint, text string, lang string")
    before = _n_persistent(spark)
    with pytest.raises(ValueError, match="empty training frame"):
        charclf_train(df, "doc_id", "text", "lang")
    assert _n_persistent(spark) == before  # refusal leaves no cache behind


def test_short_tokens_emit_no_grams(spark):
    """Tokens shorter than n-2 chars carry no n-gram (the padded
    token is shorter than n); a doc of only such tokens is a
    zero-gram doc."""
    df = spark.createDataFrame([(0, "ab a b")], "doc_id bigint, text string")
    rows = df.select(_char_grams_expr("text", 5).alias("g")).collect()
    # only 'ab' pads to '<ab>' (4 chars) < 5 -> nothing at all
    assert rows[0]["g"] == []


# --------------------------------------------- the capability fixture

#: crafted multilingual corpus: six languages, everyday sentences.
#: pt/it are OUTSIDE lang_id's marker set (it must guess among its
#: five), and several held-out fr/es sentences avoid the marker
#: stopwords — exactly the regime where trained char-n-gram profiles
#: beat a four-stopword heuristic.
MULTI_TRAIN = [
    ("the weather is nice today and the sun shines", "en"),
    ("she walked to the market and bought fresh bread", "en"),
    ("this house has three rooms and a small garden", "en"),
    ("children play outside when school is finished", "en"),
    ("we should think about what happens next year", "en"),
    ("people from many countries enjoy listening to music together", "en"),
    ("el tiempo es muy bueno hoy y brilla el sol", "es"),
    ("ella caminaba al mercado y compraba pan fresco", "es"),
    ("esta casa tiene tres habitaciones y un jardin pequeno", "es"),
    ("los ninos juegan afuera cuando termina la escuela", "es"),
    ("debemos pensar en lo que pasara el proximo ano", "es"),
    ("muchas personas de paises distintos escuchan musica juntas", "es"),
    ("das wetter ist heute sehr schoen und die sonne scheint", "de"),
    ("sie ging zum markt und kaufte frisches brot", "de"),
    ("dieses haus hat drei zimmer und einen kleinen garten", "de"),
    ("die kinder spielen draussen wenn die schule vorbei ist", "de"),
    ("wir sollten darueber nachdenken was naechstes jahr passiert", "de"),
    ("viele menschen aus verschiedenen laendern hoeren zusammen musik", "de"),
    ("le temps est tres beau aujourd'hui et le soleil brille", "fr"),
    ("elle marchait au marche et achetait du pain frais", "fr"),
    ("cette maison a trois chambres et un petit jardin", "fr"),
    ("les enfants jouent dehors quand l'ecole est finie", "fr"),
    ("nous devrions penser a ce qui se passera l'annee prochaine", "fr"),
    ("beaucoup de gens de pays differents ecoutent de la musique ensemble", "fr"),
    ("o tempo esta muito bom hoje e o sol brilha", "pt"),
    ("ela caminhava ao mercado e comprava pao fresco", "pt"),
    ("esta casa tem tres quartos e um jardim pequeno", "pt"),
    ("as criancas brincam la fora quando a escola termina", "pt"),
    ("devemos pensar no que acontecera no proximo ano", "pt"),
    ("muitas pessoas de paises diferentes escutam musica juntas", "pt"),
    ("il tempo e molto bello oggi e il sole splende", "it"),
    ("lei camminava al mercato e comprava pane fresco", "it"),
    ("questa casa ha tre stanze e un piccolo giardino", "it"),
    ("i bambini giocano fuori quando la scuola finisce", "it"),
    ("dobbiamo pensare a cosa succedera il prossimo anno", "it"),
    ("molte persone di paesi diversi ascoltano musica insieme", "it"),
]

MULTI_HELDOUT = [
    ("yesterday we visited an old castle near town", "en"),
    ("music brings people together across many borders", "en"),
    ("ayer visitamos un castillo antiguo cerca del pueblo", "es"),
    ("musica une personas de muchos paises distintos", "es"),
    ("gestern besuchten wir eine alte burg nahe stadt", "de"),
    ("musik bringt menschen aus vielen laendern zusammen", "de"),
    ("hier nous avons visite un vieux chateau pres du village", "fr"),
    ("musique rassemble gens de nombreux pays differents", "fr"),
    ("ontem visitamos um castelo antigo perto da cidade", "pt"),
    ("musica une pessoas de muitos paises diferentes", "pt"),
    ("ieri abbiamo visitato un vecchio castello vicino alla citta", "it"),
    ("musica unisce persone di tanti paesi diversi", "it"),
]


def test_trained_classifier_beats_lang_id_heuristics(spark):
    """The r14 verdict's acceptance: on a held-out multilingual set,
    the TRAINED char-n-gram classifier scores strictly higher
    accuracy than the stopword-marker heuristic (which cannot even
    name pt/it, and whose fr/es markers are absent from several
    held-out sentences)."""
    from python_stream_processing_framework_spark.operators.text import lang_id

    train = spark.createDataFrame(
        [(i, t, l) for i, (t, l) in enumerate(MULTI_TRAIN)],
        "doc_id bigint, text string, lang string",
    )
    held = spark.createDataFrame(
        [(i, t) for i, (t, _l) in enumerate(MULTI_HELDOUT)],
        "doc_id bigint, text string",
    )
    truth = {i: l for i, (_t, l) in enumerate(MULTI_HELDOUT)}

    model = charclf_train(train, "doc_id", "text", "lang")
    ours = {
        r["doc_id"]: r["pred"]
        for r in charclf_predict(held, model, "doc_id", "text").collect()
    }
    heur = {
        r["doc_id"]: r["pred_lang"]
        for r in lang_id(held, "doc_id", "text").collect()
    }
    n = len(truth)
    acc_ours = sum(ours[i] == truth[i] for i in truth) / n
    acc_heur = sum(heur[i] == truth[i] for i in truth) / n
    assert acc_ours > acc_heur
    assert acc_ours >= 0.9, (acc_ours, ours, truth)


def test_predict_margin_is_winner_lead(spark):
    """margin_nano = winner score minus runner-up score, exact
    integers; 0 on a tie; single-class models refuse the option."""
    df = spark.createDataFrame(TRAIN, "doc_id bigint, text string, lang string")
    model = charclf_train(df, "doc_id", "text", "lang", n=3, n_buckets=64)
    test = [(10, "the cats sleep"), (13, "")]
    tdf = spark.createDataFrame(test, "doc_id bigint, text string")
    got = {
        r["doc_id"]: r
        for r in charclf_predict(
            tdf, model, "doc_id", "text", n=3, n_buckets=64, margin=True
        ).collect()
    }
    ref_model, observed, labels = _ref_train(TRAIN, 3, 64)
    for i, text in test:
        feats = Counter(
            _bucket(g, 64) for g in _ref_grams(text, 3)
        )
        scores = sorted(
            (
                sum(
                    cnt
                    * (
                        ref_model[(label, b)]
                        if b in observed
                        else ref_model[(label, UNSEEN_BUCKET)]
                    )
                    for b, cnt in feats.items()
                )
                + ref_model[(label, PRIOR_BUCKET)]
                for label in labels
            ),
            reverse=True,
        )
        assert got[i]["score_nano"] == scores[0]
        assert got[i]["margin_nano"] == scores[0] - scores[1]
    single = spark.createDataFrame(
        [(0, "hello", "en")], "doc_id bigint, text string, lang string"
    )
    m1 = charclf_train(single, "doc_id", "text", "lang", n=3, n_buckets=64)
    with pytest.raises(ValueError, match=">= 2 classes"):
        charclf_predict(
            spark.createDataFrame([(1, "x y z")], "doc_id bigint, text string"),
            m1,
            "doc_id",
            "text",
            n=3,
            n_buckets=64,
            margin=True,
        )
