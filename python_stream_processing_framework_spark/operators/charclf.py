"""Trained multiclass char-n-gram text classifier — the fastText
lang-id shape (Joulin et al. 2016; Bojanowski et al. 2017) over
hashed character n-gram features, served as one broadcast join.

Production curation does not lang-ID with stopword heuristics
(operators/text.lang_id is that battery): it runs a TRAINED linear
classifier over hashed char-n-gram bags — the published fastText
lang-id / DCLM-quality-filter shape. This module is that classifier
built from this repo's existing parts (r14 verdict #2): the
dsir-style md5 bucket hash (functions/hashing.hash28_mod — engine
portable, so DuckDB replays training bit-exactly) feeding multinomial
naive-Bayes count tables (the classifier.py discipline, generalized
from binary Bernoulli to multiclass multinomial), with every weight
nano-quantized the dsir way: ``round(1e9 * ln(...))`` as BIGINT, so
scores are exact integer dot products and argmax is
partition-order-invariant in every engine.

NB-with-log-weights IS a linear classifier (score_c(x) = w_c . x +
b_c); it trains in ONE corpus pass instead of fastText's SGD epochs —
at 100 TB that's the difference between a single
explode -> groupBy(label, bucket) shuffle bounded by
``n_buckets x |labels|`` and a multi-epoch parameter server. A
GD-trained softmax head slots into the same feature rows via
operators/probe.py if margins ever matter more than one-pass cost.

Feature contract (train and predict MUST agree on ``n`` and
``n_buckets`` — the model table has no way to carry them, callers
pin them the way dsir pins its bucket count):

- tokens: lowercase whitespace-RUN tokens (retrieval.tokenize_expr —
  ``str.split()`` semantics, blank text yields zero tokens);
- each token is padded ``<w>`` (the fastText boundary markers) and
  every char n-gram of the padded token is emitted (tokens shorter
  than ``n - 2`` chars emit nothing);
- gram -> bucket via the md5-prefix hash mod ``n_buckets``.

Model table (single DataFrame — persistable, broadcastable,
oracle-readable): ``(label, bucket, w_nano)`` where

- ``bucket >= 0``: dense smoothed multinomial log-likelihood
  ``round(1e9 * ln((c_lb + a) / (T_l + a * n_buckets)))`` for every
  (observed bucket) x (label) pair — dense so serving needs no
  per-label fallback juggling on buckets another class saw;
- ``bucket = -1``: the label's UNSEEN-bucket weight (c = 0) — what a
  gram hashing outside the training-observed bucket set scores;
- ``bucket = -2``: the label's log-prior
  ``round(1e9 * ln(n_docs_l / n_docs))``.

Scale shape: training is one corpus explode into a
(label, bucket)-keyed partial-aggregated groupBy (output bounded by
``|labels| * n_buckets``, never corpus mass) plus one narrow
doc-count pass; serving pivots the model WIDE (bucket, one weight
column per label — bounded), broadcast-joins the gram stream against
it, and pays ONE corpus-scale shuffle: the id-keyed per-label sum
with map-side partials. Priors/unseen are driver literals (bounded
model metadata) and the argmax is a map-only struct-min expression —
nothing label-keyed ever shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from python_stream_processing_framework_spark.functions.hashing import hash28_mod
from python_stream_processing_framework_spark.operators.common import maybe_broadcast
from python_stream_processing_framework_spark.operators.retrieval import (
    tokenize_expr,
)

#: log-weights quantize to nano-units (the dsir/lm discipline).
_NANO = 1_000_000_000

#: sentinel buckets in the model table (see module docstring).
UNSEEN_BUCKET = -1
PRIOR_BUCKET = -2


def _char_grams_expr(text_col: str, n: int) -> Column:
    """All char n-grams of every ``<``/``>``-padded token — one
    nested transform, JVM-side. ``sequence(1, k)`` counts DOWN when
    k < 1 (the empty-word trap), so tokens too short to carry a gram
    are filtered out first."""
    toks = tokenize_expr(F.col(text_col))
    long_enough = F.filter(toks, lambda w: F.length(w) + 3 - n >= 1)
    return F.flatten(
        F.transform(
            long_enough,
            lambda w: F.transform(
                F.sequence(F.lit(1), F.length(w) + 3 - n),
                lambda i: F.concat(F.lit("<"), w, F.lit(">")).substr(
                    i, F.lit(n)
                ),
            ),
        )
    )


def charclf_train(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    *,
    n: int = 3,
    n_buckets: int = 4_096,
    add_k: float = 0.5,
) -> DataFrame:
    """Train the multiclass model; returns the (label, bucket,
    w_nano) table described in the module docstring —
    ``|labels| * (|observed buckets| + 2)`` rows, bounded by
    vocabulary, never corpus size. Rows with a NULL label are
    refused (a silently dropped training doc moves every prior)."""
    labeled = df.select(
        F.col(label_col).cast("string").alias("label"),
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_text"),
    )
    from python_stream_processing_framework_spark.operators.common import (
        materialize,
        persist_lazy,
    )

    # per-label doc counts: a bounded aggregate. The label set comes
    # from DOC counts, not gram counts — a label all of whose docs
    # are zero-gram still owns unseen + prior rows (t = 0, pure
    # smoothing). Persisted (|labels| rows): consumed by totals,
    # prior, AND the corpus-size scalar below — one label-column scan
    # instead of three. LAZY: the n_docs aggregate below is the
    # populating action; materialize's eager count was a duplicate job.
    doc_counts = persist_lazy(
        labeled.groupBy("label").agg(
            F.count(F.lit(1)).cast("bigint").alias("nd")
        )
    )
    # the NULL-label refusal rides the SAME one-row aggregate as the
    # corpus-size scalar (a separate filter(isNull).limit(1).count()
    # probe would be a full extra corpus scan whenever no null exists —
    # the common case), and runs BEFORE the corpus explode below, so
    # bad input fails before any corpus-scale work. doc_counts groups
    # NULL labels like any other value, so their doc mass is visible
    # here; on the happy path doc_counts carries no NULL row and the
    # downstream consumers are unchanged.
    stats = doc_counts.agg(
        F.sum("nd").alias("n"),
        F.sum(F.when(F.col("label").isNull(), F.col("nd"))).alias("n_null"),
    ).head()
    n_docs = stats["n"] or 0
    if stats["n_null"] or n_docs == 0:
        # refused input releases the cache this call filled
        doc_counts.unpersist()
        raise ValueError(
            "charclf_train: NULL labels in the training frame — "
            "filter or impute upstream (a dropped doc moves every "
            "class prior)"
            if stats["n_null"]
            else "charclf_train: empty training frame"
        )
    # multinomial counts: one explode -> (label, bucket) groupBy,
    # partial-aggregated map-side; output <= |labels| * n_buckets.
    # MATERIALIZED (bounded rows, never corpus mass): the model frame
    # fans out into totals/observed/dense here and again into the
    # meta collect + wide pivot + broadcast probe in charclf_predict —
    # unpersisted, each consumer re-ran the corpus explode (measured
    # 3x the training scan in the charclf_predict build).
    counts = materialize(
        labeled.select(
            "label", F.explode(_char_grams_expr("_text", n)).alias("_g")
        )
        .select("label", hash28_mod(F.col("_g"), n_buckets).alias("bucket"))
        .groupBy("label", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    totals = (
        doc_counts.select("label")
        .join(counts.groupBy("label").agg(F.sum("c").alias("t")), "label", "left")
        .select("label", F.coalesce(F.col("t"), F.lit(0)).alias("t"))
    )
    # dense (observed bucket) x (label) grid: a bucket one class saw
    # must carry every OTHER class's smoothed zero-count weight too,
    # or serving would need per-label unseen fallbacks bucket-wise
    observed = counts.select("bucket").distinct()
    grid = observed.crossJoin(
        maybe_broadcast(totals)
    )  # |observed| x |labels| rows, both factors bounded
    denom = F.col("t").cast("double") + F.lit(add_k * n_buckets)
    dense = (
        grid.join(counts, ["label", "bucket"], "left")
        .select(
            "label",
            "bucket",
            F.round(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)).cast("double") + F.lit(add_k))
                    / denom
                )
                * F.lit(1e9)
            )
            .cast("bigint")
            .alias("w_nano"),
        )
    )
    unseen = totals.select(
        "label",
        F.lit(UNSEEN_BUCKET).cast("bigint").alias("bucket"),
        F.round(F.log(F.lit(add_k) / denom) * F.lit(1e9))
        .cast("bigint")
        .alias("w_nano"),
    )
    prior = doc_counts.select(
        "label",
        F.lit(PRIOR_BUCKET).cast("bigint").alias("bucket"),
        F.round(
            F.log(F.col("nd").cast("double") / F.lit(float(n_docs)))
            * F.lit(1e9)
        )
        .cast("bigint")
        .alias("w_nano"),
    )
    return dense.unionByName(unseen).unionByName(prior)


def charclf_predict(
    df: DataFrame,
    model: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    n_buckets: int = 4_096,
    margin: bool = False,
) -> DataFrame:
    """Score every document against a trained model and pick the
    argmax class. Output: (id, pred, score_nano) — ``score_nano`` is
    the winning class's exact integer log-score
    ``prior + sum_grams cnt * w`` (grams in training-unobserved
    buckets take the label's unseen weight). Ties break to the
    lexicographically smallest label; every input doc yields exactly
    one row (a zero-gram doc scores on priors alone). ``n`` /
    ``n_buckets`` MUST equal the training values.

    ``margin=True`` appends ``margin_nano`` — the winner's lead over
    the runner-up class (0 on an exact tie) — the confidence signal a
    curation gate thresholds on (the DCLM keep-if-confident pattern:
    route low-margin docs to review instead of trusting the argmax).
    Still map-only (an array_sort of the |labels|-entry struct array);
    requires >= 2 classes."""
    # the label set + per-label unseen/prior are bounded model
    # metadata — collect them ONCE to driver literals (the probe's
    # classes-on-the-driver discipline), which buys the one-shuffle
    # serving shape below
    meta_rows = model.filter(F.col("bucket") < 0).collect()
    unseen: dict[str, int] = {}
    prior: dict[str, int] = {}
    for r in meta_rows:
        if r["bucket"] == UNSEEN_BUCKET:
            unseen[r["label"]] = int(r["w_nano"])
        elif r["bucket"] == PRIOR_BUCKET:
            prior[r["label"]] = int(r["w_nano"])
    labels = sorted(unseen)
    if not labels or sorted(prior) != labels:
        raise ValueError(
            "charclf_predict: model table is missing its sentinel "
            "rows (bucket -1/-2 per label) — not a charclf_train output?"
        )
    # raw gram rows, not an (id, bucket) pre-aggregate: that would
    # spend a corpus shuffle the per-id groupBy below already
    # pays for (its map-side partials absorb repeated grams).
    # explode_OUTER (r16, guide §2.4): a zero-gram doc keeps one
    # NULL-bucket row, so the per-id aggregate below covers EVERY doc
    # and the old restore join (df.select(id) left-joined back onto
    # the sums — a second corpus-scale exchange) disappears. A NULL
    # bucket matches nothing in the model join and contributes 0 to
    # every label sum, so zero-gram docs score on priors alone,
    # exactly as before.
    feats = df.select(
        F.col(id_col),
        F.explode_outer(_char_grams_expr(text_col, n)).alias("_g"),
    ).select(id_col, hash28_mod(F.col("_g"), n_buckets).alias("bucket"))
    # pivot the dense table WIDE (bucket, w_0..w_L-1): still bounded
    # by |observed buckets|, and now ONE broadcast join serves every
    # label at once
    wide = (
        model.filter(F.col("bucket") >= 0)
        .groupBy("bucket")
        .agg(
            *[
                F.max(
                    F.when(F.col("label") == F.lit(l), F.col("w_nano"))
                ).alias(f"_w{i}")
                for i, l in enumerate(labels)
            ]
        )
    )
    # ONE corpus-scale shuffle: per-id per-label partial sums, the
    # unseen fallback riding a per-label coalesce (an unobserved
    # bucket nulls every _wi) — map-side combined, reduce rows = docs
    sums = (
        # known_count: the pivot is keyed by observed bucket, so its
        # row count is bounded by n_buckets a priori — skipping the
        # probe's persist + bounded-count job (r15 optimization)
        feats.join(
            maybe_broadcast(wide, known_count=int(n_buckets)), "bucket", "left"
        )
        .groupBy(id_col)
        .agg(
            *[
                F.sum(
                    # NULL bucket = the zero-gram doc's explode_outer
                    # row: contributes 0, never the unseen weight
                    F.when(F.col("bucket").isNull(), F.lit(0)).otherwise(
                        F.coalesce(F.col(f"_w{i}"), F.lit(unseen[l]))
                    )
                ).alias(f"_s{i}")
                for i, l in enumerate(labels)
            ]
        )
    )
    # MAP-ONLY argmax over the per-id sums (which explode_outer made
    # total — every input doc has a row): array_min over
    # (-score, label) structs of literal-prior sums — ties to the
    # smallest label, partition-order invariant
    if margin and len(labels) < 2:
        raise ValueError("charclf_predict: margin requires >= 2 classes")
    scored = sums
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(
                    (
                        -(
                            F.lit(prior[l])
                            + F.coalesce(F.col(f"_s{i}"), F.lit(0))
                        )
                    ).alias("_neg"),
                    F.lit(l).alias("_l"),
                )
                for i, l in enumerate(labels)
            ]
        )
    )
    best = ranked[0]
    cols = [
        F.col(id_col),
        best["_l"].alias("pred"),
        (-best["_neg"]).cast("bigint").alias("score_nano"),
    ]
    if margin:
        cols.append(
            (ranked[1]["_neg"] - best["_neg"]).cast("bigint").alias(
                "margin_nano"
            )
        )
    return scored.select(*cols)
