"""Linear-probe classifier over embedding columns — distributed
full-batch gradient descent in exact integer arithmetic.

The data-curation "linear probe" pattern: train a one-vs-rest
least-squares linear head on a frozen `array<float>` embedding
column (quality raters, domain filters, topic gates over a corpus's
embedding table), then serve it as a map-side scoring expression.
The reference ships no trained classifiers; this extends the
engine's LLM-data-pipeline family alongside
operators/classifier.py's one-pass token-weight scorer (that one
learns independent per-token posteriors; this one fits a joint
linear head on dense features by gradient descent).

Scale shape, per GD round: ONE corpus scan — the residuals are
map-side expressions against weight LITERALS (the model is
classes x dim nano-ints, bounded driver metadata, the same
centroids-on-the-driver discipline as semdedup/pq's Lloyd rounds) —
followed by ONE dim-keyed shuffle whose reduce side is `dim` rows,
partial-aggregated map-side. The corpus never shuffles, the model
never rides a row, and prediction is a pure map (argmax of
class-many dot products). At 1e9 documents a round costs exactly
one scan — the same class as any quality pass.

Arithmetic contract (shared bit-for-bit with the DuckDB oracles,
the lm.py / unigram.py quantization discipline):

- features quantize ONCE: ``xq_j = round(x_j * 1e6)`` (double ->
  BIGINT, round half away from zero in both engines);
- weights live in nano-units (true weight * 1e9), labels one-hot in
  nano-units;
- per-doc class score ``z_nano = tdiv(sum_j w_j * xq_j, 1e6)`` with
  the dot summed exactly in decimal(38,0) (HUGEINT oracle-side);
- residual ``r = z_nano - y_nano``; gradient
  ``g_cj = sum_docs r * xq_j`` (exact, so partition-order
  invariant);
- update ``w -= tdiv(lr_ppb * tdiv(g, n), 1e15)``.

Every division is integer TRUNCATION toward zero — Spark's `div` /
DuckDB's integer-`//` / :func:`tdiv` below — never Python's
flooring `//`, so both engines agree on negative gradients.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: fixed-point scales (see module docstring)
_MICRO = 1_000_000
_NANO = 1_000_000_000
_FEMTO = _MICRO * _NANO

WEIGHTS_SCHEMA = "label bigint, dim int, w_nano bigint"


def tdiv(a: int, b: int) -> int:
    """Integer division truncating toward zero (SQL `div` semantics;
    Python's // floors, which disagrees on negatives)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def quantize_features(df: DataFrame, vec_col: str) -> DataFrame:
    """xq_j = round(x_j * 1e6) as array<long> in `_xq` — the one
    float->integer boundary; everything downstream is exact."""
    return df.withColumn(
        "_xq",
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * F.lit(float(_MICRO))).cast(
                "long"
            ),
        ),
    )


def _dot_nano_all(weights: dict[int, list[int]], classes: list[int]):
    """array<long> of z_nano for EVERY class from ONE 2-D weight
    literal. Element i is the exact decimal dot of `_xq` with
    ``weights[classes[i]]`` (zip_with multiply, decimal(38,0) fold),
    trunc-divided by 1e6 through the ``(a - a % d) / d`` identity:
    Spark's % follows the dividend's sign, so the subtraction lands
    exactly on a multiple of d and the final / is exact, where
    floor-based idioms would disagree with the oracle's HUGEINT `//`
    on negative dots. The plan carries a single
    transform-over-matrix tree instead of |classes| independent
    dot trees. Catalyst analysis + codegen of the per-class form
    scaled linearly with the class count and dominated small-corpus
    round wall (measured 2.1 s -> 1.3 s per 10-class x 64-dim
    gradient round on fusing; r15 optimization pass)."""
    wmat = F.lit([[int(w) for w in weights[c]] for c in classes]).cast(
        "array<array<decimal(18,0)>>"
    )
    d = F.lit(_MICRO).cast("decimal(38,0)")

    def one(w_arr):
        dot = F.aggregate(
            F.zip_with(
                F.col("_xq"), w_arr, lambda x, w: x.cast("decimal(18,0)") * w
            ),
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, v: acc + v.cast("decimal(38,0)"),
        )
        return ((dot - dot % d) / d).cast("long")

    return F.transform(wmat, one)


def _resid_arr_long_sql(
    weights: dict[int, list[int]], classes: list[int]
) -> str:
    """SQL text of the residual array computed entirely in BIGINT —
    usable ONLY when the caller has PROVED no intermediate can
    overflow (see the gate in :func:`linear_probe_train`). Bit-exact
    with the decimal path when in range: the zip_with multiply, the
    left-fold sum, and ``div`` (Spark's integral division truncates
    toward zero, exactly the ``(a - a % d) / d`` decimal identity)
    are the same operations on the same operand order. A SQL string
    because the Column API's ``/`` on longs is DOUBLE division —
    ``div`` has no Column builder — and the weight matrix inlines as
    one literal either way."""
    wmat = (
        "array("
        + ",".join(
            "array(" + ",".join(f"{int(w)}L" for w in weights[c]) + ")"
            for c in classes
        )
        + ")"
    )
    cls = "array(" + ",".join(f"{int(c)}L" for c in classes) + ")"
    return (
        f"zip_with(transform({wmat}, wa -> aggregate(zip_with(_xq, wa,"
        f" (x, w) -> x * w), 0L, (a, v) -> a + v) div {_MICRO}L), {cls},"
        f" (z, c) -> z - if(_y = c, {_NANO}L, 0L))"
    )


def linear_probe_train(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    *,
    rounds: int = 2,
    lr_ppb: int = 500_000_000,
    classes: list[int] | None = None,
    sample_ppb: int | None = None,
    sample_key: str | None = None,
) -> DataFrame:
    """Train a one-vs-rest linear probe by full-batch GD; returns the
    weight table (label, dim, w_nano), `classes * dim` rows.

    ``classes`` defaults to the distinct label values (collected
    once — a probe's class set is bounded vocabulary, not data).
    ``lr_ppb`` is the learning rate in parts-per-billion
    (500_000_000 = 0.5). Deterministic and partition-order invariant
    by construction: every sum is exact integer arithmetic, every
    division truncates — two runs (or any repartitioning) produce
    identical weights, and the DuckDB oracle replays each round as
    one CTE pair (gradient, update).

    ``sample_ppb`` is the scale knob for when full-batch rounds
    dominate: each round trains on the deterministic hash sample
    ``pmod(xxhash64(sample_key, round), 1e9) < sample_ppb`` — a
    DIFFERENT slice every round (the round index salts the hash),
    still exactly reproducible, with the gradient mean taken over
    the round's actual sampled count (measured in the same gradient
    aggregate — no extra scan). ``sample_ppb=1_000_000_000`` is
    bit-identical to full batch; a round whose sample is empty
    leaves the weights unchanged. Requires ``sample_key`` (a stable
    unique row key, e.g. vec_id) — sampling must not depend on
    partitioning.
    """
    if sample_ppb is not None and sample_key is None:
        raise ValueError("sample_ppb requires sample_key (a stable row key)")
    spark = df.sparkSession
    key_cols = [F.col(sample_key).alias("_k")] if sample_ppb is not None else []
    q = quantize_features(df, vec_col).select(
        F.col(label_col).cast("long").alias("_y"), "_xq", *key_cols
    )
    # one metadata scan for corpus size + class set + dimension
    # (bounded: a probe's classes are vocabulary, not data)
    meta = q.agg(
        F.count(F.lit(1)).alias("n"),
        F.sort_array(F.collect_set("_y")).alias("cls"),
        # coalesce BOTH bounds: under ANSI size(NULL) is NULL, which
        # min/max would silently skip — a null embedding must surface
        # as -1 on each side (an all-null column would otherwise make
        # dim None and the int() below a TypeError, r14 ADVICE)
        F.max(F.coalesce(F.size("_xq"), F.lit(-1))).alias("dim"),
        F.min(F.coalesce(F.size("_xq"), F.lit(-1))).alias("dim_min"),
        # element-null probe, riding the SAME aggregate (no extra
        # scan): a correct-LENGTH vector with a null element passes
        # the size check yet null-skips out of the gradient sums
        # while _n still counts it — diluting the mean (r14 ADVICE)
        F.min(
            F.coalesce(
                F.forall("_xq", lambda e: e.isNotNull()).cast("int"),
                F.lit(0),
            )
        ).alias("elems_ok"),
        # corpus-wide |feature| ceiling, riding the SAME scan: with
        # driver-known weights it proves per-round that every dot
        # partial sum and residual product fits in BIGINT, unlocking
        # the long arithmetic path below (r15 optimization pass —
        # guide §2.3 "narrower types", only when provably safe)
        F.max(
            F.coalesce(
                F.array_max(F.transform("_xq", F.abs)), F.lit(-1)
            )
        ).alias("xmax"),
    ).head()
    n = meta["n"]
    if n == 0:
        raise ValueError("linear_probe_train: empty input")
    # Ragged or null vectors break the determinism contract: a short
    # vector posexplodes fewer rows so per-dim _n differs (the
    # gradient divisor would become plan-order dependent) while its
    # zip_with dot nulls out yet still dilutes the mean — and a null
    # embedding (size = -1) or a null ELEMENT contributes nothing at
    # all while _n still counts the row. Refuse loudly; serving-side
    # null handling is Stream.classify's zero-vector fallback, not
    # the trainer's job (r13 + r14 ADVICE).
    if int(meta["dim_min"]) != int(meta["dim"]) or int(meta["dim"]) <= 0:
        raise ValueError(
            "linear_probe_train: ragged or null embeddings "
            f"(size range [{meta['dim_min']}, {meta['dim']}]); "
            "training requires one fixed dimension — filter or pad "
            "upstream"
        )
    if int(meta["elems_ok"]) == 0:
        raise ValueError(
            "linear_probe_train: embeddings contain null ELEMENTS; "
            "a null element null-skips out of the gradient sums while "
            "the row still counts toward the mean — filter or impute "
            "upstream"
        )
    if classes is None:
        classes = meta["cls"]
    classes = [int(c) for c in classes]
    dim = int(meta["dim"])
    xmax = max(0, int(meta["xmax"]))
    weights = {c: [0] * dim for c in classes}
    for rnd in range(rounds):
        src = q
        if sample_ppb is not None:
            src = q.filter(
                F.pmod(
                    F.xxhash64(F.col("_k"), F.lit(int(rnd))), F.lit(_NANO)
                )
                < F.lit(int(sample_ppb))
            )
        # Overflow gate for the BIGINT fast path (r15 optimization):
        # with this round's weights on the driver and the corpus-wide
        # |xq| ceiling from the meta scan, bound every intermediate —
        # dot partial sums by sum_j |w_j| * xmax, |z| by that div 1e6,
        # |r| by |z| + 1e9, and each residual product by |r| * xmax.
        # Inside 2^62 the long path is bit-exact (integral div
        # truncates toward zero like the decimal identity; products
        # and fold sums cannot wrap); outside it the decimal path
        # computes the identical values, just slower. The PER-ROUND
        # decision cannot change results, only the arithmetic width.
        wabs_max = max(
            (sum(abs(w) for w in weights[c]) for c in classes), default=0
        )
        dot_bound = wabs_max * xmax
        r_bound = dot_bound // _MICRO + 1 + _NANO
        long_safe = dot_bound < 2**62 and r_bound * max(xmax, 1) < 2**62
        # Zero-weight shortcut (always true in round 1 — weights
        # initialize to 0): every dot is exactly trunc(0 / 1e6) = 0,
        # so r_c = -1e9 * [y == c] with no dot tree at all. Exact
        # algebraic identity, not an approximation — the oracle's
        # g1 CTE encodes the same simplification.
        if all(w == 0 for c in classes for w in weights[c]):
            resid_arr = F.array(
                *[
                    -(
                        F.when(F.col("_y") == c, F.lit(_NANO))
                        .otherwise(F.lit(0))
                        .cast("long")
                    )
                    for c in classes
                ]
            )
        elif long_safe:
            resid_arr = F.expr(_resid_arr_long_sql(weights, classes))
        else:
            resid_arr = F.zip_with(
                _dot_nano_all(weights, classes),
                F.lit([int(c) for c in classes]).cast("array<long>"),
                lambda z, c: z
                - F.when(F.col("_y") == c, F.lit(_NANO))
                .otherwise(F.lit(0))
                .cast("long"),
            )
        if long_safe:
            # product exact in BIGINT (gated above), summed in
            # decimal(38,0) — sums must stay decimal at any corpus
            # size, but one cast per element replaces two casts and
            # a decimal multiply (measured 1.04 s -> 0.54 s for the
            # 10-sum aggregate alone)
            prods = [
                (F.element_at("_r", i + 1) * F.col("_x")).cast(
                    "decimal(38,0)"
                )
                for i in range(len(classes))
            ]
        else:
            prods = [
                F.element_at("_r", i + 1).cast("decimal(18,0)")
                * F.col("_x").cast("decimal(18,0)")
                for i in range(len(classes))
            ]
        resid = src.select("_xq", resid_arr.alias("_r"))
        grads = (
            resid.select(F.posexplode("_xq").alias("_dim", "_x"), "_r")
            .groupBy("_dim")
            # the per-dim row count IS the round's sampled corpus
            # size (each row contributes one posexploded row per
            # dim): the gradient mean's divisor rides the same scan
            .agg(
                F.count(F.lit(1)).alias("_n"),
                *[F.sum(p).alias(f"_g{i}") for i, p in enumerate(prods)],
            )
            .collect()
        )
        if not grads:
            continue  # empty sampled round: weights unchanged
        # uniform by the ragged-input raise above; max() rather than
        # an arbitrary collect()-order row keeps the divisor
        # plan-order independent by construction
        n_round = max(int(row["_n"]) for row in grads)
        for row in grads:
            j = row["_dim"]
            for i, c in enumerate(classes):
                g = int(row[f"_g{i}"])
                weights[c][j] -= tdiv(lr_ppb * tdiv(g, n_round), _FEMTO)
    return spark.createDataFrame(
        [
            (int(c), j, int(weights[c][j]))
            for c in classes
            for j in range(dim)
        ],
        WEIGHTS_SCHEMA,
    )


def _collect_weights(weights: DataFrame) -> dict[int, list[int]]:
    rows = weights.collect()  # classes x dim rows: bounded model size
    dim = 1 + max(r["dim"] for r in rows)
    out: dict[int, list[int]] = {}
    for r in rows:
        out.setdefault(int(r["label"]), [0] * dim)[r["dim"]] = int(
            r["w_nano"]
        )
    return out


def linear_probe_margin(
    df: DataFrame,
    weights: DataFrame,
    vec_col: str = "embedding",
    *,
    positive: int,
) -> DataFrame:
    """The binary curation gate: appends `margin_nano` — the
    ``positive`` class's score minus the best OTHER class's score —
    the number a selection pipeline thresholds or top-k's on
    (positive margin == the probe prefers the target class). Pure
    map like :func:`linear_probe_predict`; exact integer, so a
    downstream top-k has a stable deterministic order."""
    w = _collect_weights(weights)
    if int(positive) not in w:
        raise ValueError(
            f"positive class {positive} not in the weight table"
        )
    if len(w) < 2:
        raise ValueError("margin needs >= 2 classes in the weight table")
    scored = quantize_features(df, vec_col)
    cls = sorted(w)
    dots = _dot_nano_all(w, cls)  # one fused tree, element i = class cls[i]
    pos_i = cls.index(int(positive))
    other_dots = [
        F.element_at(dots, i + 1) for i in range(len(cls)) if i != pos_i
    ]
    others = (
        other_dots[0] if len(other_dots) == 1 else F.greatest(*other_dots)
    )
    return scored.withColumn(
        "margin_nano", F.element_at(dots, pos_i + 1) - others
    ).drop("_xq")


def linear_probe_predict(
    df: DataFrame,
    weights: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Score every row against the trained probe: appends `pred`
    (argmax class; ties break to the smallest label — pinned, not
    engine-dependent) and `z_nano` (the winning score). Pure map:
    the weight table is collected (bounded model metadata) into
    literal arrays; no join, no shuffle, serving cost = one scan."""
    w = _collect_weights(weights)
    scored = quantize_features(df, vec_col)
    cls = sorted(w)
    best = F.array_max(
        F.zip_with(
            _dot_nano_all(w, cls),  # one fused tree (r15 optimization)
            F.lit([-int(c) for c in cls]).cast("array<long>"),
            lambda z, negc: F.struct(z.alias("z"), negc.alias("negc")),
        )
    )
    return (
        scored.withColumn("_best", best)
        .withColumn("pred", -F.col("_best.negc"))
        .withColumn("z_nano", F.col("_best.z"))
        .drop("_xq", "_best")
    )
