"""Domain-mixture sampling and shard planning for training corpora.

Two pipeline stages every large-scale training-data build runs after
dedup/quality filtering, absent from the reference (its surface stops
at message streams — `/root/reference/pspf/stream.py`), mandated by
the beyond-reference LLM-pipeline charter (SURVEY §2.7):

- **Domain mixture** (`domain_mixture`): given target mixture weights
  over a stratum column (source, language, quality bucket), keep an
  EXACT per-stratum quota of rows so the output realizes the target
  proportions at the largest feasible size. `stratified_sample`
  (sampling.py) keeps an expected fraction; training-data mixing
  specs ("40% web, 30% code, ...") need exact counts.
- **Shard planning** (`assign_shards` / `shard_stats`): deterministic
  global shuffle + balanced shard assignment for writing training
  shards, with a per-shard audit (counts, bytes, hash range).

Determinism contract (same as sampling.py): every decision derives
from the md5-based `hash60` of the row id — stable across runs,
partitionings, cluster sizes, and engines, so the DuckDB oracle
replays membership exactly.

Scale design — the exact-quota selection is the interesting part.
The naive form (`row_number() OVER (PARTITION BY stratum ORDER BY
hash)`) funnels each stratum through ONE task; a 40%-weight web
stratum of a 100 TB corpus would be a single-task sort. Instead the
operator runs a two-phase distributed selection:

1. One `groupBy(stratum, bucket)` count, where `bucket` is the top
   ``bucket_bits`` bits of the hash (so buckets are ordered by hash).
   The (|strata| x 2^bucket_bits) histogram is bounded metadata
   collected to the driver.
2. Per stratum, the driver locates the CUTOFF bucket where the
   cumulative count crosses the quota. Rows below the cutoff bucket
   are kept with a map-side filter (no shuffle, no sort); only the
   rows INSIDE each stratum's single cutoff bucket — ~n_s/2^bucket_bits
   of the stratum — pay a per-stratum `row_number` to take the exact
   remainder.

So the full-data path is one small-histogram aggregation plus one
broadcast-joined filter; the only sort touches ~1/1024th of the data.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from python_stream_processing_framework_spark.operators.sampling import (
    _unit_hash,
)


def mixture_quotas(
    counts: dict[str, int], weights: dict[str, float]
) -> dict[str, int]:
    """Exact per-stratum quotas realizing the target mixture.

    ``T = floor(min_s(n_s / w_s))`` is the largest total at which every
    stratum can supply its share; ``quota_s = floor(w_s * T)``. Both
    steps are single IEEE-double operations, so an oracle computing
    ``floor(w * T)`` in SQL reproduces the quotas bit-for-bit.

    Strata present in ``weights`` but absent from ``counts`` make the
    mixture infeasible (T = 0 — every quota collapses); strata in
    ``counts`` but not in ``weights`` are excluded (quota 0).
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w <= 0 for w in weights.values()):
        raise ValueError("mixture weights must be positive")
    t = math.floor(min(counts.get(s, 0) / w for s, w in weights.items()))
    return {s: int(math.floor(w * t)) for s, w in weights.items()}


def domain_mixture(
    df: DataFrame,
    strata_col: str,
    weights: dict[str, float],
    id_col: str,
    *,
    seed: str = "",
    bucket_bits: int = 10,
) -> DataFrame:
    """Keep an exact per-stratum quota of rows hitting a target mixture.

    For each stratum ``s`` in ``weights``, keeps the ``quota_s`` rows
    with the smallest ``hash60(id # seed)`` (ties broken by id), where
    quotas come from `mixture_quotas` — the output's stratum
    proportions match ``weights`` at the largest size the input
    supports. Rows from strata not in ``weights`` are dropped.

    Membership is fully deterministic, and nested in the sampling.py
    sense: a stratum's sample at a smaller T (fewer rows upstream) is
    a subset of its sample at a larger T under the same seed, because
    selection is always a prefix of the same hash order.

    Two jobs: the (stratum, bucket) histogram collect, then the
    selection scan. See the module docstring for why this beats a
    per-stratum ``row_number`` at scale. Both jobs re-evaluate ``df``
    — if it is an expensive lazy pipeline (e.g. fresh out of dedup),
    materialize it first (common.materialize, or a written stage in
    production); otherwise the histogram pass recomputes the whole
    upstream plan.

    SNAPSHOT semantics: the histogram jobs run eagerly AT CALL TIME
    and the resulting per-stratum cutoff plan is embedded in the
    returned frame as literals. The returned DataFrame is therefore a
    plan over the input **as it was when this function ran** — if the
    underlying table changes before (or between) executions of the
    result, the pinned quotas/cutoffs no longer match the data and the
    exact-quota contract can be silently violated. Re-call the
    operator after any upstream refresh. Internal working columns use
    a per-call unique suffix, so they can never collide with (or
    leak into) user columns of any name.
    """
    import uuid as _uuid

    sfx = _uuid.uuid4().hex[:8]
    c_h, c_b, c_cut, c_take, c_rn, c_n = (
        f"_{n}_{sfx}" for n in ("h", "b", "cutoff", "take", "rn", "n")
    )
    shift = 60 - bucket_bits
    h = _unit_hash(id_col, seed)
    hashed = df.withColumn(c_h, h).withColumn(
        c_b, F.shiftright(F.col(c_h), shift).cast("int")
    )

    hist = (
        hashed.filter(F.col(strata_col).isin(list(weights)))
        .groupBy(strata_col, c_b)
        .agg(F.count(F.lit(1)).alias(c_n))
        .collect()
    )
    counts: dict[str, int] = {}
    buckets: dict[str, list[tuple[int, int]]] = {}
    for row in hist:
        s, b, n = row[strata_col], row[c_b], row[c_n]
        counts[s] = counts.get(s, 0) + n
        buckets.setdefault(s, []).append((b, n))
    quotas = mixture_quotas(counts, weights)

    # Per stratum: cutoff bucket + how many rows to take inside it.
    plan_rows = []
    for s, quota in quotas.items():
        cum = 0
        cutoff, take = -1, 0
        for b, n in sorted(buckets.get(s, [])):
            if cum + n >= quota:
                cutoff, take = b, quota - cum
                break
            cum += n
        plan_rows.append((s, cutoff, take))
    # the plan table's stratum column mirrors the input's dtype (int
    # strata — cluster ids, quality buckets — are as valid as strings)
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    plan_schema = StructType(
        [
            StructField(strata_col, df.schema[strata_col].dataType),
            StructField(c_cut, IntegerType()),
            StructField(c_take, LongType()),
        ]
    )
    plan = df.sparkSession.createDataFrame(plan_rows, plan_schema)

    joined = hashed.join(F.broadcast(plan), strata_col)
    below = joined.filter(F.col(c_b) < F.col(c_cut))
    # Only the cutoff bucket's rows (~1/2^bucket_bits of each stratum)
    # pay the rank; everything below the cutoff is a map-side keep.
    edge_win = Window.partitionBy(strata_col).orderBy(c_h, id_col)
    edge = (
        joined.filter(F.col(c_b) == F.col(c_cut))
        .withColumn(c_rn, F.row_number().over(edge_win))
        .filter(F.col(c_rn) <= F.col(c_take))
        .drop(c_rn)
    )
    # Re-select in the input's column order (the stratum join key moved
    # to the front) — callers get the schema they passed in, filtered.
    return below.unionByName(edge).select(*df.columns)


def curriculum_order(
    df: DataFrame,
    score_col: str,
    thresholds: list[float],
    id_col: str,
    *,
    seed: str = "",
    ascending: bool = True,
) -> DataFrame:
    """Deterministic curriculum training order: phase by score band,
    shuffle within phase.

    Adds (``curr_phase``, ``curr_key``): phase = which of the
    ``thresholds`` bands the row's score falls in (band i =
    score < thresholds[i], last band = rest; ``ascending=False``
    reverses phase order for hard-first anti-curricula), key =
    hash60(id#seed) — so sorting by (curr_phase, curr_key) yields an
    easy-to-hard schedule whose within-phase order is a reproducible
    shuffle. Writers realize the order with
    ``repartitionByRange("curr_phase", "curr_key")`` +
    ``sortWithinPartitions`` — a range shuffle, never a global
    single-task sort.

    Thresholds are explicit values (in practice from
    ``approx_percentile`` over the score), NOT computed here: the
    operator stays map-only and the schedule is pinned by literal
    constants, reproducible across engines and runs.
    """
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    if sorted(thresholds) != list(thresholds):
        raise ValueError("thresholds must be ascending")
    phase = None
    for i, bound in enumerate(thresholds):
        cond = F.col(score_col) < F.lit(bound)
        phase = F.when(cond, i) if phase is None else phase.when(cond, i)
    phase = phase.otherwise(len(thresholds)).cast("int")
    if not ascending:
        phase = (F.lit(len(thresholds)) - phase).cast("int")
    return df.withColumn("curr_phase", phase).withColumn(
        "curr_key", _unit_hash(id_col, seed)
    )


def assign_shards(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    *,
    seed: str = "",
    out_col: str = "shard",
) -> DataFrame:
    """Deterministic balanced shard assignment: ``hash60(id#seed) mod n``.

    The global-shuffle step before writing training shards: the hash
    randomizes document order (no correlation with source ordering),
    the modulus balances shard sizes to within sampling noise
    (multinomial — ~±3σ = 3·sqrt(N/n) rows per shard), and the
    assignment is reproducible on any engine. Map-only, no shuffle;
    the physical repartition happens when the writer partitions by
    ``out_col``.
    """
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    return df.withColumn(
        out_col, (_unit_hash(id_col, seed) % F.lit(n_shards)).cast("int")
    )


def shard_stats(
    assigned: DataFrame,
    *,
    shard_col: str = "shard",
    size_col: str | None = None,
) -> DataFrame:
    """Per-shard audit of a shard assignment: (shard, n_rows[, total_size]).

    ``size_col`` (e.g. a char or token count) adds a payload-balance
    column — shard balance in BYTES is what actually bounds training
    I/O, not row counts. One small aggregation (n_shards output rows).
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if size_col is not None:
        aggs.append(F.sum(F.col(size_col)).cast("bigint").alias("total_size"))
    return assigned.groupBy(shard_col).agg(*aggs)


def temperature_weights(counts: dict[str, int], tau: float) -> dict[str, float]:
    """mT5-style temperature-scaled sampling weights: w_s ∝ n_s^tau.

    tau < 1 UP-weights low-resource strata (tau=1 is proportional
    sampling, tau=0 uniform) — the published multilingual sampling
    rule (T5/mT5/XLM-R). Feed the result to `domain_mixture`.

    Determinism contract: pow() is the one libm call, so each raw
    weight quantizes to integer parts-per-1e12 via floor(x*1e12+0.5)
    (the module-wide half-up rule) before normalizing; the final
    weight is a single division of two exactly-representable int64s
    (< 2^53 — holds to ~1e15 weight units; far past any real stratum
    histogram), which any engine reproduces bit-for-bit. A 1-ulp pow
    drift would need to land within 1e-12 of a rounding boundary to
    change a weight — measure-zero, the retrieval.py ln precedent.

    Zero-count strata carry no weight (they cannot supply rows;
    including them would clamp every quota to 0).
    """
    if tau < 0:
        raise ValueError("tau must be >= 0")
    units = {
        s: int(math.floor(float(n) ** tau * 1e12 + 0.5))
        for s, n in counts.items()
        if n > 0
    }
    if not units:
        raise ValueError("temperature_weights needs at least one non-empty stratum")
    total = sum(units.values())
    return {s: u / total for s, u in units.items()}


def temperature_mixture(
    df: DataFrame,
    strata_col: str,
    tau: float,
    id_col: str,
    *,
    seed: str = "",
    bucket_bits: int = 10,
) -> DataFrame:
    """Temperature-scaled exact-quota mixture over OBSERVED strata.

    Computes the stratum histogram (one strata-bounded aggregation),
    derives `temperature_weights`, and runs `domain_mixture` — so the
    output realizes the n^tau mixture with exact per-stratum counts
    and hash-deterministic membership. Two passes over the input plus
    domain_mixture's own histogram pass; materialize expensive
    upstream plans first (domain_mixture's snapshot caveat applies
    here doubly).
    """
    counts = {
        r[strata_col]: r["_n"]
        for r in df.groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    }
    weights = temperature_weights(counts, tau)
    return domain_mixture(
        df, strata_col, weights, id_col, seed=seed, bucket_bits=bucket_bits
    )


def unimax_allocation(
    df: DataFrame,
    group_col: str,
    tokens_col: str,
    *,
    budget: int,
    max_epochs: int = 4,
) -> DataFrame:
    """UniMax token-budget allocation (Chung et al. 2023): split a
    total training ``budget`` across strata as uniformly as possible
    subject to a per-stratum repeat cap of ``max_epochs`` x its
    available tokens — the published alternative to temperature
    sampling that never over-repeats a small source (temperature
    weights happily ask a 1 M-token language for 100 epochs; UniMax
    caps it and waterfills the freed budget into larger sources).

    Returns one row per stratum: (group, tokens, cap, alloc_tokens,
    saturated) where cap = tokens * max_epochs and sum(alloc_tokens)
    <= budget with equality unless every stratum saturates. All
    integer arithmetic — the waterfill level is the closed-form scan
    over caps ASCENDING: stratum i (1-based, ties broken by group
    name) saturates iff ``cap_i * (n - i + 1) <= budget -
    prefix_caps_{i-1}`` (monotone: once a cap exceeds the water
    level, every larger cap does), saturated strata get their cap,
    the rest get the SAME level ``(budget - saturated_mass) DIV
    n_unsaturated`` — deterministic, engine-exact, no floats.

    Scale shape: one partial-aggregable count/sum to stratum level,
    then window functions over the stratum frame — bounded by
    |strata| (sources/languages: dozens), metadata-sized; the corpus
    itself never reshuffles. Feed ``alloc_tokens`` to
    ``domain_mixture`` / ``temperature_mixture``'s quota machinery to
    realize the selection."""
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    if max_epochs < 1:
        raise ValueError(f"max_epochs must be >= 1, got {max_epochs}")
    counts = df.groupBy(group_col).agg(
        F.sum(F.col(tokens_col)).cast("long").alias("tokens")
    )
    w = Window.orderBy(F.col("cap").asc(), F.col(group_col).asc())
    ranked = (
        counts.withColumn("cap", F.col("tokens") * F.lit(max_epochs))
        .withColumn("_i", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy()))
        .withColumn(
            "_prefix",
            F.coalesce(
                F.sum("cap").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
        .withColumn(
            "saturated",
            F.col("cap") * (F.col("_n") - F.col("_i") + 1)
            <= F.lit(budget) - F.col("_prefix"),
        )
    )
    sat = ranked.withColumn(
        "_sat_mass",
        F.coalesce(
            F.sum(F.when(F.col("saturated"), F.col("cap"))).over(
                Window.partitionBy()
            ),
            F.lit(0),
        ),
    ).withColumn(
        "_n_unsat",
        F.col("_n")
        - F.coalesce(
            F.sum(F.when(F.col("saturated"), 1)).over(Window.partitionBy()),
            F.lit(0),
        ),
    )
    return sat.select(
        group_col,
        "tokens",
        "cap",
        F.when(F.col("saturated"), F.col("cap"))
        .otherwise(
            # integer DIV, not float /: budgets can exceed 2^53
            F.expr(f"CAST(({budget} - _sat_mass) DIV _n_unsat AS BIGINT)")
        )
        .alias("alloc_tokens"),
        "saturated",
    )
