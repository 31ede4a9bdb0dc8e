"""Deterministic sampling and dataset splitting for corpus pipelines.

A training-data pipeline needs reproducible membership decisions:
train/val/test splits that never leak a document across splits between
runs, per-stratum downsampling with exact auditability, and fixed-size
deterministic samples. Spark's `df.sample`/`randomSplit` are
seed-dependent on partitioning (resampling after a repartition changes
membership), so everything here derives membership from a content hash
of the row's id — stable across runs, partitionings, engines, and
cluster sizes. The reference has no sampling surface at all; this is a
beyond-reference operator family (SURVEY §2.7 charter).

All decisions are md5-based (functions/hashing.hash60): map-only column
expressions, whole-stage codegen, zero shuffles — the decision cost at
100 TB is one hash per row inside the scan stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from python_stream_processing_framework_spark.functions.hashing import hash60

# hash60 is uniform over [0, 16^15) = [0, 2^60).
HASH_SPACE = 16**15


def _unit_hash(id_col: str, seed: str) -> Column:
    """60-bit uniform hash of (id, seed); divide by HASH_SPACE for U[0,1)."""
    return hash60(F.concat(F.col(id_col).cast("string"), F.lit("#" + seed)))


def split_thresholds(weights: dict[str, float]) -> list[tuple[str, int]]:
    """(label, upper-bound) pairs over the integer hash space.

    Cumulative integer thresholds — the same constants are embedded in
    the oracle SQL, so membership is engine-exact (no float compare).
    """
    total = sum(weights.values())
    bounds, acc = [], 0.0
    for label, w in weights.items():
        acc += w / total
        bounds.append((label, int(acc * HASH_SPACE)))
    # Guard against float shortfall on the last bucket.
    bounds[-1] = (bounds[-1][0], HASH_SPACE)
    return bounds


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float],
    *,
    seed: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Label every row with a deterministic split assignment.

    `weights` maps label -> relative weight (e.g. {"train": .8,
    "val": .1, "test": .1}); assignment = which cumulative bucket the
    row's 60-bit id hash lands in. Changing `seed` re-deals the split;
    leaving it fixed guarantees a document never migrates between
    splits across runs — the property `randomSplit` cannot give.
    """
    h = _unit_hash(id_col, seed)
    expr = None
    for label, bound in split_thresholds(weights)[:-1]:
        cond = h < F.lit(bound)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    last_label = list(weights)[-1]
    expr = F.lit(last_label) if expr is None else expr.otherwise(last_label)
    return df.withColumn(out_col, expr)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str,
    *,
    default_fraction: float = 0.0,
    seed: str = "",
) -> DataFrame:
    """Keep a deterministic per-stratum fraction of rows.

    `fractions` maps stratum value -> keep fraction; strata not listed
    use `default_fraction`. Row kept iff hash(id) < fraction * 2^60,
    so the sample for a stratum is a fixed subset — re-running, adding
    executors, or repartitioning never changes membership, and a 10%
    sample is a superset of the 5% sample at the same seed (nested
    samples, the standard corpus-ablation requirement).

    Thresholds are integerized driver-side (`int(p * 2^60)`) so no
    float->int cast happens in-engine — Spark truncates that cast
    where other engines round, and membership must be engine-exact.
    """
    h = _unit_hash(id_col, seed)
    thr = None
    for value, p in fractions.items():
        cond = F.col(strata_col) == F.lit(value)
        bound = F.lit(int(p * HASH_SPACE))
        thr = F.when(cond, bound) if thr is None else thr.when(cond, bound)
    default_bound = F.lit(int(default_fraction * HASH_SPACE))
    thr = default_bound if thr is None else thr.otherwise(default_bound)
    return df.filter(h < thr)


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    n: int,
    *,
    seed: str = "",
    key_col: str = "es_key_micro",
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis A-ES).

    Draws n rows with inclusion probability proportional to weight,
    without replacement: each row gets the key ln(u) / w with
    u = (hash60(id, seed) + 1) / 2^60 in (0, 1], and the n LARGEST
    keys win — the distributed form of the classic weighted reservoir
    (Efraimidis & Spirakis 2006, key u^(1/w), order-isomorphic under
    ln). Deterministic: u is an md5 hash of (id, seed), so membership
    is stable across runs, partitionings, and engines — the property
    a seeded `df.sample` cannot give.

    Engine-exactness: u is a dyadic rational (int64 -> double is
    IEEE round-to-nearest in every engine, /2^60 is exact scaling),
    and the key is quantized to integer MICRO-units
    (round((ln(u)/w) * 1e6) as BIGINT) so a last-ulp libm difference
    in ln() moves the quantized key only when the true value sits
    within ~1e-9 of a rounding boundary. Ties break by id. Rows with
    NULL or non-positive weight are excluded (inclusion probability
    zero).

    Plan shape: map-only key computation inside the scan, then
    ORDER BY key DESC LIMIT n -> TakeOrderedAndProject; each partition
    keeps a local top-n and only n rows per partition reach the merge.
    At 100 TB the cost is one md5 + one ln per row inside the scan
    stage — no full sort, no extra shuffle.
    """
    w = F.col(weight_col).cast("double")
    u = (_unit_hash(id_col, seed) + F.lit(1)).cast("double") / F.lit(float(HASH_SPACE))
    key = F.round((F.log(u) / w) * F.lit(1e6)).cast("bigint")
    return (
        df.filter(w > F.lit(0.0))
        .withColumn(key_col, key)
        .orderBy(F.desc(key_col), F.col(id_col))
        .limit(n)
    )
