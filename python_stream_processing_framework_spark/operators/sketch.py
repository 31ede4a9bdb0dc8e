"""Count-min sketch + heavy hitters — fixed-memory frequency counts.

Beyond-reference capability (SURVEY §2.7 charter): the Cormode &
Muthukrishnan (2005) count-min sketch answers "how often does token x
occur in 100 TB?" from ``depth * width`` counters instead of a
vocabulary-sized table — the standard primitive behind streaming
heavy-hitter detection, frequency floors for boilerplate mining, and
join-cardinality hints. The exact count table `frequent_ngrams`
builds is the right tool when the vocabulary fits; the sketch is the
tool when it doesn't (URLs, n-grams at high order, user IDs).

Guarantee: estimates NEVER undercount (each counter only ever adds),
and overcount by at most ``eps * N`` with probability ``1 - delta``
for ``width = ceil(e / eps)``, ``depth = ceil(ln(1 / delta))``.

Scale shape:

- **Build** is one corpus scan: token explode x depth -> (row,
  bucket) BIGINT pairs -> groupBy sum with map-side partials. The
  sketch is <= depth * width rows REGARDLESS of corpus size —
  broadcast by construction (the DSIR fixed-width-feature story).
- **Estimate** joins candidate tokens against the broadcast sketch
  (depth rows per candidate, min-combined). Heavy hitters = estimate
  every DISTINCT observed token, TakeOrdered the top k — the
  distinct-token frame is the only vocabulary-sized piece and it
  carries (token, hash) rows, never documents.

Determinism (oracle contract): the depth hash functions are
``hash28_mod("cm{i}#" || token, width)`` — the engine-portable
md5-prefix hash — and every counter is an exact BIGINT sum, so any
engine reproduces every estimate bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from python_stream_processing_framework_spark.functions.hashing import hash28_mod
from python_stream_processing_framework_spark.operators.dedup import tokens_expr


def _cm_bucket(token: Column, row: int, width: int) -> Column:
    return hash28_mod(F.concat(F.lit(f"cm{row}#"), token), width)


def cm_build(
    df: DataFrame,
    text_col: str,
    *,
    depth: int = 4,
    width: int = 4096,
) -> DataFrame:
    """Build the sketch: (row, bucket, c) — at most depth*width rows,
    only observed buckets materialized (absent bucket == 0)."""
    toks = df.select(F.explode(tokens_expr(text_col)).alias("_t"))
    rows = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        _cm_bucket(F.col("_t"), i, width).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("_rb")
    )
    return (
        rows.select("_rb.row", "_rb.bucket")
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


def cm_estimate(
    candidates: DataFrame,
    sketch: DataFrame,
    token_col: str,
    *,
    depth: int = 4,
    width: int = 4096,
) -> DataFrame:
    """Point-query the sketch for every candidate token: adds an
    ``est`` column (min over the depth counters; a bucket the corpus
    never touched estimates 0). The sketch side broadcasts."""
    keyed = candidates.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        _cm_bucket(F.col(token_col), i, width).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("_rb"),
    ).select(*candidates.columns, F.col("_rb.row").alias("row"), F.col("_rb.bucket").alias("bucket"))
    joined = keyed.join(F.broadcast(sketch), ["row", "bucket"], "left")
    return joined.groupBy(*candidates.columns).agg(
        F.min(F.coalesce(F.col("c"), F.lit(0))).cast("bigint").alias("est")
    )


def cm_heavy_hitters(
    df: DataFrame,
    text_col: str,
    *,
    k: int = 25,
    depth: int = 4,
    width: int = 4096,
) -> DataFrame:
    """Top-k tokens by count-min estimate: (token, n_exact, est),
    est-desc with token tie-break. One corpus scan builds the sketch,
    a second yields the distinct observed tokens with their exact
    counts, so every row carries the one-sided guarantee
    est >= n_exact; the estimate join is broadcast and the cut is a
    TakeOrdered, never a global sort."""
    sketch = cm_build(df, text_col, depth=depth, width=width)
    distinct = (
        df.select(F.explode(tokens_expr(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    )
    est = cm_estimate(distinct, sketch, "token", depth=depth, width=width)
    return est.orderBy(F.col("est").desc(), F.col("token").asc()).limit(k)


def cm_error_bound(n_total: int, width: int) -> float:
    """The additive overcount ceiling ``e * N / width`` the sketch
    guarantees per estimate (with prob. 1 - exp(-depth))."""
    import math

    return math.e * float(n_total) / float(width)


__all__ = [
    "cm_build",
    "cm_estimate",
    "cm_heavy_hitters",
    "cm_error_bound",
    "cm_fold",
    "cm_state_estimate",
]


def _py_bucket(row: int, token: str, width: int) -> int:
    """Python twin of `_cm_bucket` (same md5-prefix arithmetic), for
    fold state updated executor-side one event at a time."""
    import hashlib

    return int(hashlib.md5(f"cm{row}#{token}".encode()).hexdigest()[:7], 16) % width


def cm_fold(
    token_field: str = "token", *, depth: int = 4, width: int = 4096
):
    """FoldFn maintaining a SPARSE count-min sketch as keyed-fold
    state (streaming/state.py keyed_fold / keyed_fold_stream) — the
    canonical streaming heavy-hitter state: per key (a language, a
    tenant, a topic) the sketch is bounded at depth*width counters no
    matter how many events stream through, JSON-serializable, and
    mergeable by counter-wise addition. Estimates from the live state
    agree exactly with a batch `cm_build` over the same events
    (pinned by tests)."""

    def fold(event, st):
        st = dict(st or {})
        token = event[token_field]
        for i in range(depth):
            key = f"{i}:{_py_bucket(i, token, width)}"
            st[key] = st.get(key, 0) + 1
        return st

    return fold


def cm_state_estimate(
    state: dict | None, token: str, *, depth: int = 4, width: int = 4096
) -> int:
    """Point-query a `cm_fold` state dict (0 for untouched buckets)."""
    st = state or {}
    return min(
        st.get(f"{i}:{_py_bucket(i, token, width)}", 0) for i in range(depth)
    )
