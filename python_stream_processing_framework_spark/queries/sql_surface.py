"""Queries exercised through the raw SQL surface (`spark.sql` over
registered views) — the engine exposes full Spark SQL, which the
reference lacks entirely (SURVEY §2.3). Includes subquery shapes
(correlated scalar, IN) and approximate aggregates (rows-only checks:
sketch internals are engine-specific by design).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from python_stream_processing_framework_spark.catalog import register_views
from python_stream_processing_framework_spark.queries.base import query


@query(
    "approx_distinct_users",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
           TRUE AS within_5pct_users,
           TRUE AS within_5pct_p50,
           TRUE AS within_5pct_p99
    FROM events GROUP BY event_type
    """,
    doc="Approximate aggregates (approx_count_distinct HLL++ rsd=0.01, "
    "approx_percentile) — the 100 TB substitutes for exact "
    "count-distinct / percentiles. Hash-checkable form: the sketch "
    "values themselves are engine-specific, so the query emits the "
    "EXACT distinct count plus per-group booleans asserting the approx "
    "aggregates land within 5% of exact values computed in the same "
    "Spark aggregation; the oracle emits the exact count and literal "
    "TRUEs (HLL++ at rsd=0.01 and the GK percentile sketch are "
    "deterministic and far inside 5% at this cardinality).",
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two hash aggregations joined on the (tiny) group key instead of
    # one combined pass: count(DISTINCT) alongside TypedImperative
    # sketch aggregates (approx_percentile / HLL) forces the Expand
    # rewrite out of hash aggregation into a SortAggregate over 2x
    # rows (~5x slower here). Split, both sides stay
    # ObjectHashAggregate; the join is a 5-row broadcast.
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH d AS (
          SELECT event_type, count(DISTINCT user_id) AS n_users_exact
          FROM events GROUP BY event_type),
        s AS (
          SELECT event_type,
                 percentile(value, array(0.5, 0.99)) AS p_exact,
                 approx_count_distinct(user_id, 0.01) AS approx_users,
                 approx_percentile(value, array(0.5, 0.99)) AS approx_p
          FROM events GROUP BY event_type)
        SELECT event_type,
               n_users_exact,
               abs(approx_users - n_users_exact) <= 0.05 * n_users_exact
                 AS within_5pct_users,
               abs(approx_p[0] - p_exact[0]) <= 0.05 * abs(p_exact[0])
                 AS within_5pct_p50,
               abs(approx_p[1] - p_exact[1]) <= 0.05 * abs(p_exact[1])
                 AS within_5pct_p99
        FROM d JOIN s USING (event_type)
        """
    )
