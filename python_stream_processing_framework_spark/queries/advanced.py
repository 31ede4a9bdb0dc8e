"""Advanced relational/temporal queries: as-of join, exact percentiles,
keep-last dedup, CUBE grouping sets, analytic function family."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_stream_processing_framework_spark.catalog import load
from python_stream_processing_framework_spark.functions.exact import cents_sum, money
from python_stream_processing_framework_spark.operators.joins import as_of_join, range_join
from python_stream_processing_framework_spark.queries.base import query


@query(
    "asof_click_attribution",
    """
    WITH p AS (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'click')
    SELECT p.event_id AS purchase_id, p.user_id,
           CAST(epoch_us(p.ts) AS BIGINT) AS p_us,
           CASE WHEN c.ts IS NOT NULL
                 AND epoch_us(p.ts) - epoch_us(c.ts) <= 3600000000
                THEN c.event_id END AS click_id,
           CASE WHEN c.ts IS NOT NULL
                 AND epoch_us(p.ts) - epoch_us(c.ts) <= 3600000000
                THEN CAST(epoch_us(c.ts) AS BIGINT) END AS click_us
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    doc="Backward as-of join with 1h tolerance (click attribution). "
    "Spark lacks a native as-of join (SURVEY §2.4): implemented as "
    "union + time-sorted window fill — one shuffle on the key, no "
    "range-join blowup. Oracle uses DuckDB's native ASOF JOIN.",
)
def asof_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    joined = as_of_join(
        purchases, clicks, "user_id", "ts", "ts", tolerance="1 hour"
    )
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_micros(F.col("ts")).alias("p_us"),
        F.col("r_event_id").alias("click_id"),
        F.unix_micros(F.col("r_ts")).alias("click_us"),
    )


# latest_event_per_user (row_number keep-last dedup) and
# cube_lineitem (CUBE grouping sets) were rotated out of the
# 50-entry registry in r4 for the semantic-dedup and shard-plan
# queries: the row_number-partition plan shape stays oracle-pinned by
# top_orders_per_customer (rn <= 3 over the same window machinery)
# and grouping sets by rollup_lineitem (ROLLUP compiles to the same
# Expand operator as CUBE).


# order_window_stats was rotated out of the 50-entry registry in
# round 5 for the url_domains query: the rank/dense_rank/percent_rank
# family rides the same single WindowExec (one shuffle per window
# spec) that running_total and top_orders_per_customer keep
# oracle-pinned — sibling built-ins on an already-verified operator,
# not a distinct plan shape.


@query(
    "range_join_incidents",
    """
    WITH m AS (
      SELECT event_id AS interval_id, ts AS start_ts,
             ts + INTERVAL 2 HOUR AS end_ts
      FROM events WHERE event_id % 977 = 0
    )
    SELECT m.interval_id,
           count(*) AS n_events,
           CAST(sum(CAST(round(e.value*100) AS BIGINT)) AS DOUBLE)/100.0
               AS sum_value,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e JOIN m
      ON e.ts >= m.start_ts AND e.ts < m.end_ts
    GROUP BY 1
    """,
    doc="Interval-containment (range) join: events falling inside "
    "derived 2h incident windows, aggregated per window. The oracle is "
    "a plain theta-join; the Spark plan is operators/joins.py "
    "range_join — a bucketed equi-join (explode intervals over 1h "
    "cells, equi-join on cell, exact predicate in the join condition) "
    "so a big-big interval join never degenerates to "
    "BroadcastNestedLoop/cartesian at 100 TB.",
)
def range_join_incidents(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load(spark, sf_dir, "events")
    markers = events.filter(F.col("event_id") % 977 == 0).select(
        F.col("event_id").alias("interval_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts"),
    )
    joined = range_join(
        events.select("ts", "user_id", "value"),
        markers,
        "ts",
        "start_ts",
        "end_ts",
        bucket="1 hour",
    )
    return joined.groupBy("interval_id").agg(
        F.count("*").alias("n_events"),
        money(cents_sum("value")).alias("sum_value"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )
