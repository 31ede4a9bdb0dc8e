"""Relational core queries (TPC-H-style) with exact DuckDB oracles.

The reference has no SQL/relational surface at all (SURVEY §2.3 "No
grouping sets ... no sort / limit / top-k, no set operations"); this
engine exposes the full Spark SQL surface. These queries pin the
behaviors: scan+filter pushdown, multi-way joins (broadcast + shuffle),
aggregation (plain/distinct/rollup), analytic window functions,
semi/anti joins, set ops, order+limit, JSON extraction.

Determinism contract (see functions/exact.py): double aggregates go
through integer cents; every output column is aliased identically in
the Spark plan and the oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_stream_processing_framework_spark.catalog import load
from python_stream_processing_framework_spark.functions.exact import cents, cents_sum, money
from python_stream_processing_framework_spark.queries.base import query

# Shared exact-cents SQL fragments (DuckDB side of functions/exact.py).
_C = "CAST(round({x}*100) AS BIGINT)"
_MONEY_SUM = f"CAST(sum({_C}) AS DOUBLE)/100.0"


@query(
    "pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
      CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      {_MONEY_SUM.format(x='l_extendedprice')} AS sum_base_price,
      {_MONEY_SUM.format(x='(l_extendedprice*(1-l_discount))')} AS sum_disc_price,
      {_MONEY_SUM.format(x='((l_extendedprice*(1-l_discount))*(1+l_tax))')} AS sum_charge,
      CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE)/count(*) AS avg_qty,
      {_MONEY_SUM.format(x='l_extendedprice')}/count(*) AS avg_price,
      CAST(sum(CAST(round(l_discount*10000) AS BIGINT)) AS DOUBLE)/10000.0/count(*) AS avg_disc,
      count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: scan + filter pushdown + 8-agg groupBy.",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    (li,) = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    charge = disc_price * (F.lit(1) + F.col("l_tax"))
    qty = F.col("l_quantity").cast("bigint")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("sum_qty"),
            money(cents_sum("l_extendedprice")).alias("sum_base_price"),
            money(F.sum(cents(disc_price))).alias("sum_disc_price"),
            money(F.sum(cents(charge))).alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count("*")).alias("avg_qty"),
            (money(cents_sum("l_extendedprice")) / F.count("*")).alias("avg_price"),
            (
                F.sum(F.round(F.col("l_discount") * F.lit(10000)).cast("bigint")).cast("double")
                / F.lit(10000.0)
                / F.count("*")
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# top_parts was rotated out of the 50-entry driver registry in round
# 5: the order-by+limit (TakeOrderedAndProject) surface it pinned is
# exercised with real scoring work by bm25_topk, cosine_topk, and
# shipping_priority — a bare column sort on `part` added no coverage.


@query(
    "shipping_priority",
    f"""
    SELECT l_orderkey,
      {_MONEY_SUM.format(x='(l_extendedprice*(1-l_discount))')} AS revenue,
      CAST(epoch_us(o_orderdate) AS BIGINT) AS o_orderdate_us,
      o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
    doc="TPC-H Q3 shape: 3-way join + grouped revenue + ordered top-k.",
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders, lineitem = load(spark, sf_dir, "customer", "orders", "lineitem")
    cut = F.lit("1998-01-01 00:00:00").cast("timestamp")
    j = (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders.filter(F.col("o_orderdate") < cut), F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem.filter(F.col("l_shipdate") > cut), F.col("l_orderkey") == F.col("o_orderkey"))
    )
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(money(F.sum(cents(disc_price))).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            # parquet ms-timestamps surface as TIMESTAMP_NTZ in Spark 4;
            # session tz is pinned UTC so this cast is value-preserving.
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("o_orderdate_us"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@query(
    "order_priority_semi",
    """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey
        AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: correlated EXISTS as a left-semi join.",
)
def order_priority_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, lineitem = load(spark, sf_dir, "orders", "lineitem")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    )
    return (
        orders.join(lineitem, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@query(
    "region_revenue",
    f"""
    SELECT n_name,
      {_MONEY_SUM.format(x='(l_extendedprice*(1-l_discount))')} AS revenue,
      count(*) AS n_items
    FROM region
      JOIN nation ON n_regionkey = r_regionkey
      JOIN customer ON c_nationkey = n_nationkey
      JOIN orders ON o_custkey = c_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
    doc="TPC-H Q5 shape: 6-way join; tiny dims broadcast explicitly.",
)
def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region, nation, customer, orders, lineitem, supplier = load(
        spark, sf_dir, "region", "nation", "customer", "orders", "lineitem", "supplier"
    )
    # Dims-first pruning (region -> nation -> customer -> orders-in-
    # window restricts the order set before any fact row is touched),
    # then the fact join carries a MERGE hint. Left to its size
    # estimates, Catalyst BROADCASTS LINEITEM here (the whole fact
    # table slips under the threshold at test SFs) — a plan that works
    # locally and detonates at scale. The merge hint pins the
    # fact-side join to sort-merge — the plan that spills gracefully
    # at any scale — and AQE still converts it to broadcast at runtime
    # when the pruned dims chain is genuinely small, so no scale pays
    # for the other's physical choice. (Measured at sf0.1: 0.64s vs
    # 0.91s for the broadcast-lineitem plan Catalyst picks unhinted.)
    dims = (
        F.broadcast(region.filter(F.col("r_name") == "ASIA"))
        .join(F.broadcast(nation), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(customer, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    j = lineitem.join(dims.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey")).join(
        supplier,
        (F.col("s_suppkey") == F.col("l_suppkey"))
        & (F.col("s_nationkey") == F.col("c_nationkey")),
    )
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return j.groupBy("n_name").agg(
        money(F.sum(cents(disc_price))).alias("revenue"),
        F.count("*").alias("n_items"),
    )


@query(
    "top_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) t
    WHERE rn <= 3
    """,
    doc="Analytic window function: per-group top-k via row_number.",
)
def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


# distinct_suppliers (multi-column count(DISTINCT) demo) was rotated
# out of the 50-entry registry in r4 to make room for the
# domain-mixture query: exact count-distinct stays oracle-pinned by
# approx_distinct_users (its exact_users column is count(DISTINCT
# user_id) per event_type, same expand+two-phase plan shape).


@query(
    "rollup_lineitem",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           count(*) AS n_items
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    doc="Grouping sets: ROLLUP with coalesced subtotal labels.",
)
def rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    (li,) = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.count("*").alias("n_items"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n_items",
        )
    )


# nation_set_ops was rotated out of the 50-entry driver registry in
# round 5: INTERSECT/EXCEPT/UNION ALL lower to the same aggregate/
# anti-join physical plans already driver-verified by
# order_priority_semi, corpus_decontaminate, and rollup_lineitem's
# union surface, and at the shipped SFs every nation appeared on both
# sides so two of the three branches were empty-set checks. The slots
# went to bm25_topk and curriculum_order (real operator coverage).


# customers_without_orders was rotated out of the 50-entry driver
# registry in round 4: it returns ZERO rows at every shipped SF (the
# weakest possible check — empty-set agreement), and the left_anti /
# NOT-IN surface it demonstrated is now driver-verified with real
# rows by corpus_decontaminate's two anti-joins (queries/dedup.py).
# order_priority_semi keeps the semi-join side green.


@query(
    "events_json_agg",
    """
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS sum_k,
           CAST(min(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS min_k,
           CAST(max(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
    doc="Semi-structured payloads: JSON path extraction then aggregate "
    "(reference stores payloads as JSON on the wire, SURVEY §1.2).",
)
def events_json_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.min(k).cast("bigint").alias("min_k"),
        F.max(k).cast("bigint").alias("max_k"),
    )


@query(
    "running_total",
    """
    SELECT event_id, user_id,
      CAST(sum(CAST(round(value*100) AS BIGINT)) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)/100.0
      AS running_value
    FROM events
    """,
    doc="Per-key running aggregate — the batch shape of the reference's "
    "running per-key state (pspf/context.py, stateful wordcount example).",
)
def running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        money(F.sum(cents("value")).over(w)).alias("running_value"),
    )


# events_pivot was rotated out of the 50-entry registry in round 5
# for the pii_redaction query: pivot('event_type', [literal values])
# compiles to the same single-exchange CASE-WHEN aggregate that
# pricing_summary / region_revenue keep oracle-pinned, so the row
# added plan-shape coverage no other row lacked. The operator surface
# (DataFrame.pivot) is Spark-native, not engine code.
