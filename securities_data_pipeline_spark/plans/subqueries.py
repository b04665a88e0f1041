"""Subquery-shaped query surface: EXISTS / NOT EXISTS, scalar
aggregate subqueries, and HAVING — the decorrelation patterns TPC-H
Q4/Q17/Q18/Q22 exercise, adapted to the driver's tables.

The reference's only subqueries are the dbt relationship tests
(dw_transformer/models/properties.yml:100-107,153-159 — compiled to
anti-join SQL); a warehouse-grade query surface needs the full family,
and Catalyst plans each of these without a correlated loop: EXISTS →
left-semi join, NOT EXISTS → left-anti, scalar subquery → one-row
broadcast.

Cross-engine float determinism: scalar-subquery *comparisons* avoid
decimal division entirely (result scale rules differ between engines) —
``x < avg(y)`` is rewritten ``x * n < sum(y)`` with exact decimal
sums, identical in Spark and DuckDB.

Scale notes (100 TB):
- EXISTS/NOT EXISTS become semi/anti joins whose build side is the
  filtered key set — AQE broadcasts it when small; no per-row probe.
- Scalar subqueries evaluate once and broadcast a single row; the
  fact-side scan stays pruned (only the compared columns are read).
- The HAVING query is a partial-agg → final-agg on the join key the
  fact table is already clustered by, so the group-by reuses the join
  shuffle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from securities_data_pipeline_spark.functions.gates import guard_events_sql
from securities_data_pipeline_spark.plans.relational import _dec2
from securities_data_pipeline_spark.sources.tables import table

def sq_exists_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders per priority having at least one deeply
    discounted line. EXISTS → left-semi join (no duplicate inflation,
    no distinct needed); the probe side is the pruned lineitem scan."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").where(F.col("l_discount") > 0.08)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


SQ_EXISTS_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_discount > 0.08)
GROUP BY o_orderpriority
"""


def sq_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: yearly-averaged revenue of lines whose quantity
    is below half their part's average quantity.

    The correlated scalar subquery (per-part avg) decorrelates into a
    grouped aggregate joined back on partkey; the `< 0.5 * avg`
    comparison is division-free (`2 * qty * n < sum`) so both engines
    compare exact decimals.
    """
    li = table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(_dec2("l_quantity")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    joined = li.join(per_part.withColumnRenamed("l_partkey", "pk"), F.col("l_partkey") == F.col("pk"))
    small = joined.where(
        _dec2("l_quantity") * F.lit(2) * F.col("n_lines") < F.col("sum_qty")
    )
    return small.agg(
        (F.sum(_dec2("l_extendedprice")).cast("double") / F.lit(7.0)).alias("avg_yearly")
    )


SQ_SMALL_QTY_SQL = """
WITH per_part AS (
  SELECT l_partkey AS pk,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
         COUNT(*) AS n_lines
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem JOIN per_part ON l_partkey = pk
WHERE CAST(l_quantity AS DECIMAL(18,2)) * 2 * n_lines < sum_qty
"""


def sq_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds 150, with
    the customer name. The HAVING filter runs on the partially
    aggregated join key before the (broadcast) customer join."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec2("l_quantity")).alias("total_qty_dec"))
        .where(F.col("total_qty_dec") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.col("total_qty_dec").cast("double").alias("total_qty"),
        )
    )


SQ_LARGE_ORDERS_SQL = """
SELECT c_name, o_orderkey, o_orderdate,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_name, o_orderkey, o_orderdate
HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
"""


def sq_rich_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average (positive)
    balance and no *finalized* orders (status 'F' — the synthetic data
    gives every customer at least one order of some status). Scalar
    subquery → one-row broadcast; NOT EXISTS → left-anti join with the
    filter pushed below it. `bal > avg` is division-free:
    `bal * n > sum` in exact decimal."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    stats = cust.where(F.col("c_acctbal") > 0).agg(
        F.sum(_dec2("c_acctbal")).alias("tot"), F.count(F.lit(1)).alias("n")
    )
    return (
        cust.crossJoin(F.broadcast(stats))
        .where(_dec2("c_acctbal") * F.col("n") > F.col("tot"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_acctbal")
    )


SQ_RICH_INACTIVE_SQL = """
WITH s AS (
  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS tot, COUNT(*) AS n
  FROM customer WHERE c_acctbal > 0
)
SELECT c_custkey, c_acctbal
FROM customer, s
WHERE CAST(c_acctbal AS DECIMAL(18,2)) * s.n > s.tot
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
"""


def w5_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag surface: per-user event-over-event value delta and the
    next event's type. Same (partition, order) spec for both functions
    → one window shuffle serves both.

    Reads through the ``event_ok`` gate (functions/gates.py): NULL
    event times sort NULLS FIRST on Spark / NULLS LAST on DuckDB, so
    ungated they shift every lead/lag neighbor (fuzz-found); a ±inf
    value would make delta_prev engine-dependent in ordering too."""
    from securities_data_pipeline_spark.functions.gates import events_gated

    ev = events_gated(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        (F.col("value") - F.lag("value").over(w)).alias("delta_prev"),
        F.lead("event_type").over(w).alias("next_type"),
    )


W5_SQL = """
SELECT user_id, event_id, ts, value,
       value - LAG(value) OVER w AS delta_prev,
       LEAD(event_type) OVER w AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


SUBQUERY_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "sq_exists_discount": sq_exists_discount,
    "sq_small_qty_revenue": sq_small_qty_revenue,
    "sq_large_orders": sq_large_orders,
    "sq_rich_inactive_customers": sq_rich_inactive_customers,
    "w5_lead_lag": w5_lead_lag,
}

SUBQUERY_ORACLES: dict[str, str] = {
    "sq_exists_discount": SQ_EXISTS_SQL,
    "sq_small_qty_revenue": SQ_SMALL_QTY_SQL,
    "sq_large_orders": SQ_LARGE_ORDERS_SQL,
    "sq_rich_inactive_customers": SQ_RICH_INACTIVE_SQL,
    "w5_lead_lag": guard_events_sql(W5_SQL),
}
