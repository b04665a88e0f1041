"""Remaining TPC-H query shapes: Q13 (outer-join distribution), Q15
(argmax against a derived view), Q21 (multi-EXISTS self-join), plus
Q2/Q20 adaptations (no partsupp table — the part<->supplier
relationship comes from ``lineitem(l_partkey, l_suppkey)``; lineitem
has no commitdate/receiptdate, so "late" means shipped more than 60
days after the order date).

The reference has no explicit joins (SURVEY §2.3; star schema joined
at query time) — these cover the left-outer aggregate, scalar-argmax,
and correlated-anti-self-join planning shapes.

Scale notes (100 TB):
- Q13 pre-aggregates orders by custkey BEFORE the customer join, so
  the join input is one row per customer, not one per order.
- Q15 computes per-supplier revenue once; the argmax is a broadcast
  of a 1-row aggregate, not a re-scan.
- Q21 replaces the textbook double-correlated EXISTS/NOT EXISTS
  (two extra lineitem scans) with ONE per-order aggregate —
  count_distinct(supplier) and count_distinct(late supplier) — then a
  row-level filter. One lineitem⋈orders shuffle on orderkey total.
- Q2/Q20 derive the part↔supplier edge list with a distinct on
  (partkey, suppkey) partial-aggregated map-side before the exchange.

Cross-engine determinism per plans/relational.py: exact-decimal sums
emitted as double once; ties broken on unique keys.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from securities_data_pipeline_spark.plans.relational import _as_double, _dec2
from securities_data_pipeline_spark.plans.relational_tpch2 import _REVENUE_SQL, _revenue
from securities_data_pipeline_spark.sources.tables import materialize, table

_LATE = "INTERVAL 60 DAYS"  # Spark spelling
_LATE_SQL = "INTERVAL 60 DAY"  # DuckDB spelling


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-style: distribution of customers by order count,
    counting only non-urgent orders (no o_comment column — the
    NOT LIKE '%special%requests%' filter becomes a priority filter).

    Orders pre-aggregate to one row per custkey before the customer
    join, so the left join probes with |customer| rows and the
    zero-order customers surface via coalesce(cnt, 0) — no row
    explosion at fact scale.
    """
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    ord_cnt = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        cust.join(ord_cnt, cust.c_custkey == ord_cnt.o_custkey, "left")
        .select(F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").cast("long").alias("custdist"))
    )


Q13_SQL = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) per_cust
GROUP BY c_count
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-style: supplier(s) with the maximum revenue over a
    quarter — argmax against a derived per-supplier revenue view.

    The revenue view is computed once (one lineitem scan + one
    exchange on suppkey); the scalar max is a single-row broadcast
    compared row-wise. Revenue is an exact decimal sum cast to double
    once, so the equality against the max is bit-exact in both
    engines.
    """
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"), F.lit("1996-03-31").cast("timestamp")
        )
    )
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(_as_double(F.sum(_revenue())).alias("total_revenue"))
        # feeds both the argmax scalar and the equality join —
        # materialize the (tiny) per-supplier view once instead of
        # scanning lineitem twice
        .transform(materialize)
    )
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(top), F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(sup), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-03-31'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-style: suppliers whose late shipment was the ONLY
    late one in a multi-supplier finalized order.

    The textbook plan runs EXISTS + NOT EXISTS as two extra
    correlated lineitem scans; here both collapse into one per-order
    aggregate — n_supp = count_distinct(suppkey), n_late =
    count_distinct(suppkey | late) — and a row filter
    (late AND n_supp > 1 AND n_late = 1). Late lines from the sole
    late supplier count per line, matching the EXISTS semantics
    (COUNT(*) over qualifying l1 rows). The per-order distinct counts
    run as WINDOW functions (size of collect_set over the orderkey
    partition), so they ride the partitioning the lineitem⋈orders
    join just produced — ONE pass over the joined fact, no
    re-aggregation join and no second scan. Supplier broadcasts;
    top-20 tie-broken on s_name.
    """
    orders = table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(_LATE)
    lines = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey", "l_suppkey", late.alias("is_late")
    )
    w = Window.partitionBy("l_orderkey")
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        lines.withColumn("n_supp", F.size(F.collect_set("l_suppkey").over(w)))
        .withColumn(
            "n_late",
            F.size(F.collect_set(F.when(F.col("is_late"), F.col("l_suppkey"))).over(w)),
        )
        .where(F.col("is_late") & (F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


Q21_SQL = f"""
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier, lineitem l1, orders
WHERE s_suppkey = l1.l_suppkey
  AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + {_LATE_SQL}
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + {_LATE_SQL}
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
"""


def q2_min_acctbal_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-style correlated-min: for each large part shipped in
    the data, the ASIA supplier with the minimum account balance among
    its shippers (no partsupp → supplier set per part comes from
    distinct lineitem (l_partkey, l_suppkey) pairs; min(ps_supplycost)
    becomes min(s_acctbal)).

    The edge list distinct partial-aggregates map-side before its
    exchange; the per-part min is a window over that deduped edge
    list, not a second scan. Supplier/nation/region/part are all
    broadcast. Deterministic top-50 via (s_acctbal desc, p_partkey).
    """
    region = table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    sup = table(spark, sf_dir, "supplier")
    part = table(spark, sf_dir, "part").where(F.col("p_size") >= 40).select(
        "p_partkey", "p_type", "p_size"
    )
    edges = (
        table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    asia_sup = (
        sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    w = Window.partitionBy("l_partkey")
    return (
        edges.join(F.broadcast(part), edges.l_partkey == part.p_partkey)
        .join(F.broadcast(asia_sup), edges.l_suppkey == F.col("s_suppkey"))
        .withColumn("min_bal", F.min("s_acctbal").over(w))
        .where(F.col("s_acctbal") == F.col("min_bal"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type")
        .orderBy(F.col("s_acctbal").desc(), F.col("p_partkey").asc(), F.col("s_name").asc())
        .limit(50)
    )


Q2_SQL = """
SELECT s_acctbal, s_name, n_name, p_partkey, p_type
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) edges
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND p_size >= 40
  AND s_acctbal = (
    SELECT MIN(s2.s_acctbal)
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) e2
    JOIN supplier s2 ON e2.l_suppkey = s2.s_suppkey
    JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
    JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
    WHERE e2.l_partkey = edges.l_partkey AND r2.r_name = 'ASIA'
  )
ORDER BY s_acctbal DESC, p_partkey ASC, s_name ASC
LIMIT 50
"""


def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-style: suppliers of promo parts who shipped more than
    400 units of some such part in 1995 (no partsupp availqty — the
    threshold is a fixed quantity sum over the year's shipments).

    The inner per-(part, supplier) quantity sum partial-aggregates
    before one exchange; its distinct supplier set then semi-joins the
    broadcast supplier dimension. Quantities sum as exact decimals.
    """
    part = table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO").select("p_partkey")
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").between(
            F.lit("1995-01-01").cast("timestamp"), F.lit("1995-12-31").cast("timestamp")
        )
    )
    heavy = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("qty"))
        .where(F.col("qty") > F.lit("400").cast("decimal(12,2)"))
        .select("l_suppkey")
        .distinct()
    )
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    nation = table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_5")
    return (
        sup.join(heavy, sup.s_suppkey == heavy.l_suppkey, "left_semi")
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", "s_name")
    )


Q20_SQL = """
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_5'
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_type = 'PROMO'
      AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1995-12-31'
    GROUP BY l_partkey, l_suppkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > CAST(400 AS DECIMAL(12,2))
  )
"""


TPCH3_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q13_customer_distribution": q13_customer_distribution,
    "q15_top_supplier": q15_top_supplier,
    "q21_waiting_suppliers": q21_waiting_suppliers,
    "q2_min_acctbal_supplier": q2_min_acctbal_supplier,
    "q20_excess_suppliers": q20_excess_suppliers,
}

TPCH3_ORACLES: dict[str, str] = {
    "q13_customer_distribution": Q13_SQL,
    "q15_top_supplier": Q15_SQL,
    "q21_waiting_suppliers": Q21_SQL,
    "q2_min_acctbal_supplier": Q2_SQL,
    "q20_excess_suppliers": Q20_SQL,
}


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-style: parts whose NATION_7-supplied value exceeds
    0.1% of that nation's total — an aggregate HAVING against a
    global scalar of the SAME aggregation (no partsupp — value is
    discounted revenue through the nation's suppliers).

    The per-part aggregate is computed once; the global total re-sums
    the per-part rows (tiny) rather than re-scanning the fact, and
    joins back as a broadcast scalar. The share test is decimal-exact
    multiplication (val * 1000 > total), never a decimal division.
    Sums are narrowed to DECIMAL(28,6) before the comparison so the
    x1000 product stays under Spark's precision-38 ceiling.
    """
    nation = table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_7")
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    li = table(spark, sf_dir, "lineitem")
    per_part = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum(_revenue()).cast("decimal(28,6)").alias("val"))
        # feeds both the HAVING filter and the global total —
        # materialize once or the fact table is scanned twice
        .transform(materialize)
    )
    total = per_part.agg(F.sum("val").alias("total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("val") * F.lit(1000).cast("decimal(4,0)") > F.col("total"))
        .select("l_partkey", F.col("val").cast("double").alias("value"))
    )


Q11_SQL = f"""
WITH pv AS (
  SELECT l_partkey, CAST(SUM({_REVENUE_SQL}) AS DECIMAL(28,6)) AS val
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
  GROUP BY l_partkey
)
SELECT l_partkey, CAST(val AS DOUBLE) AS value
FROM pv
WHERE val * CAST(1000 AS DECIMAL(4,0)) > (SELECT SUM(val) FROM pv)
"""

TPCH3_QUERIES["q11_important_parts"] = q11_important_parts
TPCH3_ORACLES["q11_important_parts"] = Q11_SQL


def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style: average yearly revenue lost if small-quantity
    orders for one brand's parts were not taken — lines with
    ``l_quantity < 0.2 * avg(l_quantity over the part)`` (no
    p_container column; the brand filter alone scopes the part set).

    Physical-strategy counterpart to ``sq_small_qty_revenue``
    (plans/subqueries.py), which decorrelates the per-part AVG into a
    grouped aggregate JOINED back on partkey (two scans of the fact or
    one + a shuffle-heavy self-join). Here the per-part count/sum ride
    a WINDOW over the partkey partition the part join just produced —
    one scan, one exchange; the right choice when the per-part group is
    small (sort within partition beats a second exchange + join probe).
    Keeping both pins each strategy's plan shape in the audit. The
    0.2·avg boundary is exact int64 arithmetic (``5·qty·n < Σqty`` ⟺
    ``qty < 0.2·avg``): quantities are integral, so no cross-engine
    double-average tie can flip a row. Revenue sums as exact decimal,
    one cast to double, one IEEE division by 7.
    """
    part = (
        table(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    w = Window.partitionBy("l_partkey")
    q = F.col("l_quantity").cast("long")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        # one select → one Window node computing both aggregates over
        # the same frame (chained withColumn planned two Window nodes)
        .select(
            "l_extendedprice",
            "l_quantity",
            F.count(F.lit(1)).over(w).alias("_n"),
            F.sum(q).over(w).alias("_s"),
        )
        .where(F.lit(5) * q * F.col("_n") < F.col("_s"))
        .agg(
            (_as_double(F.sum(_dec2("l_extendedprice"))) / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


Q17_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
FROM (
  SELECT l_extendedprice, CAST(l_quantity AS BIGINT) AS q,
         COUNT(*) OVER (PARTITION BY l_partkey) AS n,
         SUM(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_partkey) AS s
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#1'
) t
WHERE 5 * q * n < s
"""


def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 at full textbook parameters (threshold 300, the
    orders columns o_totalprice/o_orderdate in the output, top-100) —
    ``sq_large_orders`` (plans/subqueries.py) pins the same
    HAVING-on-a-join-key shape at threshold 150 with a decimal sum;
    this one keeps the quantity sum in exact int64 and the full Q18
    output row.

    Scale order matters: lineitem pre-aggregates to (orderkey, Σqty)
    and filters > 300 FIRST (partial map-side combine, then one
    exchange on orderkey), so the orders join probes with the few
    surviving keys instead of grouping the full 3-way join. Customer
    broadcasts. Quantities are integral → the 300 threshold compares
    exact int64s; top-100 tie-broken on the unique orderkey.
    """
    big = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .where(F.col("total_qty") > 300)
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
        .orderBy(
            F.col("o_totalprice").desc(), F.col("o_orderdate").asc(),
            F.col("o_orderkey").asc(),
        )
        .limit(100)
    )


Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
HAVING SUM(CAST(l_quantity AS BIGINT)) > 300
ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey ASC
LIMIT 100
"""


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style: well-funded but inactive customers by country
    code — the double-subquery shape (scalar AVG threshold + NOT EXISTS
    anti-join). No c_phone column: the "country code" is
    ``c_nationkey % 5``, keeping the selective-IN-list semantics; "no
    orders" becomes "no orders since 1998" (every customer has some
    order in this data).

    ``sq_rich_inactive_customers`` (plans/subqueries.py) pins the bare
    scalar-subquery + anti-join core (status-F inactivity, ungrouped
    output); this is the full Q22: country-code bucketing, the average
    scoped to the SAME bucketed subset, grouped (numcust, totacctbal)
    output — the shape Catalyst must decorrelate twice.

    The positive-balance average is ONE tiny aggregate broadcast as a
    scalar; the boundary test is exact int64 (``cents·n > Σcents`` ⟺
    ``acctbal > avg``) so no double-average tie can flip a customer.
    The anti-join probes recent orders only (date filter pushed to the
    scan); customer-side stays partitioned on custkey — at fact scale
    AQE picks the broadcast side from the surviving row counts.
    """
    code = F.pmod(F.col("c_nationkey"), F.lit(5))
    cust = (
        table(spark, sf_dir, "customer")
        .where(code.isin(0, 2, 4))
        .select(
            code.alias("cntrycode"),
            "c_custkey",
            _dec2("c_acctbal").alias("bal"),
            (_dec2("c_acctbal") * 100).cast("long").alias("cents"),
        )
    )
    pos = cust.where(F.col("bal") > 0).agg(
        F.count(F.lit(1)).alias("n_pos"), F.sum("cents").alias("s_pos")
    )
    recent = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(pos))
        .where(F.col("cents") * F.col("n_pos") > F.col("s_pos"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            _as_double(F.sum("bal")).alias("totacctbal"),
        )
    )


Q22_SQL = """
WITH cust AS (
  SELECT c_nationkey % 5 AS cntrycode, c_custkey,
         CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM customer
  WHERE c_nationkey % 5 IN (0, 2, 4)
), pos AS (
  SELECT COUNT(*) AS n_pos, SUM(cents) AS s_pos FROM cust WHERE bal > 0
)
SELECT cntrycode,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(bal) AS DOUBLE) AS totacctbal
FROM cust, pos
WHERE cents * n_pos > s_pos
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '1998-01-01'
  )
GROUP BY cntrycode
"""


TPCH3_QUERIES["q17_small_qty_revenue"] = q17_small_qty_revenue
TPCH3_ORACLES["q17_small_qty_revenue"] = Q17_SQL
TPCH3_QUERIES["q18_large_volume_customer"] = q18_large_volume_customer
TPCH3_ORACLES["q18_large_volume_customer"] = Q18_SQL
TPCH3_QUERIES["q22_global_sales_opportunity"] = q22_global_sales_opportunity
TPCH3_ORACLES["q22_global_sales_opportunity"] = Q22_SQL
