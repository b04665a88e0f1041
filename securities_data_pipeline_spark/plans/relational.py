"""Core relational query surface over the star schema.

Covers the reference's operator inventory (SURVEY.md §2) re-expressed on
the driver's TPC-H-ish tables: scans with pruning/pushdown (S5/P2/P3),
projections and recodes (P1/P5), distinct (A1/A2), null-count aggregate
(A3), uniqueness/integrity checks as queries (A4/J1), unions (U2/U3),
the forward-fill window (W1 — dw_transformer/macros/ffill_candles.sql
semantics), moving windows, top-N per group, JSON extraction, date
rollups, and deterministic sampling (P8).

Every query has a DuckDB oracle. Cross-engine float determinism rule:
**aggregate in exact decimal, emit double** — ``SUM(CAST(x AS
DECIMAL(18,2)))`` is exact in both engines, then one final cast to
double; never sum raw doubles (summation order differs per engine and
per partitioning).

Scale notes (100 TB design):
- Joins keep dimension sides broadcastable (region/nation/customer are
  tiny relative to fact tables); Catalyst + AQE pick broadcast hash join
  under the configured threshold, and the plans avoid forcing shuffles.
- Window queries partition by their natural key (user_id / custkey) —
  one shuffle each, reused across chained window functions over the
  same (partition, order) spec.
- All filters/projections are declarative → pushed into the parquet
  scan (verified via ``.explain``: PushedFilters / ReadSchema).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from securities_data_pipeline_spark.functions.gates import guard_events_sql
from securities_data_pipeline_spark.sources.tables import table

# ---------------------------------------------------------------------------
# helpers

DEC2 = "decimal(18,2)"
DEC4 = "decimal(18,4)"


def _dec2(c: str):
    return F.col(c).cast(DEC2)


def _dec4(c: str):
    return F.col(c).cast(DEC4)


def _as_double(c):
    return c.cast("double")


# ---------------------------------------------------------------------------
# queries


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: scan + filter + hash aggregate.

    Reference ops: S5 scan w/ pushdown (py_pipeline/extract.py:102-119),
    A-series aggregations. Filter reaches the parquet row-group stats;
    aggregation is partial (map-side) then final — one shuffle on the
    2-value grouping key.
    """
    li = table(spark, sf_dir, "lineitem")
    disc_price = _dec2("l_extendedprice") * (F.lit(1).cast(DEC4) - _dec4("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _as_double(F.sum(_dec2("l_quantity"))).alias("sum_qty"),
            _as_double(F.sum(_dec2("l_extendedprice"))).alias("sum_base_price"),
            _as_double(F.sum(disc_price)).alias("sum_disc_price"),
            (_as_double(F.sum(_dec2("l_quantity"))) / F.count(F.lit(1))).alias("avg_qty"),
            (_as_double(F.sum(_dec2("l_extendedprice"))) / F.count(F.lit(1))).alias(
                "avg_price"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
"""


def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: 3-way join + agg + deterministic top-10.

    customer is small → broadcast into orders; orders⋈lineitem shuffles
    on orderkey. Tie-break on o_orderkey keeps LIMIT deterministic.
    """
    cust = table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    revenue = _dec2("l_extendedprice") * (F.lit(1).cast(DEC4) - _dec4("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_as_double(F.sum(revenue)).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


Q3_SQL = """
SELECT
  o_orderkey, o_orderdate, o_orderpriority,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style multi-way join: fact ⋈ broadcast dimension chain.

    region/nation/supplier are all tiny → broadcast; the only big
    shuffle is lineitem⋈orders on orderkey. This is the star-schema
    query shape the reference's dim/fct split exists for
    (dw_transformer/models/core/*.sql, README.md:131-133 dashboard).
    """
    region = table(spark, sf_dir, "region")
    nation = table(spark, sf_dir, "nation")
    cust = table(spark, sf_dir, "customer")
    sup = table(spark, sf_dir, "supplier")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    revenue = _dec2("l_extendedprice") * (F.lit(1).cast(DEC4) - _dec4("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(_as_double(F.sum(revenue)).alias("revenue"))
    )


Q5_SQL = """
SELECT
  r_name, n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def s5_scan_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + range predicate pushed to the scan.

    Reference: Delta scan with ``columns=`` + date ``filters=``
    (py_pipeline/extract.py:88-95,148-152). Catalyst emits PushedFilters
    on l_shipdate and ReadSchema with only 3 columns.
    """
    li = table(spark, sf_dir, "lineitem")
    return li.where(
        F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"), F.lit("1996-01-31").cast("timestamp")
        )
    ).select("l_orderkey", "l_linenumber", "l_shipdate")


S5_SQL = """
SELECT l_orderkey, l_linenumber, l_shipdate
FROM lineitem
WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-01-31'
"""


def p5_null_recode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional null recode — ``sector isna → 'Missing'`` semantics
    (py_pipeline/transform.py:43-47) via coalesce/nullif."""
    cust = table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("Missing")).alias(
            "segment_recode"
        ),
    )


P5_SQL = """
SELECT c_custkey,
       COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'Missing') AS segment_recode
FROM customer
"""


def a1_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct projection → work list (py_pipeline/extract.py:99,
    stg_fx_symbols.sql:12)."""
    return table(spark, sf_dir, "orders").select("o_orderpriority").distinct()


A1_SQL = "SELECT DISTINCT o_orderpriority FROM orders"


def a3_null_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column non-null-count aggregate — the all-null column
    detector (py_pipeline/transform.py:77-79) as one wide agg row."""
    cust = table(spark, sf_dir, "customer")
    return cust.agg(
        *[F.count(F.col(c)).alias(f"nn_{c}") for c in cust.columns],
        F.count(F.lit(1)).alias("n_rows"),
    )


A3_SQL = """
SELECT
  COUNT(c_custkey) AS nn_c_custkey,
  COUNT(c_name) AS nn_c_name,
  COUNT(c_nationkey) AS nn_c_nationkey,
  COUNT(c_acctbal) AS nn_c_acctbal,
  COUNT(c_mktsegment) AS nn_c_mktsegment,
  COUNT(*) AS n_rows
FROM customer
"""


def a4_duplicate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt ``unique`` test as a query: PK groups with count > 1
    (dw_transformer/models/properties.yml:11-21). Empty on clean data."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )


A4_SQL = """
SELECT l_orderkey, l_linenumber, COUNT(*) AS n
FROM lineitem
GROUP BY l_orderkey, l_linenumber
HAVING COUNT(*) > 1
"""


def j1_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt ``relationships`` referential check as a left-anti join
    (dw_transformer/models/properties.yml:100-107): customers with no
    orders. Anti side broadcasts the distinct keys under AQE."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


J1_SQL = """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def j2_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: suppliers that shipped at least one line."""
    sup = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem")
    return sup.join(li, sup.s_suppkey == li.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


J2_SQL = """
SELECT s_suppkey, s_name
FROM supplier
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
"""


def u2_union_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_symbols-style tagged union (dw_transformer/models/core/
    dim_symbols.sql:1-5): two entity tables unioned by name with an
    asset_type discriminator; missing columns null-padded
    (unionByName(allowMissingColumns=True) ↔ pd.concat outer-union,
    py_pipeline/extract.py:51-60)."""
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_key"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").cast("int").alias("nationkey"),
        F.lit("Customer").alias("entity_type"),
        F.col("c_mktsegment").alias("segment"),
    )
    sup = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("entity_key"),
        F.col("s_name").alias("name"),
        F.col("s_nationkey").cast("int").alias("nationkey"),
        F.lit("Supplier").alias("entity_type"),
    )
    return cust.unionByName(sup, allowMissingColumns=True)


U2_SQL = """
SELECT c_custkey AS entity_key, c_name AS name,
       c_nationkey AS nationkey, 'Customer' AS entity_type,
       c_mktsegment AS segment
FROM customer
UNION ALL
SELECT s_suppkey, s_name, s_nationkey, 'Supplier', NULL
FROM supplier
"""


def w1_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill with the reference's exact no-IGNORE-NULLS
    semantics (dw_transformer/macros/ffill_candles.sql:1-19).

    ``value`` is nulled for 'error' events, then each null is replaced
    by ``last(value) OVER (PARTITION BY user ORDER BY ts ROWS BETWEEN
    UNBOUNDED PRECEDING AND 1 PRECEDING)`` with ignorenulls=False — the
    *immediately previous row's raw value*, so the 2nd consecutive null
    stays null. One shuffle on user_id.

    Reads through the ``event_ok`` admission gate (functions/gates.py,
    fuzz-derived): a NULL event time has no position in the ffill
    order — Spark sorts it NULLS FIRST, DuckDB NULLS LAST, so every
    "previous row" after it silently shifts.
    """
    from securities_data_pipeline_spark.functions.gates import events_gated

    ev = events_gated(spark, sf_dir)
    v = F.when(F.col("event_type") != "error", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    filled = F.when(v.isNull(), F.last(v, ignorenulls=False).over(w)).otherwise(v)
    return ev.select(
        "user_id", "event_id", "ts", v.alias("value_raw"), filled.alias("value_filled")
    )


W1_SQL = """
WITH base AS (
  SELECT user_id, event_id, ts,
         CASE WHEN event_type <> 'error' THEN value END AS value_raw
  FROM events
)
SELECT user_id, event_id, ts, value_raw,
       CASE WHEN value_raw IS NULL THEN
         LAST_VALUE(value_raw) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       ELSE value_raw END AS value_filled
FROM base
"""


def w2_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row trailing average of order totals per customer.

    Sum runs in exact decimal (identical across engines), one division
    at the end. Same (partitionBy, orderBy) spec as any other
    per-customer window → a single shuffle feeds all of them.
    """
    orders = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-6, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        (_as_double(F.sum(_dec2("o_totalprice")).over(w)) / F.count(F.lit(1)).over(w)).alias(
            "ma7_totalprice"
        ),
    )


W2_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
         / COUNT(*) OVER w AS ma7_totalprice
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


def w3_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by account balance per market segment
    (row_number with full deterministic tie-break)."""
    cust = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        cust.select(
            "c_mktsegment", "c_custkey", "c_acctbal", F.row_number().over(w).alias("rank")
        )
        .where(F.col("rank") <= 3)
    )


W3_SQL = """
SELECT * FROM (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rank
  FROM customer
) WHERE rank <= 3
"""


def f_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction + aggregate over the events props column
    (extension surface noted in SURVEY §2.8).

    Garbage-JSON contract (fuzz-derived, tools/fuzz_events.py):
    ``get_json_object`` is lenient — malformed/empty/NaN-bearing props
    extract as NULL, never abort — and the extracted string goes
    through ``try_cast`` so a non-numeric field is NULL too, not an
    ANSI error. The oracle mirrors both (``json_valid`` guard +
    ``TRY_CAST``); the one documented strictness gap is a duplicated
    key, where both engines happen to agree on first-match."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").try_cast("long")
    # Both engines must emit int64 for sum_k: DuckDB widens SUM(BIGINT) to
    # HUGEINT (int128), whose canonical form differs from Spark's LongType in
    # the driver's value hasher even when the numbers are equal.
    return ev.groupBy("event_type").agg(
        F.sum(k).cast("long").alias("sum_k"), F.count(F.lit(1)).alias("n_events")
    )


FJSON_SQL = """
SELECT event_type,
       CAST(SUM(TRY_CAST(CASE WHEN props IS NOT NULL AND json_valid(props)
                              THEN json_extract_string(props, '$.k') END
                         AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(*) AS n_events
FROM events
GROUP BY event_type
"""


def f_month_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly order rollup: date_trunc + exact-decimal sums → the
    daily→monthly bar aggregation the star schema exists for."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias("order_month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _as_double(F.sum(_dec2("o_totalprice"))).alias("sum_totalprice"),
        )
    )


FMONTH_SQL = """
SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS order_month,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice
FROM orders
GROUP BY 1
"""


def f_scalar_recode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function surface: lower / literal replace / CASE buckets /
    round — the symbol-cleaning recodes of py_pipeline/transform.py:33-50
    applied to the part table."""
    part = table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.lower(F.col("p_brand")).alias("brand_lower"),
        F.replace(F.col("p_brand"), F.lit("#"), F.lit("-")).alias("brand_recode"),
        F.when(F.col("p_size") < 10, "small")
        .when(F.col("p_size") < 30, "medium")
        .otherwise("large")
        .alias("size_bucket"),
        F.round(F.col("p_retailprice").cast(DEC2), 1).cast("double").alias("price_round"),
    )


FSCALAR_SQL = """
SELECT p_partkey,
       LOWER(p_brand) AS brand_lower,
       REPLACE(p_brand, '#', '-') AS brand_recode,
       CASE WHEN p_size < 10 THEN 'small'
            WHEN p_size < 30 THEN 'medium'
            ELSE 'large' END AS size_bucket,
       CAST(ROUND(CAST(p_retailprice AS DECIMAL(18,2)), 1) AS DOUBLE) AS price_round
FROM part
"""


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP (region → nation) over customer counts —
    grouping-set surface Spark gives for free (SURVEY §2.4 note)."""
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    joined = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        _as_double(F.sum(_dec2("c_acctbal"))).alias("sum_acctbal"),
    )


ROLLUP_SQL = """
SELECT r_name, n_name, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def p8_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dev-mode exact-N sample (py_pipeline/extract.py:62-63) made
    engine-portable: order by md5(key) — a stable pseudo-random shuffle
    that both Spark and any SQL oracle reproduce exactly."""
    cust = table(spark, sf_dir, "customer")
    return (
        cust.select("c_custkey", "c_name")
        .orderBy(F.md5(F.col("c_custkey").cast("string")), F.col("c_custkey"))
        .limit(5)
    )


P8_SQL = """
SELECT c_custkey, c_name
FROM customer
ORDER BY MD5(CAST(c_custkey AS VARCHAR)), c_custkey
LIMIT 5
"""


def p9_bernoulli_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% Bernoulli sample: keep rows whose md5(key)
    starts below the rate threshold. Unlike ``p8``'s exact-N global
    sort, this is a pure per-row filter — ZERO shuffles, pushes to the
    scan, and the SAME rows survive in any engine, at any parallelism,
    on any day: the property ``df.sample()`` (seeded per-partition
    RNG, partitioning-dependent) cannot give. The per-row decision is
    the first 4 hex chars of md5 as an integer < 0.10 × 16^4."""
    li = table(spark, sf_dir, "lineitem")
    h = F.conv(
        F.substring(F.md5(F.concat_ws("_", "l_orderkey", "l_linenumber")), 1, 4),
        16,
        10,
    ).cast("long")
    return li.select("l_orderkey", "l_linenumber", "l_quantity").where(
        h < int(0.10 * 16**4)
    )


P9_SQL = f"""
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem
WHERE CAST(concat('0x', substring(
        md5(CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)),
        1, 4)) AS BIGINT) < {int(0.10 * 16**4)}
"""


# ---------------------------------------------------------------------------
# registries

RELATIONAL_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_top_revenue_orders": q3_top_revenue_orders,
    "q5_nation_revenue": q5_nation_revenue,
    "s5_scan_prune": s5_scan_prune,
    "p5_null_recode": p5_null_recode,
    "a1_distinct": a1_distinct,
    "a3_null_counts": a3_null_counts,
    "a4_duplicate_keys": a4_duplicate_keys,
    "j1_anti_join": j1_anti_join,
    "j2_semi_join": j2_semi_join,
    "u2_union_dim": u2_union_dim,
    "w1_ffill": w1_ffill,
    "w2_moving_avg": w2_moving_avg,
    "w3_topn_per_group": w3_topn_per_group,
    "f_json_extract": f_json_extract,
    "f_month_rollup": f_month_rollup,
    "f_scalar_recode": f_scalar_recode,
    "agg_rollup": agg_rollup,
    "p8_deterministic_sample": p8_deterministic_sample,
    "p9_bernoulli_sample": p9_bernoulli_sample,
}

RELATIONAL_ORACLES: dict[str, str] = {
    "q1_pricing_summary": Q1_SQL,
    "q3_top_revenue_orders": Q3_SQL,
    "q5_nation_revenue": Q5_SQL,
    "s5_scan_prune": S5_SQL,
    "p5_null_recode": P5_SQL,
    "a1_distinct": A1_SQL,
    "a3_null_counts": A3_SQL,
    "a4_duplicate_keys": A4_SQL,
    "j1_anti_join": J1_SQL,
    "j2_semi_join": J2_SQL,
    "u2_union_dim": U2_SQL,
    "w1_ffill": guard_events_sql(W1_SQL),
    "w2_moving_avg": W2_SQL,
    "w3_topn_per_group": W3_SQL,
    "f_json_extract": FJSON_SQL,
    "f_month_rollup": FMONTH_SQL,
    "f_scalar_recode": FSCALAR_SQL,
    "agg_rollup": ROLLUP_SQL,
    "p8_deterministic_sample": P8_SQL,
    "p9_bernoulli_sample": P9_SQL,
}
