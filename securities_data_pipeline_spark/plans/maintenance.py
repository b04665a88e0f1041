"""Lake-maintenance query shapes: Z-order clustering keys and
incremental partial-aggregate rollup — the two operations SCALE.md
promises for the 100 TB layout, expressed as verifiable queries
instead of prose.

The reference maintains its lake with dlt merge upserts only
(py_pipeline/load.py:78-84); clustering and incremental aggregation
are left to the warehouse. A Spark-native lake owns both:

- **Z-order** (`m_zorder_cluster`): interleave the bits of two
  cluster keys into one space-filling-curve value; sorting/bucketing
  by it co-locates rows close in BOTH dimensions, so min/max row-group
  stats prune scans filtered on either key (the effect OPTIMIZE
  ZORDER BY gives Delta tables). The z-value is plain bit arithmetic
  — whole-stage codegen, zero shuffles to compute; the demonstration
  query buckets by the top z-bits and shows each bucket covers a
  narrow key range on both axes.
- **Incremental rollup** (`m_incremental_rollup`): re-aggregate
  partial aggregates — history's daily partials merge with a fresh
  increment's partials by summing counts and exact-decimal sums,
  never rescanning history. This is the algebraic property
  (re-associativity) that makes `foreachBatch` + MERGE maintenance of
  a 100 TB rollup table correct; the oracle proves merged partials ==
  full recompute.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from securities_data_pipeline_spark.functions.gates import guard_events_sql
from securities_data_pipeline_spark.sources.tables import table

Z_BITS = 8  # low bits interleaved per key → 2*Z_BITS-bit z-value
Z_BUCKET_SHIFT = 10  # bucket = z >> shift


def _zvalue_sql(x: str, y: str, div: str, bits: int = Z_BITS) -> str:
    """Bit-interleave expression with shifts spelled as arithmetic
    (x>>i == x div 2^i for non-negative ints; x<<i == x*2^i), because
    integer division differs in spelling: Spark SQL ``div``, DuckDB
    ``//``. Same arithmetic, constant-folded by each engine."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} {div} {1 << i}) % 2) * {1 << (2 * i)})")
        terms.append(f"((({y} {div} {1 << i}) % 2) * {1 << (2 * i + 1)})")
    return "(" + " + ".join(terms) + ")"


def m_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering audit: compute the interleaved z-value of
    (l_partkey, l_suppkey) low bits, bucket rows by the top z-bits,
    and report each bucket's row count and per-axis key envelope.

    Narrow projection + one aggregate exchange. The per-bucket
    min/max envelope is exactly the row-group statistic a scan
    filtered on either key would prune with after clustering."""
    li = table(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % (1 << Z_BITS)).alias("px"),
        (F.col("l_suppkey") % (1 << Z_BITS)).alias("sy"),
    )
    zbucket = F.expr(
        f"({_zvalue_sql('px', 'sy', 'div')}) div {1 << Z_BUCKET_SHIFT}"
    ).cast("long")
    return (
        li.withColumn("zbucket", zbucket)
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("px").cast("long").alias("min_px"),
            F.max("px").cast("long").alias("max_px"),
            F.min("sy").cast("long").alias("min_sy"),
            F.max("sy").cast("long").alias("max_sy"),
        )
    )


M_ZORDER_SQL = f"""
WITH keys AS (
  SELECT l_partkey % {1 << Z_BITS} AS px, l_suppkey % {1 << Z_BITS} AS sy
  FROM lineitem
)
SELECT CAST({_zvalue_sql("px", "sy", "//")} // {1 << Z_BUCKET_SHIFT} AS BIGINT) AS zbucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(px) AS BIGINT) AS min_px, CAST(MAX(px) AS BIGINT) AS max_px,
       CAST(MIN(sy) AS BIGINT) AS min_sy, CAST(MAX(sy) AS BIGINT) AS max_sy
FROM keys
GROUP BY 1
"""


_CUTOFF = "1997-01-01"


def m_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a per-(month, priority) order rollup:
    history (< cutoff) and the new increment (≥ cutoff) aggregate
    independently — two partial-aggregate passes with disjoint pushed date
    ranges — then merge by RE-AGGREGATING the partials (sum of counts,
    sum of exact-decimal sums). History is never rescanned when only
    the increment changes; the oracle is the full recompute, proving
    the merge is lossless.
    """
    orders = table(spark, sf_dir, "orders")
    cutoff = F.lit(_CUTOFF).cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("month", "o_orderdate").alias("month"),
            "o_orderpriority",
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total_dec"),
        )

    history = partial(orders.where(F.col("o_orderdate") < cutoff))
    increment = partial(orders.where(F.col("o_orderdate") >= cutoff))
    return (
        history.unionByName(increment)
        .groupBy("month", "o_orderpriority")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("total_dec").cast("double").alias("total_price"),
        )
        .select(
            F.to_date("month").alias("month"), "o_orderpriority", "n_orders", "total_price"
        )
    )


M_INCREMENTAL_SQL = """
SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month,
       o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY 1, 2
"""


def m_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-changelog → SCD **Type 2** dimension materialization — the
    warehouse load every dimension with history needs (the reference's
    `dim_symbols` carries a `date_stamp` snapshot history implying
    exactly this, dw_transformer dim_stock_symbols.sql): each (user,
    event_type) change event opens a validity interval closed by the
    user's next change; the latest row per user is `is_current`.

    Plan: one window over (user_id ORDER BY ts) — a single shuffle on
    the dimension's natural key; `lead(ts)` closes intervals,
    `valid_to IS NULL` marks current. At 100 TB the changelog shuffles
    once on user_id and the dimension writes partition-aligned with
    every fact join that follows. Ties on (user_id, ts) are broken by
    event_id so re-runs are deterministic.

    Reads through the ``event_ok`` gate (functions/gates.py): a CDC
    record with no event time cannot open a validity interval, and
    ungated it sorts on opposite ends of the user partition per engine
    (fuzz-found).
    """
    from securities_data_pipeline_spark.functions.gates import events_gated

    ev = events_gated(spark, sf_dir).select("event_id", "user_id", "event_type", "ts")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


M_SCD2_SQL = """
SELECT user_id,
       event_type,
       ts AS valid_from,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS valid_to,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
         AS is_current
FROM events
"""


def m_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-changelog → **current-state table** (the Type-1 sibling of
    ``m_scd2_intervals``, i.e. what `MERGE`-applying a Delta Change
    Data Feed produces): each user's event stream is the ordered
    changelog of that user's row — the LATEST record wins, and an
    ``'error'`` record is the delete tombstone that removes the row
    from the final state entirely.

    Plan: ONE shuffle on the key (user_id), a single descending
    row_number to pick the latest version (ties broken by event_id so
    replays are deterministic), version count rides the same window
    pass. At 100 TB this is the standard log-compaction shape: state
    size is O(live keys), never O(changelog), and the changelog is
    read exactly once. Reads through the ``event_ok`` gate — a CDC
    record with no event time cannot be sequenced (same fuzz-found
    rationale as SCD2)."""
    from securities_data_pipeline_spark.functions.gates import events_gated

    ev = events_gated(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = ev.select(
        "user_id",
        "event_type",
        "ts",
        "value",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n_versions"),
    ).where(F.col("_rn") == 1)
    return latest.where(F.col("event_type") != "error").select(
        "user_id",
        F.col("value").alias("current_value"),
        F.col("ts").alias("updated_at"),
        F.col("n_versions").cast("long").alias("n_versions"),
    )


M_CDC_APPLY_SQL = """
WITH ranked AS (
  SELECT user_id, event_type, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_versions
  FROM events
)
SELECT user_id,
       value AS current_value,
       ts AS updated_at,
       CAST(n_versions AS BIGINT) AS n_versions
FROM ranked WHERE rn = 1 AND event_type <> 'error'
"""


def m_partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-skew audit: per physical-partition-key row counts
    with each partition's ratio to the mean — the report a 100 TB
    lake reads before choosing partition columns, AQE skew-join
    thresholds, or a repartition of a hot table (a 10× ratio on one
    month means every shuffle keyed by that column has a straggler
    task 10× the median). Key here: ship-month of ``lineitem``, the
    fact table's natural time-partitioning.

    Plan: ONE hash aggregate over the fact table (only the 8-byte
    date column moves), then the ratio computes in a global window
    over the ~84-row *aggregate* — the single-partition exchange is
    over partition COUNTS, never rows, so the shape is flat at any
    scale. Exactness: n_rows·n_parts stays far inside the double
    mantissa (2^53) at any real partition count, and the one division
    is the same IEEE op in both engines.
    """
    li = table(spark, sf_dir, "lineitem")
    counts = li.groupBy(
        F.date_format("l_shipdate", "yyyy-MM").alias("part_month")
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    w = Window.partitionBy()
    return counts.select(
        "part_month",
        "n_rows",
        F.round(
            F.col("n_rows").cast("double")
            * F.count(F.lit(1)).over(w)
            / F.sum("n_rows").over(w).cast("double"),
            6,
        ).alias("ratio_to_mean"),
    ).orderBy("part_month")


M_PARTITION_SKEW_SQL = """
WITH counts AS (
  SELECT strftime(l_shipdate, '%Y-%m') AS part_month,
         COUNT(*) AS n_rows
  FROM lineitem GROUP BY 1
)
SELECT part_month,
       n_rows,
       round(CAST(n_rows AS DOUBLE) * COUNT(*) OVER ()
             / CAST(SUM(n_rows) OVER () AS DOUBLE), 6) AS ratio_to_mean
FROM counts ORDER BY part_month
"""


MAINTENANCE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "m_zorder_cluster": m_zorder_cluster,
    "m_incremental_rollup": m_incremental_rollup,
    "m_scd2_intervals": m_scd2_intervals,
    "m_cdc_apply": m_cdc_apply,
    "m_partition_skew_report": m_partition_skew_report,
}

MAINTENANCE_ORACLES: dict[str, str] = {
    "m_zorder_cluster": M_ZORDER_SQL,
    "m_incremental_rollup": M_INCREMENTAL_SQL,
    "m_scd2_intervals": guard_events_sql(M_SCD2_SQL),
    "m_cdc_apply": guard_events_sql(M_CDC_APPLY_SQL),
    "m_partition_skew_report": M_PARTITION_SKEW_SQL,
}


def m_quarantine_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admission-gate audit: per gated table, how many raw rows the
    write-time gate admits vs quarantines, and the reject rate — the
    ops view of the S6 error channel (reference side output:
    py_pipeline/extract.py:122,134-137). By construction these counts
    equal the clean/quarantine split ``sources/validated.py``
    materializes (the gates ARE the split predicate), so the report is
    the engine-checkable face of the store the new observability
    lines narrate on stderr: a reject-rate step change between runs
    is the first signal a producer upstream broke.

    Plan: one aggregate per gated table over RAW scans (deliberately
    ungated — counting the rejects is the point, the ``f_array_stats``
    exception), column-pruned to just the gate inputs; the union is
    two 1-row aggregates. Flat at any scale.
    """
    from securities_data_pipeline_spark.functions.gates import embedding_ok, event_ok

    def split_counts(df: DataFrame, gate, name: str) -> DataFrame:
        admitted = F.coalesce(gate, F.lit(False))
        return df.agg(
            F.sum(F.when(admitted, 1).otherwise(0)).cast("long").alias(
                "n_clean"
            ),
            F.sum(F.when(admitted, 0).otherwise(1)).cast("long").alias(
                "n_quarantined"
            ),
        ).select(F.lit(name).alias("table_name"), "n_clean", "n_quarantined")

    ev = split_counts(table(spark, sf_dir, "events"), event_ok(), "events")
    em = split_counts(
        table(spark, sf_dir, "embeddings"),
        embedding_ok(F.col("embedding")),
        "embeddings",
    )
    total = F.col("n_clean") + F.col("n_quarantined")
    return (
        ev.unionByName(em)
        .select(
            "table_name",
            "n_clean",
            "n_quarantined",
            F.when(
                total > 0,
                F.round(F.col("n_quarantined").cast("double") / total, 6),
            ).alias("reject_rate"),
        )
        .orderBy("table_name")
    )


def _sql_quarantine_report() -> str:
    from securities_data_pipeline_spark.functions.gates import SQL_EMB_OK, SQL_EVENT_OK

    def one(tbl: str, pred: str) -> str:
        return f"""
  SELECT '{tbl}' AS table_name,
         CAST(SUM(CASE WHEN COALESCE({pred}, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
         CAST(SUM(CASE WHEN COALESCE({pred}, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS n_quarantined
  FROM {tbl}"""

    return f"""
WITH u AS ({one('events', SQL_EVENT_OK)}
  UNION ALL{one('embeddings', SQL_EMB_OK)}
)
SELECT table_name, n_clean, n_quarantined,
       CASE WHEN n_clean + n_quarantined > 0 THEN
         round(CAST(n_quarantined AS DOUBLE) / (n_clean + n_quarantined), 6)
       END AS reject_rate
FROM u ORDER BY table_name
"""


MAINTENANCE_QUERIES["m_quarantine_report"] = m_quarantine_report
# deliberately NOT guard-wrapped: the report reads raw tables — the
# reject side IS the result (the f_array_stats exception)
MAINTENANCE_ORACLES["m_quarantine_report"] = _sql_quarantine_report()
