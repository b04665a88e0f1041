"""Grouped-map Pandas UDF surface (applyInPandas).

The reference's per-symbol imperative logic (SURVEY §2.10: "custom
per-symbol logic at scale uses applyInPandas keyed by symbol") has no
example in its own code — this module supplies the canonical one: a
per-key least-squares trend fit. Each key's rows arrive as one pandas
DataFrame on an executor (Arrow-batched); the output is one small row
per key.

The UDF computes the same population-covariance slope as SQL
``regr_slope``, so the Python path is oracle-checked against the
warehouse aggregate — the pattern to follow whenever custom Python
must stay verifiable.

Scale: applyInPandas shuffles once on the grouping key; per-group data
must fit one executor's memory (true for per-symbol/per-user series;
for pathological keys pre-aggregate or window instead).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from securities_data_pipeline_spark.functions.gates import guard_events_sql
from securities_data_pipeline_spark.sources.tables import table


def g_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user linear trend of event values over time, entirely
    JVM-side: ``regr_slope`` is a built-in declarative aggregate, so
    the plan is scan → partial agg → final agg (one shuffle, no
    Python). This is the headline-bench path; the grouped-map Pandas
    variant below (``g_user_trend_udf``) computes the same thing and
    exists to exercise §2.10 — built-ins beat per-group Python by ~10×
    when groups are small (100k events / ~25k users: per-group Arrow
    batch + Python call overhead dominates).

    Reads through the ``event_ok`` gate (functions/gates.py): one ±inf
    value drives the regression slope itself to ±inf, whose downstream
    sort position is engine-dependent, and NULL event times have no
    place on the regression's time axis (fuzz-found)."""
    from securities_data_pipeline_spark.functions.gates import events_gated

    ev = events_gated(spark, sf_dir)
    t = F.unix_micros("ts") / F.lit(1e6)
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.regr_slope(F.col("value"), t) * 86400.0, 6).alias("slope_per_day"),
    )


def g_user_trend_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user linear trend of event values over time (slope per
    day + mean), via grouped-map applyInPandas.

    Same ``event_ok`` gate as the JVM twin; inside the group the fit
    drops NULL-value rows from the regression pair set (but not from
    the row count) to match ``regr_slope``'s pair semantics — a NULL
    metric arrives in pandas as NaN and would otherwise poison the
    whole group's sums while the oracle silently skips it
    (fuzz-found)."""
    import pandas as pd

    from securities_data_pipeline_spark.functions.gates import events_gated

    ev = events_gated(spark, sf_dir).select(
        "user_id", (F.unix_micros("ts") / F.lit(1e6)).alias("t"), "value"
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pairs = pdf.dropna(subset=["value"])
        t, y = pairs["t"], pairs["value"]
        tm, ym = t.mean(), y.mean()
        var = ((t - tm) ** 2).sum()
        slope = ((t - tm) * (y - ym)).sum() / var if var > 0 else None
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_events": [len(pdf)],
                "slope_per_day": [round(slope * 86400.0, 6) if slope is not None else None],
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        fit, schema="user_id long, n_events long, slope_per_day double"
    )


G_USER_TREND_SQL = """
SELECT user_id,
       COUNT(*) AS n_events,
       round(regr_slope(value, epoch(ts)) * 86400.0, 6) AS slope_per_day
FROM events
GROUP BY user_id
"""


def g_weighted_mean_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas UDAF (GROUPED_AGG) surface: per-user weighted mean of
    event values, weights derived deterministically from event_id.
    The Series→scalar aggregates run Arrow-batched per group inside a
    regular ``groupBy().agg()`` (Spark disallows mixing GROUPED_AGG
    pandas UDFs with JVM aggregates in one agg, so the row count is a
    second pandas aggregate in the same pass). The JVM spelling of the
    same statistic is ``sum(v*w)/sum(w)``; the UDAF exists to exercise
    §2.10's custom-aggregate path verifiably."""
    import pandas as pd

    # values quantize to exact int64 cent-units BEFORE aggregation:
    # float sums are order-dependent (pandas pairwise vs sequential
    # summation flipped the 6th decimal on 2 of 1500 users at sf0.1),
    # int64 sums are exact in any order. Quantization goes through a
    # DECIMAL(18,2) cast (events.value carries exactly 2 dp), NOT
    # round(value*1e6): double round() resolves .5 ties differently in
    # Spark (HALF_UP on shortest decimal rendering) vs DuckDB (binary
    # double), while a 2-dp decimal cast of a 2-dp-generated double is
    # never a tie in either engine. The final quotient divides the
    # identical integers in the identical order in both engines —
    # bit-identical IEEE doubles, no rounding step needed.
    # event_ok gate (functions/gates.py): one 1e308/±inf/NaN value
    # aborts the DECIMAL(18,2) quantization under ANSI (fuzz-found)
    from securities_data_pipeline_spark.functions.gates import events_gated

    ev = events_gated(spark, sf_dir).select(
        "user_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("vm"),
        ((F.col("event_id") % 10) + 1).cast("long").alias("w"),
    )

    def _wsum(vm, w):
        return int((vm * w).sum())

    # `from __future__ import annotations` stringifies hints, which
    # pandas_udf can't infer the GROUPED_AGG eval type from — attach
    # real annotation objects instead
    _wsum.__annotations__ = {"vm": pd.Series, "w": pd.Series, "return": int}
    wsum = F.pandas_udf(_wsum, "long")

    def _lsum(w):
        return int(w.sum())

    _lsum.__annotations__ = {"w": pd.Series, "return": int}
    lsum = F.pandas_udf(_lsum, "long")

    def _n(v):
        return len(v)

    _n.__annotations__ = {"v": pd.Series, "return": int}
    n_agg = F.pandas_udf(_n, "long")

    return (
        ev.groupBy("user_id")
        .agg(
            n_agg("vm").alias("n_events"),
            wsum("vm", "w").alias("num"),
            lsum("w").alias("den"),
        )
        .select(
            "user_id",
            "n_events",
            (
                F.col("num").cast("double") / F.col("den").cast("double") / F.lit(100.0)
            ).alias("wmean_value"),
        )
    )


G_WMEAN_SQL = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(vm * w) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) / 100.0 AS wmean_value
FROM (
  SELECT user_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vm,
         (event_id % 10) + 1 AS w
  FROM events
)
GROUP BY user_id
"""


def udtf_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) surface: LATERAL-join each
    document to its (position, token) rows.

    Completes §2.10: UDF (scalar/grouped-map above), UDAF
    (``g_weighted_mean_udaf``), UDTF (this). Row-at-a-time Python is
    the COMPATIBILITY path — the JVM twin of this exact query is
    ``posexplode(split(...))`` and is what the hot path should use;
    the UDTF form exists for logic that genuinely needs imperative
    row generation (parsers, tokenizers with state)."""
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, token string")
    class TokenPositions:
        def eval(self, text: str):
            # mirror the oracle's regexp_split_to_array(trim(lower(text)),
            # '\s+') semantics EXACTLY: NULL text yields ZERO rows (the
            # SQL split of NULL is NULL and unnest(NULL) emits nothing —
            # a `text or ''` fallback would instead emit one
            # empty-token row); a blank/empty STRING yields ONE row
            # with the empty-string token (str.split() would yield
            # zero rows); trim()/TRIM strips ONLY spaces in both engines
            # (Python str.strip() also eats tabs/newlines/Unicode ws —
            # wrong); and \s must be the ASCII class (Java regex and RE2
            # are ASCII-\s, Python defaults to Unicode-\s, which would
            # split on NBSP where the engines don't).
            if text is None:
                return
            for i, tok in enumerate(
                re.split(r"\s+", text.lower().strip(" "), flags=re.ASCII)
            ):
                yield i, tok

    spark.udtf.register("token_positions", TokenPositions)
    table(spark, sf_dir, "documents").createOrReplaceTempView("_docs_udtf")
    return spark.sql(
        "SELECT doc_id, t.pos, t.token FROM _docs_udtf, LATERAL token_positions(text) t"
    )


def _sql_token_positions() -> str:
    from securities_data_pipeline_spark.operators.textops import _sql_words

    return f"""
SELECT doc_id,
       CAST(generate_subscripts(w, 1) - 1 AS INT) AS pos,
       unnest(w) AS token
FROM (SELECT doc_id, {_sql_words()} AS w FROM documents)
"""


TOPN_PER_GROUP = 3


def g_topn_per_group_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-``TOPN_PER_GROUP`` orders by totalprice per priority,
    computed WITHOUT sorting whole groups: a bounded per-partition
    pre-aggregate (each partition's local top-N per group, via an
    Arrow-batched pandas pass — ≤ N×groups rows survive per
    partition) feeds a window over the tiny candidate union. EXACT by
    the merge property — a group's global top-N rows are each in
    their own partition's local top-N — with no operating condition
    to check, unlike a frequency sketch.

    The contrast with ``w3_topn_per_group`` is the point: the window
    formulation sorts EVERY group member at one shuffle; this shape
    moves only candidates (N × groups × partitions rows — KBs at
    100 TB) and is the standard answer once groups stop fitting a
    sort buffer. The final window runs on the candidate set only.
    """
    import pandas as pd

    orders = table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )

    def local_topn(parts) -> "pd.DataFrame":
        for pdf in parts:
            yield (
                pdf.sort_values(
                    ["o_orderpriority", "o_totalprice", "o_orderkey"],
                    ascending=[True, False, True],
                )
                .groupby("o_orderpriority", sort=False)
                .head(TOPN_PER_GROUP)
            )

    cand = orders.mapInPandas(
        local_topn,
        schema="o_orderpriority string, o_orderkey long, o_totalprice double",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOPN_PER_GROUP)
        .select("o_orderpriority", "rank", "o_orderkey", "o_totalprice")
    )


G_TOPN_SQL = f"""
SELECT o_orderpriority, CAST(rn AS INTEGER) AS rank, o_orderkey, o_totalprice
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
)
WHERE rn <= {TOPN_PER_GROUP}
"""


GROUPED_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "g_user_trend": g_user_trend,
    "g_user_trend_udf": g_user_trend_udf,
    "g_weighted_mean_udaf": g_weighted_mean_udaf,
    "g_topn_per_group_scalable": g_topn_per_group_scalable,
    "udtf_token_positions": udtf_token_positions,
}

GROUPED_ORACLES: dict[str, str] = {
    "g_user_trend": guard_events_sql(G_USER_TREND_SQL),
    "g_user_trend_udf": guard_events_sql(G_USER_TREND_SQL),
    "g_weighted_mean_udaf": guard_events_sql(G_WMEAN_SQL),
    "g_topn_per_group_scalable": G_TOPN_SQL,
    "udtf_token_positions": _sql_token_positions(),
}
