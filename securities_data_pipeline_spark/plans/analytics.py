"""Statistical-analytics query surface: single-pass moment statistics
(corr / regression), time-interval RANGE windows, and array
higher-order-function vector statistics.

The reference computes no statistics beyond window forward-fill
(dw_transformer/macros/ffill_candles.sql:1-19), but its star schema
exists to be analyzed — correlation/beta of price series and rolling
interval aggregates are the first queries an analyst runs on
`fct_prices` (README.md:131-133's Metabase dashboard). These generalize
that surface onto the driver's tables.

Cross-engine float determinism: native `corr`/`covar`/`stddev`
aggregates are order-dependent double sums — never hash-stable across
engines. Every statistic here is instead derived from EXACT decimal
moment sums (n, Σx, Σy, Σx², Σy², Σxy) accumulated in one pass, with
the closed-form combination done in double at the very end with an
identical operation order in both engines.

Scale notes (100 TB):
- moment aggregation is a plain groupBy().agg() — partial (map-side)
  combine, ONE exchange of six numbers per group, and adding a new
  statistic costs zero extra passes;
- the interval RANGE window shuffles once on the series key (the key
  production data is clustered by) and sorts within partitions;
  frame peers are defined by event-time so the result is independent
  of intra-key row order;
- vector stats are narrow per-row projections (scan speed, no Python,
  no shuffle): fold order is fixed left-to-right in both engines
  (`F.aggregate` ↔ `list_aggregate`), so even float addition is
  bit-reproducible.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from securities_data_pipeline_spark.functions.gates import guard_events_sql
from securities_data_pipeline_spark.plans.relational import _dec2
from securities_data_pipeline_spark.sources.tables import materialize, table

# ---------------------------------------------------------------------------
# single-pass moment statistics


def a8_corr_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag correlation and least-squares regression of line
    quantity vs extended price, from one pass of exact decimal moments.

    corr = (nΣxy − ΣxΣy) / √(nΣx²−(Σx)²) / √(nΣy²−(Σy)²)
    slope = (nΣxy − ΣxΣy) / (nΣx²−(Σx)²); intercept = (Σy − slope·Σx)/n

    The near-cancelling differences (nΣxy−ΣxΣy etc.) are computed in
    EXACT arithmetic — values are quantized to integer cents, moments
    summed as decimal(38,0) (↔ HUGEINT in the oracle), and the
    cancellation done before any double conversion. Only the small
    cancelled differences are cast to double (identical exact integer →
    identical IEEE double in both engines), so the closed-form
    combination is bit-identical even when corr ≈ 0 — the regime where
    a 1-ulp decimal→double gap before subtraction would be amplified
    unboundedly. Correlation is scale-invariant, and beta's cent²
    factors cancel, so cent units change nothing; the intercept divides
    the cents out at the end in the same order as the oracle.

    Magnitude bound: at 6e11 rows (≈ sf100), nΣ(x·y in cents²) < 1e35
    — inside both decimal(38,0) and int128.
    """
    li = table(spark, sf_dir, "lineitem")
    xc = (_dec2("l_quantity") * 100).cast("decimal(38,0)")
    yc = (_dec2("l_extendedprice") * 100).cast("decimal(38,0)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xc).alias("sx"),
        F.sum(yc).alias("sy"),
        F.sum(xc * xc).alias("sxx"),
        F.sum(yc * yc).alias("syy"),
        F.sum(xc * yc).alias("sxy"),
    )
    n = F.col("n").cast("decimal(38,0)")
    sx, sy = F.col("sx"), F.col("sy")
    cov_n = (n * F.col("sxy") - sx * sy).cast("double")
    var_x_n = (n * F.col("sxx") - sx * sx).cast("double")
    var_y_n = (n * F.col("syy") - sy * sy).cast("double")
    nd = F.col("n").cast("double")
    # zero variance (a constant column within a group — e.g. a group
    # with one row) makes corr/beta statistically undefined: emit NULL,
    # which is also what SQL corr() returns. Ungated, Spark's ANSI
    # division aborts the whole query on the degenerate group while
    # DuckDB emits inf/nan (found by tools/fuzz_relational.py).
    # Single select on purpose: a chained select (materialize cov_n/
    # var_x_n, then guard) is NOT collapsed by Catalyst's CollapseProject
    # (the aliases are non-cheap and multiply-referenced), leaving an
    # extra Project/codegen stage that a same-session A/B (tools/ab_a8.py
    # as of commit 3b043bb, BASELINE.md r7 note) measured at ~1.2x per
    # run; the identical guards in one select measure ~1.05x ≈ noise.
    defined_x = var_x_n > 0
    defined_y = var_y_n > 0
    return m.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.when(
            defined_x & defined_y,
            F.round(cov_n / F.sqrt(var_x_n) / F.sqrt(var_y_n), 6),
        ).alias("corr_qty_price"),
        F.when(defined_x, F.round(cov_n / var_x_n, 6)).alias("beta"),
        F.when(
            defined_x,
            F.round(
                (sy.cast("double") - cov_n / var_x_n * sx.cast("double"))
                / nd
                / F.lit(100.0),
                6,
            ),
        ).alias("intercept"),
    )


A8_SQL = """
WITH m AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS sx,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS sy,
         SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS HUGEINT)
             * CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS sxx,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT)
             * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS syy,
         SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS HUGEINT)
             * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS sxy
  FROM lineitem GROUP BY l_returnflag
), c AS (
  SELECT l_returnflag, n,
         CAST(n * sxy - sx * sy AS DOUBLE) AS cov_n,
         CAST(n * sxx - sx * sx AS DOUBLE) AS var_x_n,
         CAST(n * syy - sy * sy AS DOUBLE) AS var_y_n,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
  FROM m
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n,
       CASE WHEN var_x_n > 0 AND var_y_n > 0
            THEN round(cov_n / sqrt(var_x_n) / sqrt(var_y_n), 6) END AS corr_qty_price,
       CASE WHEN var_x_n > 0 THEN round(cov_n / var_x_n, 6) END AS beta,
       CASE WHEN var_x_n > 0 THEN
         round((syd - cov_n / var_x_n * sxd) / CAST(n AS DOUBLE) / 100.0, 6)
       END AS intercept
FROM c
"""


# ---------------------------------------------------------------------------
# time-interval RANGE window

_WEEK_US = 7 * 24 * 3600 * 1_000_000  # range frame bound in event-time µs


def w7_interval_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-7-day rolling sum/count — a RANGE window whose
    frame is defined by event time (µs), not row position, so duplicate
    timestamps are frame peers and the result is order-independent.

    The rolling sum accumulates exact decimals inside the frame. One
    shuffle on user_id; at 100 TB the partition key is the natural
    series key the lake is clustered by.

    Reads through the ``event_ok`` gate (functions/gates.py): one
    1e308/±inf value aborts the whole query at the DECIMAL(18,6) cast
    under ANSI (fuzz-found), and a NULL event time has no place on the
    RANGE axis.
    """
    from securities_data_pipeline_spark.functions.gates import events_gated

    ev = events_gated(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-_WEEK_US, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias("roll_sum_7d"),
        F.count(F.lit(1)).over(w).cast("long").alias("roll_n_7d"),
    )


W7_SQL = f"""
SELECT user_id, event_id,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS roll_sum_7d,
       CAST(COUNT(*) OVER w AS BIGINT) AS roll_n_7d
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN {_WEEK_US} PRECEDING AND CURRENT ROW)
"""


def w8_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence detection without the CEP
    engine: find every purchase whose user's two IMMEDIATELY preceding
    events (by ts, tie-broken on event_id) were both views — the
    "browse-browse-buy" motif funnel analyses count. Lag chains over
    one per-user window express strict-contiguity patterns exactly;
    longer motifs add lags, not shuffles.

    One shuffle on user_id (the stream's natural clustering key); the
    pattern test is a row-local predicate after the sort — at 100 TB
    this is the same single sorted pass any sessionization makes.

    Reads through the ``event_ok`` gate (functions/gates.py): the lag
    chain is ts-ordered, and NULL event times sort on opposite ends of
    the partition per engine — same hazard class as w1/w5, gated for
    the whole time-ordered family.
    """
    from securities_data_pipeline_spark.functions.gates import events_gated

    ev = events_gated(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        ev.select(
            "user_id",
            "event_id",
            "ts",
            "event_type",
            F.lag("event_type", 1).over(w).alias("_p1"),
            F.lag("event_type", 2).over(w).alias("_p2"),
        )
        .where(
            (F.col("event_type") == "purchase")
            & (F.col("_p1") == "view")
            & (F.col("_p2") == "view")
        )
        .select("user_id", F.col("event_id").alias("purchase_event_id"), "ts")
    )


W8_PATTERN_SQL = """
WITH seq AS (
  SELECT user_id, event_id, ts, event_type,
         LAG(event_type, 1) OVER w AS p1,
         LAG(event_type, 2) OVER w AS p2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
)
SELECT user_id, event_id AS purchase_event_id, ts
FROM seq
WHERE event_type = 'purchase' AND p1 = 'view' AND p2 = 'view'
"""


# ---------------------------------------------------------------------------
# array higher-order-function vector statistics


def f_array_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector statistics over the embedding column via higher-order
    functions only — dimensionality, L2 norm, max |x|, positive count.

    Pure narrow projection: no shuffle, no Python, whole-stage codegen.
    The L2 fold is left-to-right in both engines (`F.aggregate` ↔
    `list_aggregate('sum')`), so the float accumulation is
    bit-reproducible.
    """
    emb = table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    sumsq = F.aggregate(
        v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    return emb.select(
        "vec_id",
        F.size(v).alias("dim"),
        # empty array: DuckDB's list_aggregate(sum) of [] is NULL while
        # the F.aggregate fold returns its 0.0 init — emit NULL on both
        # (fuzz-found, tools/fuzz_embeddings.py; SQL-standard "no
        # elements, no sum" semantics)
        F.when(F.size(v) > 0, F.round(F.sqrt(sumsq), 6)).alias("l2_norm"),
        F.round(F.array_max(F.transform(v, lambda x: F.abs(x.cast("double")))), 6).alias(
            "max_abs"
        ),
        F.size(F.filter(v, lambda x: x > F.lit(0.0))).alias("n_pos"),
    )


F_ARRAY_STATS_SQL = """
SELECT vec_id,
       len(embedding) AS dim,
       round(sqrt(list_aggregate(
           list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
           'sum')), 6) AS l2_norm,
       round(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 6) AS max_abs,
       len(list_filter(embedding, x -> x > 0.0)) AS n_pos
FROM embeddings
"""


ANALYTICS_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "a8_corr_moments": a8_corr_moments,
    "w7_interval_range": w7_interval_range,
    "f_array_stats": f_array_stats,
    "w8_pattern_match": w8_pattern_match,
}

ANALYTICS_ORACLES: dict[str, str] = {
    "a8_corr_moments": A8_SQL,
    "w7_interval_range": guard_events_sql(W7_SQL),
    "f_array_stats": F_ARRAY_STATS_SQL,
    "w8_pattern_match": guard_events_sql(W8_PATTERN_SQL),
}


def a_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit: k-anonymity of users' behavioral signatures.

    A user's quasi-identifier here is their GENERALIZED per-event-type
    count vector — counts bucketed to powers of two, the
    generalization step every k-anonymization pipeline applies to
    numeric quasi-identifiers (raw counts are near-unique by
    construction: at sf0.01 every one of the 400 users is k=1 on raw
    counts, which is Narayanan & Shmatikov's de-anonymization result
    in miniature). Users sharing a generalized signature form an
    anonymity set of size k; k=1 users remain re-identifiable even
    after generalization. Output: one row per k with the number of
    anonymity sets and users at that k — the histogram a 100 TB event
    store audits before releasing "anonymized" data.

    Plan: two hash aggregations (user×type counts → per-user
    signature → signature groups) + one tiny k histogram — shuffles
    carry (user_id, type, count) then (signature-hash) rows, never
    events. Reads through ``event_ok``: a NULL-time record is not
    attributable behavior and the engines disagree on its sort.
    """
    from securities_data_pipeline_spark.functions.gates import events_gated

    ev = events_gated(spark, sf_dir)
    # NULL event types group as an explicit sentinel: Spark's
    # concat_ws SKIPS null args while SQL || PROPAGATES them, so an
    # un-coalesced NULL type silently merges distinct signatures on
    # one engine only (fuzz-found)
    etype = F.coalesce(F.col("event_type"), F.lit("(null)"))
    per_type = ev.groupBy("user_id", etype.alias("event_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # generalize: count -> 2^floor(log2(count)) bucket label
    bucket = F.pow(F.lit(2.0), F.floor(F.log2("n"))).cast("long")
    sig = per_type.groupBy("user_id").agg(
        F.concat_ws(
            "|",
            F.sort_array(
                F.collect_list(
                    F.concat_ws(":", "event_type", bucket.cast("string"))
                )
            ),
        ).alias("signature")
    )
    sets_ = sig.groupBy("signature").agg(F.count(F.lit(1)).alias("k"))
    return (
        sets_.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_sets"),
            F.sum("k").cast("long").alias("n_users"),
        )
        .orderBy("k")
    )


A_K_ANONYMITY_SQL = """
WITH per_type AS (
  SELECT user_id, COALESCE(event_type, '(null)') AS event_type,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
), sig AS (
  SELECT user_id,
         list_aggregate(
           list_sort(list(event_type || ':' ||
             CAST(CAST(pow(2.0, floor(log2(n))) AS BIGINT) AS VARCHAR))),
           'string_agg', '|') AS signature
  FROM per_type GROUP BY user_id
), sets_ AS (
  SELECT signature, COUNT(*) AS k FROM sig GROUP BY signature
)
SELECT k, COUNT(*) AS n_sets, CAST(SUM(k) AS BIGINT) AS n_users
FROM sets_ GROUP BY k ORDER BY k
"""

ANALYTICS_QUERIES["a_k_anonymity"] = a_k_anonymity
ANALYTICS_ORACLES["a_k_anonymity"] = guard_events_sql(A_K_ANONYMITY_SQL)


def a_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit, stage 2: l-diversity of the anonymity sets
    ``a_k_anonymity`` builds. k-anonymity alone fails the homogeneity
    attack — an anonymity set whose members all share one sensitive
    value re-identifies the attribute without re-identifying the user
    (Machanavajjhala et al.'s motivating case). Here the sensitive
    attribute is each user's DOMINANT event type (their primary
    behavior), and each generalized-signature set reports l = number
    of distinct dominant behaviors among its members. Output: one row
    per l with the number of sets and users — l=1 rows are the
    homogeneous sets a release audit must treat as disclosed.

    Plan: the same two hash aggregations as the k-anonymity audit —
    the dominant behavior folds into the per-user aggregate as a
    max over '<zero-padded count>:<type>' strings (one deterministic
    expression both engines order identically: count first, type as
    the tiebreak — no second window or self-join), then one
    signature-group aggregate + the tiny l histogram. Shuffles carry
    (user_id, type, count) then signature rows, never events.
    """
    from securities_data_pipeline_spark.functions.gates import events_gated

    ev = events_gated(spark, sf_dir)
    # NULL-type sentinel: same fuzz-found concat_ws/|| divergence as
    # a_k_anonymity
    etype = F.coalesce(F.col("event_type"), F.lit("(null)"))
    per_type = ev.groupBy("user_id", etype.alias("event_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    bucket = F.pow(F.lit(2.0), F.floor(F.log2("n"))).cast("long")
    sig = per_type.groupBy("user_id").agg(
        F.concat_ws(
            "|",
            F.sort_array(
                F.collect_list(
                    F.concat_ws(":", "event_type", bucket.cast("string"))
                )
            ),
        ).alias("signature"),
        F.expr(
            "substring(max(concat(lpad(cast(n as string), 10, '0'), ':', event_type)), 12)"
        ).alias("sensitive"),
    )
    sets_ = sig.groupBy("signature").agg(
        F.countDistinct("sensitive").alias("l"),
        F.count(F.lit(1)).alias("k"),
    )
    return (
        sets_.groupBy("l")
        .agg(
            F.count(F.lit(1)).alias("n_sets"),
            F.sum("k").cast("long").alias("n_users"),
        )
        .orderBy("l")
    )


A_L_DIVERSITY_SQL = """
WITH per_type AS (
  SELECT user_id, COALESCE(event_type, '(null)') AS event_type,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
), sig AS (
  SELECT user_id,
         list_aggregate(
           list_sort(list(event_type || ':' ||
             CAST(CAST(pow(2.0, floor(log2(n))) AS BIGINT) AS VARCHAR))),
           'string_agg', '|') AS signature,
         substring(MAX(lpad(CAST(n AS VARCHAR), 10, '0') || ':' || event_type), 12)
           AS sensitive
  FROM per_type GROUP BY user_id
), sets_ AS (
  SELECT signature,
         COUNT(DISTINCT sensitive) AS l,
         COUNT(*) AS k
  FROM sig GROUP BY signature
)
SELECT l, COUNT(*) AS n_sets, CAST(SUM(k) AS BIGINT) AS n_users
FROM sets_ GROUP BY l ORDER BY l
"""

ANALYTICS_QUERIES["a_l_diversity"] = a_l_diversity
ANALYTICS_ORACLES["a_l_diversity"] = guard_events_sql(A_L_DIVERSITY_SQL)


def w9_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user — the canonical
    gaps-and-islands shape (engagement/retention's "streak" metric,
    and the window idiom every warehouse interview asks for): distinct
    active days per user, island key = epoch_day − row_number (constant
    within a consecutive run), one aggregate per island, then the
    per-user argmax with a deterministic tie-break (longest streak,
    earliest start).

    Plan: ONE shuffle on user_id feeds both the distinct and the
    row_number window (same partitioning), islands aggregate
    map-side-combined on (user_id, anchor), and the final argmax is a
    second tiny window over island rows (≤ active-days rows, never
    events). The island key is integer arithmetic (epoch-day − rn) —
    identical on both engines, no interval-type semantics involved.
    Reads through ``event_ok``: a NULL event time is not attributable
    activity.
    """
    from securities_data_pipeline_spark.functions.gates import events_gated

    ev = events_gated(spark, sf_dir)
    days = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    epoch_day = F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
    islands = days.withColumn(
        "anchor", epoch_day - F.row_number().over(w)
    )
    streaks = islands.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).cast("long").alias("streak_len"),
        F.min("day").alias("start_day"),
        F.max("day").alias("end_day"),
    )
    pick = Window.partitionBy("user_id").orderBy(
        F.col("streak_len").desc(), F.col("start_day").asc()
    )
    return (
        streaks.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select("user_id", "streak_len", "start_day", "end_day")
        .orderBy("user_id")
    )


W9_STREAKS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), islands AS (
  SELECT user_id, day,
         datediff('day', DATE '1970-01-01', day)
           - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS anchor
  FROM days
), streaks AS (
  SELECT user_id, anchor,
         CAST(COUNT(*) AS BIGINT) AS streak_len,
         MIN(day) AS start_day,
         MAX(day) AS end_day
  FROM islands GROUP BY user_id, anchor
), picked AS (
  SELECT user_id, streak_len, start_day, end_day,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY streak_len DESC, start_day ASC) AS rn
  FROM streaks
)
SELECT user_id, streak_len, start_day, end_day
FROM picked WHERE rn = 1 ORDER BY user_id
"""

ANALYTICS_QUERIES["w9_user_streaks"] = w9_user_streaks
ANALYTICS_ORACLES["w9_user_streaks"] = guard_events_sql(W9_STREAKS_SQL)


def a_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit, stage 3 — t-closeness of the anonymity sets the
    k-anonymity audit builds (Li, Li & Venkatasubramanian, ICDE'07):
    l-diversity still leaks when a set's sensitive values are diverse
    but SKEWED relative to the corpus (the skewness attack — a set
    where 'error' is the dominant behavior of 90% of members discloses
    plenty even at l>1). A release has t-closeness when every
    equivalence class's sensitive-attribute distribution is within
    distance t of the GLOBAL distribution; for the categorical
    attribute here (each user's dominant event type, exactly as in
    ``a_l_diversity``) the distance is total variation:
    TV(c) = ½ Σ_v |P_c(v) − P_global(v)|.

    Cross-engine float discipline: the per-value term is computed as
    an EXACT integer-family quantity first —
    |cnt_cv·N − g_v·k_c| in DECIMAL(38,0) (cnt/g/k/N are counts; the
    products reach users² ≈ 10^18 at corpus scale, past int64 once
    multiplied) — summed exactly per class, and only the FINAL
    ``num / (2·k·N)`` touches doubles, so Spark and DuckDB round the
    single division identically regardless of their sum orders.

    Plan: the k-anonymity signature aggregation (two hash aggs over
    (user, type) then user rows), then one (signature, sensitive)
    count — ``materialize``'d because it feeds the global
    distribution, the per-class k, and the distance join — and the
    class×value grid built by cross-joining the per-class k table
    with the GLOBAL value distribution (O(event-type-cardinality)
    rows — genuinely tiny, a legitimate broadcast, unlike the
    O(nodes) degree table this round un-hinted). Output: the audit
    histogram over 0.05-wide t buckets with the exact max t per
    bucket — sets in high buckets fail the release threshold.
    """
    from securities_data_pipeline_spark.functions.gates import events_gated

    ev = events_gated(spark, sf_dir)
    etype = F.coalesce(F.col("event_type"), F.lit("(null)"))
    per_type = ev.groupBy("user_id", etype.alias("event_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    bucket = F.pow(F.lit(2.0), F.floor(F.log2("n"))).cast("long")
    sig = per_type.groupBy("user_id").agg(
        F.concat_ws(
            "|",
            F.sort_array(
                F.collect_list(
                    F.concat_ws(":", "event_type", bucket.cast("string"))
                )
            ),
        ).alias("signature"),
        F.expr(
            "substring(max(concat(lpad(cast(n as string), 10, '0'), ':', event_type)), 12)"
        ).alias("sensitive"),
    )
    return t_closeness_histogram(sig)


def t_closeness_histogram(sig: DataFrame) -> DataFrame:
    """The t-closeness audit tail shared by the batch op above and its
    streaming face (``streaming/ingest.py s_stream_t_closeness``):
    given one row per user ``(signature, sensitive)``, emit the
    0.05-bucket histogram of per-class total-variation distances. All
    arithmetic discipline (exact DECIMAL(38,0) integer terms, one
    final double division) documented on ``a_t_closeness``."""
    cls_val = (
        sig.groupBy("signature", "sensitive")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .transform(materialize)  # feeds glob, cls, and the grid
    )
    glob = cls_val.groupBy("sensitive").agg(
        F.sum("cnt").cast("long").alias("g")
    )
    tot = glob.agg(F.sum("g").cast("long").alias("n_total"))
    cls = cls_val.groupBy("signature").agg(
        F.sum("cnt").cast("long").alias("k")
    )
    grid = cls.crossJoin(F.broadcast(glob)).crossJoin(F.broadcast(tot))
    joined = grid.join(cls_val, ["signature", "sensitive"], "left").select(
        "signature",
        "k",
        "n_total",
        F.abs(
            F.coalesce(F.col("cnt"), F.lit(0))
            .cast("decimal(38,0)") * F.col("n_total")
            - F.col("g").cast("decimal(38,0)") * F.col("k")
        ).alias("term"),
    )
    tc = joined.groupBy("signature", "k", "n_total").agg(
        F.sum("term").alias("num")
    ).select(
        "k",
        (
            F.col("num").cast("double")
            / (F.lit(2.0) * F.col("k") * F.col("n_total"))
        ).alias("t"),
    )
    return (
        tc.groupBy(F.floor(F.col("t") * 20).cast("long").alias("t_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_sets"),
            F.sum("k").cast("long").alias("n_users"),
            F.round(F.max("t"), 6).alias("max_t"),
        )
        .orderBy("t_bucket")
    )


A_T_CLOSENESS_SQL = """
WITH per_type AS (
  SELECT user_id, COALESCE(event_type, '(null)') AS event_type,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
), sig AS (
  SELECT user_id,
         list_aggregate(
           list_sort(list(event_type || ':' ||
             CAST(CAST(pow(2.0, floor(log2(n))) AS BIGINT) AS VARCHAR))),
           'string_agg', '|') AS signature,
         substring(MAX(lpad(CAST(n AS VARCHAR), 10, '0') || ':' || event_type), 12)
           AS sensitive
  FROM per_type GROUP BY user_id
), cls_val AS (
  SELECT signature, sensitive, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM sig GROUP BY 1, 2
), gdist AS (
  SELECT sensitive, CAST(SUM(cnt) AS BIGINT) AS g FROM cls_val GROUP BY 1
), tot AS (
  SELECT CAST(SUM(g) AS BIGINT) AS n_total FROM gdist
), cls AS (
  SELECT signature, CAST(SUM(cnt) AS BIGINT) AS k FROM cls_val GROUP BY 1
), joined AS (
  SELECT c.signature, c.k, t.n_total,
         ABS(CAST(COALESCE(v.cnt, 0) AS DECIMAL(38,0)) * t.n_total
             - CAST(gl.g AS DECIMAL(38,0)) * c.k) AS term
  FROM cls c CROSS JOIN gdist gl CROSS JOIN tot t
  LEFT JOIN cls_val v
    ON v.signature = c.signature AND v.sensitive = gl.sensitive
), tc AS (
  SELECT k,
         CAST(SUM(term) AS DOUBLE) / (2.0 * k * n_total) AS t
  FROM joined GROUP BY signature, k, n_total
)
SELECT CAST(FLOOR(t * 20) AS BIGINT) AS t_bucket,
       COUNT(*) AS n_sets,
       CAST(SUM(k) AS BIGINT) AS n_users,
       ROUND(MAX(t), 6) AS max_t
FROM tc GROUP BY 1 ORDER BY 1
"""

ANALYTICS_QUERIES["a_t_closeness"] = a_t_closeness
ANALYTICS_ORACLES["a_t_closeness"] = guard_events_sql(A_T_CLOSENESS_SQL)


def a_k_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit, stage 4: k-map of a RELEASED sample against the
    population registry it was drawn from.

    k-anonymity (``a_k_anonymity``) measures re-identification risk
    WITHIN the released rows; k-map is the attacker-realistic variant:
    the adversary matches a released record's quasi-identifiers
    against the full POPULATION (here the ``customer`` registry), so a
    record's risk is its equivalence-class size in the population,
    which is never smaller — and the released sample is the customers
    who actually placed orders (a behavioral disclosure, not a random
    draw). QI = (nation, market segment, account-balance band of
    width 1000) — the banding is the generalization step, raw
    balances are near-unique. Output: one row per population class
    size k with the number of released QI classes and released
    records at that k; a released record in a k=1 class is uniquely
    re-identifiable by ANY adversary holding the registry.

    Plan: population and sample both collapse to QI-class aggregates
    (two hash aggregations shuffling (QI) rows, never the fact
    tables), the sample side is pre-shrunk by a semi join on custkey,
    and the class-level equi join + k histogram move only
    distinct-QI-combo row counts — every stage is linear in its input
    at 100 TB, and no per-record state survives the first aggregate.
    NULL QI parts map to explicit sentinels on BOTH engines (the
    ``a_k_anonymity`` concat_ws-vs-|| lesson).

    No reference counterpart (extension operator; completes the
    privacy family's audit ladder: k-anonymity → l-diversity →
    t-closeness → k-map).
    """
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    qi = [
        F.coalesce(F.col("c_nationkey").cast("string"), F.lit("(null)")),
        F.coalesce(F.col("c_mktsegment"), F.lit("(null)")),
        F.coalesce(
            F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("string"),
            F.lit("(null)"),
        ),
    ]
    pop = cust.select(F.concat_ws("|", *qi).alias("qi")).groupBy("qi").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    released = (
        cust.join(
            orders.select("o_custkey").where(F.col("o_custkey").isNotNull()),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_semi",
        )
        .select(F.concat_ws("|", *qi).alias("qi"))
        .groupBy("qi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rel"))
    )
    return (
        released.join(pop, "qi")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum("n_rel").cast("long").alias("n_released"),
        )
        .orderBy("k")
    )


A_K_MAP_SQL = """
WITH qi_of AS (
  SELECT c_custkey,
         COALESCE(CAST(c_nationkey AS VARCHAR), '(null)') || '|' ||
         COALESCE(c_mktsegment, '(null)') || '|' ||
         COALESCE(CAST(CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS VARCHAR),
                  '(null)') AS qi
  FROM customer
), pop AS (
  SELECT qi, CAST(COUNT(*) AS BIGINT) AS k FROM qi_of GROUP BY qi
), released AS (
  SELECT qi, CAST(COUNT(*) AS BIGINT) AS n_rel
  FROM qi_of
  WHERE c_custkey IN (SELECT o_custkey FROM orders
                      WHERE o_custkey IS NOT NULL)
  GROUP BY qi
)
SELECT p.k,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(r.n_rel) AS BIGINT) AS n_released
FROM released r JOIN pop p ON r.qi = p.qi
GROUP BY p.k ORDER BY p.k
"""

ANALYTICS_QUERIES["a_k_map"] = a_k_map
ANALYTICS_ORACLES["a_k_map"] = A_K_MAP_SQL


def w10_conversion_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort conversion report: per signup-month cohort, how many
    users signed up, how many ever purchased AFTER signing up, the
    conversion rate, and the EXACT median signup→first-purchase
    latency — the retention-dashboard statistic next to
    ``g_funnel_conversion``'s per-user lag rows and
    ``g_cohort_retention``'s activity matrix.

    The median is computed exactly with rank arithmetic, not an
    approximate or engine-specific percentile: per cohort, latencies
    rank by (latency, user_id), the middle one or two rows are
    selected by integer division on the partition count, and their
    mean is exact (integer seconds → x.0 / x.5 doubles) — identical on
    both engines, unlike percentile/quantile_cont interpolation whose
    definitions drift across SQL dialects. Latency itself is the
    microsecond-exact integer subtraction (``unix_micros`` ↔
    ``epoch_us``) ``g_funnel_conversion`` documents, floored to whole
    seconds with integer division.

    Plan: signups aggregate to one row per user BEFORE the purchase
    probe joins behind it (|users| × purchase rows, never event×event);
    both stages shuffle on user_id, the cohort aggregate and the
    median window ride a (cohort)-shuffle of per-USER rows — cohorts
    are month-sized, so the rank window partitions are
    users-per-month, a bounded per-reducer load at any corpus size.
    """
    from securities_data_pipeline_spark.functions.gates import events_gated

    ev = events_gated(spark, sf_dir)
    sign = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    pur = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    conv = (
        sign.join(
            pur,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("signup_ts")),
            "left",
        )
        .groupBy("user_id", "signup_ts")
        .agg(F.min("p_ts").alias("conv_ts"))
    )
    base = conv.select(
        "user_id",
        F.date_format("signup_ts", "yyyy-MM").alias("cohort"),
        F.expr(
            "(unix_micros(conv_ts) - unix_micros(signup_ts)) DIV 1000000"
        ).alias("lat_sec"),
    )
    tot = base.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("n_signups"),
        F.count("lat_sec").cast("long").alias("n_converted"),
    )
    wrank = Window.partitionBy("cohort").orderBy("lat_sec", "user_id")
    wall = Window.partitionBy("cohort")
    ranked = (
        base.where(F.col("lat_sec").isNotNull())
        .withColumn("rn", F.row_number().over(wrank))
        .withColumn("cnt", F.count(F.lit(1)).over(wall))
    )
    med = (
        ranked.where(
            (F.col("rn") >= F.expr("(cnt + 1) DIV 2"))
            & (F.col("rn") <= F.expr("cnt DIV 2 + 1"))
        )
        .groupBy("cohort")
        .agg(
            (
                F.sum("lat_sec").cast("double") / F.count(F.lit(1))
            ).alias("median_latency_sec")
        )
    )
    return (
        tot.join(med, "cohort", "left")
        .select(
            "cohort",
            "n_signups",
            "n_converted",
            F.round(
                F.col("n_converted").cast("double") / F.col("n_signups"), 6
            ).alias("conv_rate"),
            "median_latency_sec",
        )
        .orderBy("cohort")
    )


W10_CONVERSION_SQL = """
WITH sign AS (
  SELECT user_id, MIN(ts) AS signup_ts
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), conv AS (
  SELECT s.user_id, s.signup_ts, MIN(p.ts) AS conv_ts
  FROM sign s LEFT JOIN events p
    ON p.user_id = s.user_id AND p.event_type = 'purchase'
   AND p.ts >= s.signup_ts
  GROUP BY s.user_id, s.signup_ts
), base AS (
  SELECT user_id, strftime(signup_ts, '%Y-%m') AS cohort,
         (epoch_us(conv_ts) - epoch_us(signup_ts)) // 1000000 AS lat_sec
  FROM conv
), tot AS (
  SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_signups,
         CAST(COUNT(lat_sec) AS BIGINT) AS n_converted
  FROM base GROUP BY cohort
), ranked AS (
  SELECT cohort, lat_sec,
         ROW_NUMBER() OVER (PARTITION BY cohort
                            ORDER BY lat_sec, user_id) AS rn,
         COUNT(*) OVER (PARTITION BY cohort) AS cnt
  FROM base WHERE lat_sec IS NOT NULL
), med AS (
  SELECT cohort,
         CAST(SUM(lat_sec) AS DOUBLE) / COUNT(*) AS median_latency_sec
  FROM ranked
  WHERE rn >= (cnt + 1) // 2 AND rn <= cnt // 2 + 1
  GROUP BY cohort
)
SELECT t.cohort, t.n_signups, t.n_converted,
       round(CAST(t.n_converted AS DOUBLE) / t.n_signups, 6) AS conv_rate,
       m.median_latency_sec
FROM tot t LEFT JOIN med m USING (cohort) ORDER BY t.cohort
"""

ANALYTICS_QUERIES["w10_conversion_cohorts"] = w10_conversion_cohorts
ANALYTICS_ORACLES["w10_conversion_cohorts"] = guard_events_sql(W10_CONVERSION_SQL)


def a_markov_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's
    time-ordered event sequence: P(next = to | current = from) — the
    sequence-modeling view (journey analysis, next-event prediction
    baselines, anomaly scoring of improbable transitions) the bigram
    LM gives text and this gives the clickstream. Transitions never
    cross users; NULL types group as the ``(null)`` sentinel; ties on
    ts break by event_id so the sequence is deterministic.

    Plan: ONE shuffle on user_id for the lead() window (the natural
    clustering key), then a (from, to) hash aggregate of 2-string
    rows with map-side combine, and the row-probability normalizer is
    a window over the ≤|types|² aggregate — flat at any corpus size.
    The probability is one int/int double division, rounded 6 — exact
    and identical on both engines.

    Reads through ``event_ok``: NULL-time events have no place on a
    sequence axis.
    """
    from securities_data_pipeline_spark.functions.gates import events_gated

    ev = events_gated(spark, sf_dir)
    etype = F.coalesce(F.col("event_type"), F.lit("(null)"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        etype.alias("from_type"),
        F.lead(etype).over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    counts = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wrow = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(wrow).cast("double"),
            6,
        ).alias("p"),
    ).orderBy("from_type", "to_type")


A_MARKOV_SQL = """
WITH seq AS (
  SELECT COALESCE(event_type, '(null)') AS from_type,
         LEAD(COALESCE(event_type, '(null)')) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS to_type
  FROM events
), counts AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       round(CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
FROM counts ORDER BY from_type, to_type
"""

ANALYTICS_QUERIES["a_markov_transition"] = a_markov_transition
ANALYTICS_ORACLES["a_markov_transition"] = guard_events_sql(A_MARKOV_SQL)


#: session gap for the concurrency sweep — the w4 sessionization value
CONCURRENCY_GAP_MIN = 30


def w11_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the capacity-planning number
    (connection pools, rate limits, autoscaling floors) read off the
    session intervals with a SWEEP LINE: every session contributes a
    +1 boundary at its start and a −1 at its end, the running sum of
    deltas in boundary order is the instantaneous concurrency, and the
    per-day max is the peak. Sessions are the w4 gap rule (a >30-min
    silence starts a new session) and attribute to their START day.
    Interval semantics (ADVICE r9): sessions are HALF-OPEN with a
    minimum 1-microsecond width — the −1 boundary sits at
    ``greatest(end_ts, start_ts + 1µs)`` — so a single-event session
    (start == end) still registers as concurrency ≥1 instead of
    cancelling itself, while at a boundary tie the −1 sorts first
    (ts, delta, user_id) and touching sessions never double-count.

    Plan: one user_id shuffle builds sessions (lag + cumulative flag —
    the w4 shape), then ONE shuffle on the session's day partitions
    the sweep: the running-sum window is per-day, so no global
    single-partition ordering exists anywhere and per-reducer load is
    one day's boundaries at any corpus size.
    """
    from securities_data_pipeline_spark.functions.gates import events_gated

    ev = events_gated(spark, sf_dir)
    wuser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = CONCURRENCY_GAP_MIN * 60 * 1_000_000
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wuser))
            > gap_us,
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = (
        marked.withColumn("sess_id", F.sum("new_sess").over(wcum))
        .groupBy("user_id", "sess_id")
        .agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
    )
    bounds = sess.select(
        F.to_date("start_ts").alias("day"),
        F.col("start_ts").alias("bts"),
        F.lit(1).alias("delta"),
        "user_id",
    ).unionByName(
        sess.select(
            F.to_date("start_ts").alias("day"),
            F.greatest(
                F.col("end_ts"),
                F.timestamp_micros(F.unix_micros("start_ts") + 1),
            ).alias("bts"),
            F.lit(-1).alias("delta"),
            "user_id",
        )
    )
    wsweep = Window.partitionBy("day").orderBy(
        "bts", "delta", "user_id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    swept = bounds.withColumn("conc", F.sum("delta").over(wsweep))
    return (
        swept.groupBy("day")
        .agg(
            (F.count(F.lit(1)) / 2).cast("long").alias("n_sessions"),
            F.max("conc").cast("long").alias("peak_concurrent"),
        )
        .orderBy("day")
    )


W11_CONCURRENCY_SQL = f"""
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (
                PARTITION BY user_id ORDER BY ts, event_id))
              > {CONCURRENCY_GAP_MIN * 60 * 1_000_000} THEN 1 ELSE 0 END
           AS new_sess
  FROM events
), cum AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM marked
), sess AS (
  SELECT user_id, sess_id, MIN(ts) AS start_ts, MAX(ts) AS end_ts
  FROM cum GROUP BY user_id, sess_id
), bounds AS (
  SELECT CAST(start_ts AS DATE) AS day, start_ts AS bts, 1 AS delta, user_id
  FROM sess
  UNION ALL
  SELECT CAST(start_ts AS DATE) AS day,
         greatest(end_ts, start_ts + INTERVAL 1 MICROSECOND) AS bts,
         -1 AS delta, user_id
  FROM sess
), swept AS (
  SELECT day,
         SUM(delta) OVER (PARTITION BY day ORDER BY bts, delta, user_id
                          ROWS UNBOUNDED PRECEDING) AS conc
  FROM bounds
)
SELECT day,
       CAST(COUNT(*) / 2 AS BIGINT) AS n_sessions,
       CAST(MAX(conc) AS BIGINT) AS peak_concurrent
FROM swept GROUP BY day ORDER BY day
"""

ANALYTICS_QUERIES["w11_peak_concurrency"] = w11_peak_concurrency
ANALYTICS_ORACLES["w11_peak_concurrency"] = guard_events_sql(W11_CONCURRENCY_SQL)
