"""As-of and range joins — time-series operators Spark lacks natively.

The reference's star schema serves daily-bar time series; as-of joins
("latest quote at or before t") and band/range joins are the canonical
query patterns over such data.

**As-of join, the scale path.** The naive plan — inequality join then
argmax per left row — explodes to O(|L|·matches) intermediate rows. The
implementation here is the classic union-sort-fill:

1. tag left rows (probe) and right rows (reference) and union them on
   a shared (key, time) spine;
2. one window pass partitioned by key, ordered by (time, side) with
   right-before-left at equal times (backward-inclusive semantics);
   ``F.last(payload, ignorenulls=True)`` carries the latest right
   payload forward;
3. keep left rows.

Cost: ONE shuffle on the join key, zero row explosion — at 100 TB this
is a single sort-merge pass, the same asymptotics kdb/QuestDB use for
``aj``. Payload travels as one struct so every matched column comes
from the *same* right row (no column tearing), with a deterministic
tie-break on the ordering columns.

**Range join** joins a fact to a small bands table on interval
containment — broadcast nested-loop by design (the bands side is tiny;
never shuffle the fact).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from securities_data_pipeline_spark.functions.gates import guard_events_sql
from securities_data_pipeline_spark.sources.tables import local_rows, table


def _asof_union_fill(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    payload_cols: list[str],
    tiebreak: str | None,
    *,
    forward: bool,
) -> DataFrame:
    """Shared union-sort-fill core for both as-of directions. The
    direction decides three things only: which side sorts first at
    equal times (the side that must be VISIBLE to the other at a tie —
    right for backward-inclusive, left for forward-inclusive), the
    window frame (trailing vs leading), and the payload picker
    (``last`` = greatest right row behind, ``first`` = smallest right
    row ahead; with ``__tb`` ascending that also gives
    greatest-tiebreak backward / smallest-tiebreak forward)."""
    clash = set(payload_cols) & set(left.columns)
    if clash:
        raise ValueError(
            f"payload_cols collide with left columns {sorted(clash)}; "
            "rename one side before the as-of join"
        )
    right_side, left_side = (1, 0) if forward else (0, 1)
    payload = F.struct(*[F.col(c) for c in payload_cols]).alias("__p")
    # a NULL right_time satisfies neither `<=` nor `>=` in SQL
    # three-valued logic — drop those rows or the NULLS FIRST window
    # sort would hand their payload to every row in the frame
    r = right.where(F.col(right_time).isNotNull()).select(
        F.col(on).alias("__k"),
        F.col(right_time).alias("__t"),
        F.lit(right_side).alias("__side"),
        (F.col(tiebreak) if tiebreak else F.lit(0)).alias("__tb"),
        payload,
        *[F.lit(None).alias(f"__l_{c}") for c in left.columns],
    )
    l = left.select(
        F.col(on).alias("__k"),
        F.col(left_time).alias("__t"),
        F.lit(left_side).alias("__side"),
        F.lit(None).alias("__tb"),
        F.lit(None).cast(r.schema["__p"].dataType).alias("__p"),
        *[F.col(c).alias(f"__l_{c}") for c in left.columns],
    )
    frame = (0, Window.unboundedFollowing) if forward else (Window.unboundedPreceding, 0)
    pick = F.first if forward else F.last
    w = Window.partitionBy("__k").orderBy("__t", "__side", "__tb").rowsBetween(*frame)
    filled = r.unionByName(l).withColumn(
        "__match", pick("__p", ignorenulls=True).over(w)
    )
    # a NULL left_time matches nothing either (its frame position under
    # NULLS FIRST is meaningless) — such rows keep null payloads
    matched = F.when(F.col("__t").isNotNull(), F.col("__match"))
    return filled.where(F.col("__side") == left_side).select(
        *[F.col(f"__l_{c}").alias(c) for c in left.columns],
        *[matched[c].alias(c) for c in payload_cols],
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    payload_cols: list[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """Backward-inclusive as-of join: for each left row, the right row
    with the greatest ``right_time <= left_time`` per ``on`` key
    (ties broken by greatest ``tiebreak``). Unmatched → nulls.

    ``payload_cols`` must not collide with left column names — the
    output carries both sides under their own names, and a silent
    duplicate would poison every later by-name reference
    (AMBIGUOUS_REFERENCE on select, failure on write).
    """
    return _asof_union_fill(
        left, right, on, left_time, right_time, payload_cols, tiebreak,
        forward=False,
    )


def j_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every event: the user's most recent order at-or-before the
    event time (left as-of; users with no orders keep nulls)."""
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    return asof_join(
        ev.withColumnRenamed("user_id", "k"),
        orders.withColumnRenamed("o_custkey", "k"),
        on="k",
        left_time="ts",
        right_time="o_orderdate",
        payload_cols=["o_orderkey", "o_orderdate"],
        tiebreak="o_orderkey",
    ).select(
        "event_id", F.col("k").alias("user_id"), "ts", "o_orderkey", "o_orderdate"
    )


J_ASOF_SQL = """
WITH cand AS (
  SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
         ROW_NUMBER() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
  FROM events e
  LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
)
SELECT event_id, user_id, ts, o_orderkey, o_orderdate FROM cand WHERE rn = 1
"""


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    payload_cols: list[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """Forward-inclusive as-of join: for each left row, the right row
    with the SMALLEST ``right_time >= left_time`` per ``on`` key (ties
    broken by smallest ``tiebreak``) — the "next action after t"
    mirror of ``asof_join``. Same union-sort-fill plan (one shuffle on
    the key, zero row explosion): left rows sort BEFORE right rows at
    equal times so an equal-time right row is inside the left row's
    forward window (inclusive semantics), and ``F.first(payload,
    ignorenulls=True)`` over current-row→unbounded-following picks the
    earliest right payload."""
    return _asof_union_fill(
        left, right, on, left_time, right_time, payload_cols, tiebreak,
        forward=True,
    )


def j_asof_next_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every event: the user's FIRST order at-or-after the event
    time (forward as-of — conversion/next-action attribution; events
    with no later order keep nulls)."""
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    return asof_join_forward(
        ev.withColumnRenamed("user_id", "k"),
        orders.withColumnRenamed("o_custkey", "k"),
        on="k",
        left_time="ts",
        right_time="o_orderdate",
        payload_cols=["o_orderkey", "o_orderdate"],
        tiebreak="o_orderkey",
    ).select(
        "event_id", F.col("k").alias("user_id"), "ts", "o_orderkey", "o_orderdate"
    )


J_ASOF_FWD_SQL = """
WITH cand AS (
  SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
         ROW_NUMBER() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate ASC, o.o_orderkey ASC) AS rn
  FROM events e
  LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate >= e.ts
)
SELECT event_id, user_id, ts, o_orderkey, o_orderdate FROM cand WHERE rn = 1
"""


def asof_join_tolerance(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    payload_cols: list[str],
    tolerance: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """Backward as-of join with a staleness bound — pandas
    ``merge_asof(..., tolerance=...)`` parity: a match older than
    ``tolerance`` (a Spark interval literal body, e.g. ``'30 DAYS'``)
    is discarded exactly like no match (payload nulls).

    Same single-shuffle union-sort-fill plan as ``asof_join``; the
    bound is a ROW-LEVEL post-projection on the carried match time
    (the matched right row is by construction the greatest
    ``right_time <= left_time``, so if IT is out of tolerance every
    earlier one is too) — zero extra shuffles, zero row explosion.
    """
    cols = payload_cols if right_time in payload_cols else [right_time, *payload_cols]
    joined = _asof_union_fill(
        left, right, on, left_time, right_time, cols, tiebreak, forward=False
    )
    within = F.col(right_time) >= F.col(left_time) - F.expr(f"INTERVAL {tolerance}")
    out = joined.select(
        *left.columns,
        *[F.when(within, F.col(c)).alias(c) for c in payload_cols],
    )
    return out


def j_asof_tolerance_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every non-purchase event: the same user's most recent
    purchase at-or-before it, but only if at most 1 day old — stale
    matches null out (the merge_asof-tolerance semantics attribution /
    feature-staleness jobs rely on). Both sides are the fact-scale
    event stream, so this is the big⋈big as-of case: one union-sort
    shuffle on user_id, tolerance as a row-level post-projection."""
    ev = table(spark, sf_dir, "events")
    probe = ev.where(F.col("event_type") != "purchase").select(
        "event_id", F.col("user_id").alias("k"), "ts"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("k"),
        F.col("event_id").alias("p_event_id"),
        F.col("ts").alias("p_ts"),
    )
    return asof_join_tolerance(
        probe,
        purchases,
        on="k",
        left_time="ts",
        right_time="p_ts",
        payload_cols=["p_event_id", "p_ts"],
        tolerance="1 DAY",
        tiebreak="p_event_id",
    ).select("event_id", F.col("k").alias("user_id"), "ts", "p_event_id", "p_ts")


J_ASOF_TOL_SQL = """
WITH cand AS (
  SELECT e.event_id, e.user_id, e.ts, p.event_id AS p_event_id, p.ts AS p_ts,
         ROW_NUMBER() OVER (PARTITION BY e.event_id
                            ORDER BY p.ts DESC, p.event_id DESC) AS rn
  FROM events e
  LEFT JOIN events p ON p.user_id = e.user_id
       AND p.event_type = 'purchase'
       AND p.ts <= e.ts
       AND p.ts >= e.ts - INTERVAL 1 DAY
  WHERE e.event_type <> 'purchase'
)
SELECT event_id, user_id, ts, p_event_id, p_ts FROM cand WHERE rn = 1
"""


VALUE_BANDS = [(0.0, 20.0, "low"), (20.0, 60.0, "mid"), (60.0, 1e9, "high")]


def j_range_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: events against a tiny value-band interval table —
    broadcast nested loop on the bands side (never shuffles the fact),
    then a per-band rollup."""
    ev = table(spark, sf_dir, "events")
    bands = local_rows(spark, VALUE_BANDS, "lo double, hi double, band string")
    return (
        ev.join(F.broadcast(bands), (ev.value >= bands.lo) & (ev.value < bands.hi))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
    )


J_RANGE_SQL = f"""
WITH bands(lo, hi, band) AS (
  VALUES {', '.join(f"({lo}, {hi}, '{b}')" for lo, hi, b in VALUE_BANDS)}
)
SELECT band, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events JOIN bands ON value >= lo AND value < hi
GROUP BY band
"""


def w4_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute inactivity gap) per user over the
    event stream — Spark's ``session_window`` in batch mode. The
    oracle spells out the same islands logic with lag + running sum.

    Reads through the ``event_ok`` gate (functions/gates.py): a NULL
    event time belongs to no session — ``session_window`` silently
    drops it while the oracle's lag/sum islands count it, shifting
    every later session boundary (fuzz-found)."""
    from securities_data_pipeline_spark.functions.gates import events_gated

    ev = events_gated(spark, sf_dir)
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


W4_SESSION_SQL = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, session_id
"""


_WEEK_US = 7 * 24 * 3600 * 1_000_000


def j_range_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big⋈big interval join via time-bin bucketing: each purchase
    event opens a 7-day attribution window; count the same user's
    OTHER events falling inside it.

    `j_range_band` broadcasts its interval table — correct only while
    one side stays small. Here BOTH sides are the fact-scale event
    stream, so the engine must turn the inequality into an equi-join:
    bucket event time into fixed bins the width of the interval (each
    interval then overlaps ≤ 2 bins), explode each interval to its
    covered bins, equi-join on (key, bin) — a plain shuffled
    hash/sort-merge join, uniformly distributed, no broadcast, no
    nested loop — and re-check the exact range as a residual filter.
    Bin width is the tuning dial: it bounds duplication at
    ceil(interval/bin)+1 exploded rows per interval while keeping each
    bucket's collision set small.
    """
    ev = table(spark, sf_dir, "events")
    probe = ev.where(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("p_user"),
        F.unix_micros(F.col("ts")).alias("p_us"),
        F.expr(f"unix_micros(ts) div {_WEEK_US}").alias("bin"),
    )
    windows = ev.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("s_us"),
        (F.unix_micros(F.col("ts")) + F.lit(_WEEK_US)).alias("e_us"),
    )
    exploded = windows.select(
        "event_id",
        "user_id",
        "s_us",
        "e_us",
        F.explode(
            F.sequence(
                F.expr(f"s_us div {_WEEK_US}"), F.expr(f"(e_us - 1) div {_WEEK_US}")
            )
        ).alias("bin"),
    )
    return (
        exploded.join(
            probe,
            (exploded.user_id == probe.p_user)
            & (exploded.bin == probe.bin)
            & (probe.p_us >= exploded.s_us)
            & (probe.p_us < exploded.e_us),
        )
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )


J_RANGE_BIN_SQL = """
SELECT p.event_id, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events p JOIN events e
  ON e.user_id = p.user_id
 AND e.ts >= p.ts
 AND e.ts < p.ts + INTERVAL 7 DAY
WHERE p.event_type = 'purchase' AND e.event_type <> 'purchase'
GROUP BY p.event_id
"""


ASOF_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "j_asof_latest_order": j_asof_latest_order,
    "j_asof_next_order": j_asof_next_order,
    "j_asof_tolerance_purchase": j_asof_tolerance_purchase,
    "j_range_band": j_range_band,
    "j_range_bin": j_range_bin,
    "w4_session_windows": w4_session_windows,
}

ASOF_ORACLES: dict[str, str] = {
    "j_asof_latest_order": J_ASOF_SQL,
    "j_asof_next_order": J_ASOF_FWD_SQL,
    "j_asof_tolerance_purchase": J_ASOF_TOL_SQL,
    "j_range_band": J_RANGE_SQL,
    "j_range_bin": J_RANGE_BIN_SQL,
    "w4_session_windows": guard_events_sql(W4_SESSION_SQL),
}


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    payload_cols: list[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """Nearest as-of join — pandas ``merge_asof(direction='nearest')``
    parity: for each left row, the right row minimizing
    ``|right_time − left_time|`` per key; an exact distance tie
    prefers the BACKWARD match (then the backward rule's greatest
    ``tiebreak``), matching pandas' nearest-tie behavior.

    ONE union-sort pass computes both directions: the spine sorts
    (key, time, side) once and two frames over the SAME window spec —
    trailing ``last`` and leading ``first`` — evaluate in a single
    Window node (one shuffle, one sort, zero row explosion). With
    right-before-left at equal times, an equal-time right row is
    inside the trailing frame and distance 0 wins every tie, so the
    leading frame's exclusion of it is immaterial.
    """
    clash = set(payload_cols) & set(left.columns)
    if clash:
        raise ValueError(
            f"payload_cols collide with left columns {sorted(clash)}; "
            "rename one side before the as-of join"
        )
    cols = (
        payload_cols
        if right_time in payload_cols
        else [right_time, *payload_cols]
    )
    payload = F.struct(*[F.col(c) for c in cols]).alias("__p")
    r = right.where(F.col(right_time).isNotNull()).select(
        F.col(on).alias("__k"),
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__side"),  # right before left at equal times
        (F.col(tiebreak) if tiebreak else F.lit(0)).alias("__tb"),
        payload,
        *[F.lit(None).alias(f"__l_{c}") for c in left.columns],
    )
    l = left.select(
        F.col(on).alias("__k"),
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__side"),
        F.lit(None).alias("__tb"),
        F.lit(None).cast(r.schema["__p"].dataType).alias("__p"),
        *[F.col(c).alias(f"__l_{c}") for c in left.columns],
    )
    wb = (
        Window.partitionBy("__k")
        .orderBy("__t", "__side", "__tb")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("__k")
        .orderBy("__t", "__side", "__tb")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    filled = r.unionByName(l).select(
        "*",
        F.last("__p", ignorenulls=True).over(wb).alias("__back"),
        F.first("__p", ignorenulls=True).over(wf).alias("__fwd"),
    )
    t_us = F.unix_micros(F.col("__t").cast("timestamp"))
    d_back = t_us - F.unix_micros(F.col("__back")[right_time].cast("timestamp"))
    d_fwd = F.unix_micros(F.col("__fwd")[right_time].cast("timestamp")) - t_us
    nearest = (
        F.when(F.col("__t").isNull(), F.lit(None).cast(r.schema["__p"].dataType))
        .when(F.col("__back").isNull(), F.col("__fwd"))
        .when(F.col("__fwd").isNull(), F.col("__back"))
        .when(d_back <= d_fwd, F.col("__back"))  # tie -> backward
        .otherwise(F.col("__fwd"))
    )
    return filled.where(F.col("__side") == 1).select(
        *[F.col(f"__l_{c}").alias(c) for c in left.columns],
        *[nearest[c].alias(c) for c in payload_cols],
    )


def j_asof_nearest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every event: the user's order NEAREST in time (either
    direction; exact ties prefer the at-or-before order) — the third
    as-of mode next to latest (backward) and next (forward), the
    pandas ``direction='nearest'`` face."""
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    return asof_join_nearest(
        ev.withColumnRenamed("user_id", "k"),
        orders.withColumnRenamed("o_custkey", "k"),
        on="k",
        left_time="ts",
        right_time="o_orderdate",
        payload_cols=["o_orderkey", "o_orderdate"],
        tiebreak="o_orderkey",
    ).select(
        "event_id", F.col("k").alias("user_id"), "ts", "o_orderkey", "o_orderdate"
    )


J_ASOF_NEAREST_SQL = """
WITH cand AS (
  SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
         ROW_NUMBER() OVER (
           PARTITION BY e.event_id
           ORDER BY ABS(epoch_us(o.o_orderdate) - epoch_us(e.ts)) ASC,
                    (o.o_orderdate <= e.ts) DESC,
                    CASE WHEN o.o_orderdate <= e.ts
                         THEN -o.o_orderkey ELSE o.o_orderkey END ASC
         ) AS rn
  FROM events e
  LEFT JOIN orders o ON o.o_custkey = e.user_id AND e.ts IS NOT NULL
)
SELECT event_id, user_id, ts, o_orderkey, o_orderdate FROM cand WHERE rn = 1
"""
# NB: unlike the backward/forward oracles, nearest has no time
# predicate in the join, so the "NULL left time matches nothing"
# contract (shared by all as-of modes) must be stated explicitly
# (`e.ts IS NOT NULL` in the join condition — fuzz-found: a NULL-ts
# event otherwise joins every order and ranks by NULL distance).

ASOF_QUERIES["j_asof_nearest_order"] = j_asof_nearest_order
ASOF_ORACLES["j_asof_nearest_order"] = J_ASOF_NEAREST_SQL
