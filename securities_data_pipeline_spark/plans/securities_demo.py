"""The securities staging pipeline as an oracle-gated query.

The star-schema models (plans/models.py) run on securities-shaped
inputs, which the driver's correctness gate can't feed directly — so
this module derives a daily OHLCV bar table *from the events table*
(symbol ← user_id, one bar per user-day, gaps injected deterministically
on every 5th day-of-month) and pushes it through the REAL staging
pipeline: round-to-2dp **then** forward-fill with the reference's
no-IGNORE-NULLS semantics (dw_transformer/models/staging/
stg_stock_prices.sql + macros/ffill_candles.sql). The DuckDB oracle
spells out the identical arithmetic, so the flagship parity path is
hash-checked end-to-end on every round, not just unit-tested.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from securities_data_pipeline_spark.functions.gates import guard_ticks_sql, ticks
from securities_data_pipeline_spark.plans.models import stg_stock_prices
from securities_data_pipeline_spark.sources.tables import materialize


def _derived_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → raw daily bars with injected null gaps."""
    ev = ticks(spark, sf_dir)
    bars = (
        ev.groupBy(
            F.to_date("ts").alias("date_stamp"),
            F.concat(F.lit("U"), F.col("user_id")).alias("symbol"),
        )
        .agg(
            F.min("value").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            (F.sum(F.col("value").cast("decimal(18,4)")) / F.count(F.lit(1)))
            .cast("double")
            .alias("close"),
            F.count(F.lit(1)).cast("long").alias("volume"),
        )
    )
    gap = F.dayofmonth("date_stamp") % 5 == 0
    null_d = F.lit(None).cast("double")
    return bars.select(
        "date_stamp",
        "symbol",
        *[F.when(gap, null_d).otherwise(F.col(c)).alias(c) for c in ("open", "high", "low", "close")],
        F.when(gap, F.lit(None).cast("long")).otherwise(F.col("volume")).alias("volume"),
    )


def sec_stg_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived bars → the real stg_stock_prices model (round 2 dp →
    ffill from previous rounded close, volume null → 0)."""
    return stg_stock_prices(_derived_bars(spark, sf_dir))


SEC_STG_FFILL_SQL = """
WITH bars AS (
  SELECT CAST(ts AS DATE) AS date_stamp,
         'U' || CAST(user_id AS VARCHAR) AS symbol,
         MIN(value) AS open,
         MAX(value) AS high,
         MIN(value) AS low,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) / COUNT(*) AS DOUBLE) AS close,
         COUNT(*) AS volume
  FROM events
  GROUP BY 1, 2
), gapped AS (
  SELECT date_stamp, symbol,
         CASE WHEN dayofmonth(date_stamp) % 5 = 0 THEN NULL ELSE open END AS open,
         CASE WHEN dayofmonth(date_stamp) % 5 = 0 THEN NULL ELSE high END AS high,
         CASE WHEN dayofmonth(date_stamp) % 5 = 0 THEN NULL ELSE low END AS low,
         CASE WHEN dayofmonth(date_stamp) % 5 = 0 THEN NULL ELSE close END AS close,
         CASE WHEN dayofmonth(date_stamp) % 5 = 0 THEN NULL ELSE volume END AS volume
  FROM bars
), base_ AS (
  SELECT date_stamp, symbol,
         CAST(round(CAST(open  AS DECIMAL(38,12)), 2) AS DOUBLE) AS open,
         CAST(round(CAST(high  AS DECIMAL(38,12)), 2) AS DOUBLE) AS high,
         CAST(round(CAST(low   AS DECIMAL(38,12)), 2) AS DOUBLE) AS low,
         CAST(round(CAST(close AS DECIMAL(38,12)), 2) AS DOUBLE) AS close,
         CAST(volume AS BIGINT) AS volume
  FROM gapped
)
SELECT date_stamp, symbol,
  CASE WHEN open IS NULL THEN last_value(close) OVER w ELSE open END AS open,
  CASE WHEN high IS NULL THEN last_value(close) OVER w ELSE high END AS high,
  CASE WHEN low  IS NULL THEN last_value(close) OVER w ELSE low  END AS low,
  CASE WHEN close IS NULL THEN last_value(close) OVER w ELSE close END AS close,
  CAST(CASE WHEN volume IS NULL THEN 0 ELSE volume END AS BIGINT) AS volume
FROM base_
WINDOW w AS (PARTITION BY symbol ORDER BY date_stamp
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
"""


def sec_calendar_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar resample + gap-fill: each symbol's daily spine from its
    first to last active day (``sequence`` + ``explode`` — generated
    per symbol, no shuffle beyond the range aggregate), left-joined to
    the observed bars, missing days flagged and closed forward with an
    IGNORE-NULLS running last — the query-time companion to the
    staging ffill (which only fills nulls on EXISTING rows; this op
    materializes the missing rows themselves).

    The user-day activity matrix is naturally sparse (< 1 event per
    user-day), so the spine genuinely synthesizes rows. At 100 TB the
    explode output is bounded by symbols × calendar days — orders of
    magnitude under the fact table — and the fill window rides the
    same symbol partitioning as every other per-symbol window.
    """
    from pyspark.sql import Window

    ev = ticks(spark, sf_dir)
    bars = (
        ev.groupBy(
            F.concat(F.lit("U"), F.col("user_id")).alias("symbol"),
            F.to_date("ts").alias("date_stamp"),
        )
        .agg(F.max("value").alias("close"))
        # feeds both the range aggregate and the spine join —
        # materialize the (symbol-day sized) bars once instead of
        # scanning events twice
        .transform(materialize)
    )
    rng = bars.groupBy("symbol").agg(
        F.min("date_stamp").alias("d0"), F.max("date_stamp").alias("d1")
    )
    spine = rng.select(
        "symbol",
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("date_stamp"),
    )
    w = (
        Window.partitionBy("symbol")
        .orderBy("date_stamp")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        spine.join(bars, ["symbol", "date_stamp"], "left")
        .select(
            "symbol",
            "date_stamp",
            F.col("close").isNull().alias("is_synthetic"),
            F.last("close", ignorenulls=True).over(w).alias("close_filled"),
        )
    )


SEC_CALENDAR_SQL = """
WITH bars AS (
  SELECT 'U' || CAST(user_id AS VARCHAR) AS symbol,
         CAST(ts AS DATE) AS date_stamp,
         MAX(value) AS close
  FROM events
  GROUP BY 1, 2
), rng AS (
  SELECT symbol, MIN(date_stamp) AS d0, MAX(date_stamp) AS d1 FROM bars GROUP BY symbol
), spine AS (
  SELECT symbol, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS date_stamp
  FROM rng
)
SELECT s.symbol, s.date_stamp,
       b.close IS NULL AS is_synthetic,
       last_value(b.close IGNORE NULLS) OVER (
         PARTITION BY s.symbol ORDER BY s.date_stamp
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_filled
FROM spine s
LEFT JOIN bars b ON b.symbol = s.symbol AND b.date_stamp = s.date_stamp
"""


SECURITIES_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "sec_stg_ffill": sec_stg_ffill,
    "sec_calendar_spine": sec_calendar_spine,
}

SECURITIES_ORACLES: dict[str, str] = {
    "sec_stg_ffill": SEC_STG_FFILL_SQL,
    "sec_calendar_spine": SEC_CALENDAR_SQL,
}


def sec_rolling_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol daily log returns and 7-day rolling volatility
    (sample stddev of returns) — the canonical risk window over the
    derived bar table.

    One shuffle on symbol serves both window functions (lag and the
    rolling frame share the partition/order spec). Returns are
    per-row double math (deterministic); the windowed stddev
    accumulates over an identical 7-row frame in both engines and is
    rounded to 6 dp. Emitted per (symbol, day) with the return row
    itself so the oracle pins both levels of the computation.
    """
    from pyspark.sql import Window

    ev = ticks(spark, sf_dir)
    bars = ev.groupBy(
        F.concat(F.lit("U"), F.col("user_id")).alias("symbol"),
        F.to_date("ts").alias("date_stamp"),
    ).agg(F.max("value").alias("close"))
    wlag = Window.partitionBy("symbol").orderBy("date_stamp")
    ret = F.round(F.log(F.col("close") / F.lag("close").over(wlag)), 6)
    with_ret = bars.select("symbol", "date_stamp", ret.alias("log_ret"))
    wroll = wlag.rowsBetween(-6, 0)
    return with_ret.select(
        "symbol",
        "date_stamp",
        "log_ret",
        F.round(F.stddev_samp("log_ret").over(wroll), 6).alias("vol_7d"),
    )


SEC_ROLLING_VOL_SQL = """
WITH bars AS (
  SELECT 'U' || CAST(user_id AS VARCHAR) AS symbol,
         CAST(ts AS DATE) AS date_stamp,
         MAX(value) AS close
  FROM events
  GROUP BY 1, 2
), with_ret AS (
  SELECT symbol, date_stamp,
         round(ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY date_stamp)), 6)
           AS log_ret
  FROM bars
)
SELECT symbol, date_stamp, log_ret,
       round(stddev_samp(log_ret) OVER (
         PARTITION BY symbol ORDER BY date_stamp
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS vol_7d
FROM with_ret
"""

SECURITIES_QUERIES["sec_rolling_vol"] = sec_rolling_vol
SECURITIES_ORACLES["sec_rolling_vol"] = SEC_ROLLING_VOL_SQL


def sec_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol running peak and drawdown — the risk statistic every
    portfolio monitor computes over `fct_prices`.

    peak = running max(close); drawdown = (close − peak)/peak. One
    shuffle on the symbol key serves the single window; the quotient
    is emitted as the RAW double (no rounding needed — both engines
    divide the identical IEEE inputs in the identical order, so the
    bits match exactly).
    """
    from pyspark.sql import Window

    ev = ticks(spark, sf_dir)
    bars = ev.groupBy(
        F.concat(F.lit("U"), F.col("user_id")).alias("symbol"),
        F.to_date("ts").alias("date_stamp"),
    ).agg(F.max("value").alias("close"))
    w = (
        Window.partitionBy("symbol")
        .orderBy("date_stamp")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    peak = F.max("close").over(w)
    return bars.select(
        "symbol",
        "date_stamp",
        "close",
        peak.alias("peak"),
        ((F.col("close") - peak) / peak).alias("drawdown"),
    )


SEC_DRAWDOWN_SQL = """
WITH bars AS (
  SELECT 'U' || CAST(user_id AS VARCHAR) AS symbol,
         CAST(ts AS DATE) AS date_stamp,
         MAX(value) AS close
  FROM events
  GROUP BY 1, 2
)
SELECT symbol, date_stamp, close,
       MAX(close) OVER w AS peak,
       (close - MAX(close) OVER w) / MAX(close) OVER w AS drawdown
FROM bars
WINDOW w AS (PARTITION BY symbol ORDER BY date_stamp
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""

SECURITIES_QUERIES["sec_drawdown"] = sec_drawdown
SECURITIES_ORACLES["sec_drawdown"] = SEC_DRAWDOWN_SQL


def sec_sma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden/death-cross signals: days where the 5-bar SMA crosses
    the 20-bar SMA per symbol.

    Both SMAs accumulate EXACT decimal sums over row frames (the w2
    idiom) and divide once by the frame count, so the crossing
    comparison is bit-deterministic in both engines. All three window
    functions (two SMAs + the lag of the comparison) share one
    (symbol, date) shuffle+sort.
    """
    from pyspark.sql import Window

    ev = ticks(spark, sf_dir)
    bars = ev.groupBy(
        F.concat(F.lit("U"), F.col("user_id")).alias("symbol"),
        F.to_date("ts").alias("date_stamp"),
    ).agg(F.max("value").alias("close"))
    wo = Window.partitionBy("symbol").orderBy("date_stamp")

    def sma(n: int):
        w = wo.rowsBetween(-(n - 1), 0)
        return (
            F.sum(F.col("close").cast("decimal(18,6)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        )

    above = sma(5) > sma(20)
    sig = bars.select(
        "symbol", "date_stamp", above.alias("above"), F.lag(above).over(wo).alias("prev")
    )
    return sig.where(F.col("prev").isNotNull() & (F.col("above") != F.col("prev"))).select(
        "symbol",
        "date_stamp",
        F.when(F.col("above"), "golden").otherwise("death").alias("cross"),
    )


SEC_SMA_CROSS_SQL = """
WITH bars AS (
  SELECT 'U' || CAST(user_id AS VARCHAR) AS symbol,
         CAST(ts AS DATE) AS date_stamp,
         MAX(value) AS close
  FROM events
  GROUP BY 1, 2
), sig AS (
  SELECT symbol, date_stamp,
         (CAST(SUM(CAST(close AS DECIMAL(18,6))) OVER w5 AS DOUBLE) / COUNT(*) OVER w5)
         > (CAST(SUM(CAST(close AS DECIMAL(18,6))) OVER w20 AS DOUBLE) / COUNT(*) OVER w20)
           AS above
  FROM bars
  WINDOW w5 AS (PARTITION BY symbol ORDER BY date_stamp ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         w20 AS (PARTITION BY symbol ORDER BY date_stamp ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
), lagged AS (
  SELECT symbol, date_stamp, above,
         lag(above) OVER (PARTITION BY symbol ORDER BY date_stamp) AS prev
  FROM sig
)
SELECT symbol, date_stamp,
       CASE WHEN above THEN 'golden' ELSE 'death' END AS cross
FROM lagged
WHERE prev IS NOT NULL AND above <> prev
"""

SECURITIES_QUERIES["sec_sma_crossover"] = sec_sma_crossover
SECURITIES_ORACLES["sec_sma_crossover"] = SEC_SMA_CROSS_SQL


def sec_weekly_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily→weekly OHLC resample via argmin/argmax aggregates:
    open = close of the week's FIRST day (``min_by``), close = the
    week's LAST day (``max_by``), high/low = plain max/min, n_days =
    bar count. One partial-combining aggregate — the downsample every
    bar store runs, with no window and no self-join; ``min_by``/
    ``max_by`` are deterministic here because (symbol, date) is unique.
    """
    ev = ticks(spark, sf_dir)
    bars = ev.groupBy(
        F.concat(F.lit("U"), F.col("user_id")).alias("symbol"),
        F.to_date("ts").alias("date_stamp"),
    ).agg(F.max("value").alias("close"))
    return bars.groupBy(
        "symbol", F.to_date(F.date_trunc("week", "date_stamp")).alias("week")
    ).agg(
        F.min_by("close", "date_stamp").alias("open"),
        F.max("close").alias("high"),
        F.min("close").alias("low"),
        F.max_by("close", "date_stamp").alias("close"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )


SEC_WEEKLY_SQL = """
WITH bars AS (
  SELECT 'U' || CAST(user_id AS VARCHAR) AS symbol,
         CAST(ts AS DATE) AS date_stamp,
         MAX(value) AS close
  FROM events
  GROUP BY 1, 2
)
SELECT symbol,
       CAST(DATE_TRUNC('week', date_stamp) AS DATE) AS week,
       min_by(close, date_stamp) AS open,
       MAX(close) AS high,
       MIN(close) AS low,
       max_by(close, date_stamp) AS close,
       CAST(COUNT(*) AS BIGINT) AS n_days
FROM bars
GROUP BY 1, 2
"""

SECURITIES_QUERIES["sec_weekly_bars"] = sec_weekly_bars
SECURITIES_ORACLES["sec_weekly_bars"] = SEC_WEEKLY_SQL


def sec_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-20-bar beta of each symbol against the equal-weight
    market index level — the a8_corr_moments pattern lifted into a
    rolling frame, computed in EXACT INTEGER arithmetic.

    Why integers: beta's numerator/denominator are differences of
    near-cancelling moment sums. With decimal sums cast to double
    BEFORE the cancellation, a 1-ulp disagreement in the two engines'
    128-bit-decimal→double conversion blows up to visible error
    whenever covariance ≈ 0 (observed: 40% of rows at sf0.1 differed
    at the 9th digit). Here everything is int64 CENTS: closes quantize
    once, the index is their per-date sum, and the index is centered
    on its global integer mean (beta is shift-invariant; centering
    keeps xc small so every product stays far from 2^63). The moment
    DIFFERENCES (n·Σxy−ΣxΣy, n·Σx²−(Σx)²) cancel exactly in integer
    space; only those small results — exactly representable in a
    double — are converted, and the final division is the same IEEE
    op in both engines. Bit-identical, no rounding step. (At sf ≥ 1
    the int64 headroom for n·Σx² runs out — swap the moments to
    decimal(38,0)/hugeint, same plan.)

    One shuffle on symbol feeds every window; the per-date index and
    the one-row centering scalar broadcast.
    """
    from pyspark.sql import Window

    ev = ticks(spark, sf_dir)
    bars = (
        ev.groupBy(
            F.concat(F.lit("U"), F.col("user_id")).alias("symbol"),
            F.to_date("ts").alias("date_stamp"),
        )
        .agg((F.max("value").cast("decimal(12,2)") * 100).cast("long").alias("yc"))
        # three consumers (index aggregate → centering scalar, and the
        # window join) — materialize the symbol-day bars once instead
        # of re-scanning events per consumer
        .transform(materialize)
    )
    market = bars.groupBy("date_stamp").agg(F.sum("yc").alias("mkt_c"))
    center = market.agg(
        F.expr("sum(mkt_c) div count(*)").alias("c0")
    )
    joined = (
        bars.join(F.broadcast(market), "date_stamp")
        .crossJoin(F.broadcast(center))
        .withColumn("xc", F.col("mkt_c") - F.col("c0"))
    )
    w = Window.partitionBy("symbol").orderBy("date_stamp").rowsBetween(-19, 0)
    n = F.count(F.lit(1)).over(w)
    sx = F.sum("xc").over(w)
    sy = F.sum("yc").over(w)
    sxx = F.sum(F.col("xc") * F.col("xc")).over(w)
    sxy = F.sum(F.col("xc") * F.col("yc")).over(w)
    cov_n = n * sxy - sx * sy
    var_n = n * sxx - sx * sx
    return (
        joined.select(
            "symbol",
            "date_stamp",
            n.cast("long").alias("n_bars"),
            cov_n.alias("cov_n"),
            var_n.alias("var_n"),
        )
        .where((F.col("n_bars") >= 10) & (F.col("var_n") > 0))
        .select(
            "symbol",
            "date_stamp",
            "n_bars",
            (F.col("cov_n").cast("double") / F.col("var_n").cast("double")).alias("beta"),
        )
    )


SEC_ROLLING_BETA_SQL = """
WITH bars AS (
  SELECT 'U' || CAST(user_id AS VARCHAR) AS symbol,
         CAST(ts AS DATE) AS date_stamp,
         CAST(CAST(MAX(value) AS DECIMAL(12,2)) * 100 AS BIGINT) AS yc
  FROM events
  GROUP BY 1, 2
), market AS (
  SELECT date_stamp, CAST(SUM(yc) AS BIGINT) AS mkt_c FROM bars GROUP BY date_stamp
), center AS (
  SELECT CAST(SUM(mkt_c) AS BIGINT) // COUNT(*) AS c0 FROM market
), moments AS (
  SELECT symbol, date_stamp,
         COUNT(*) OVER w AS n,
         CAST(SUM(mkt_c - c0) OVER w AS BIGINT) AS sx,
         CAST(SUM(yc) OVER w AS BIGINT) AS sy,
         CAST(SUM((mkt_c - c0) * (mkt_c - c0)) OVER w AS BIGINT) AS sxx,
         CAST(SUM((mkt_c - c0) * yc) OVER w AS BIGINT) AS sxy
  FROM bars JOIN market USING (date_stamp) CROSS JOIN center
  WINDOW w AS (PARTITION BY symbol ORDER BY date_stamp
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT symbol, date_stamp, CAST(n AS BIGINT) AS n_bars,
       CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS beta
FROM moments
WHERE n >= 10 AND (n * sxx - sx * sx) > 0
"""


SECURITIES_QUERIES["sec_rolling_beta"] = sec_rolling_beta
SECURITIES_ORACLES["sec_rolling_beta"] = SEC_ROLLING_BETA_SQL


def sec_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-bar RSI (SMA form) per symbol: RSI = 100 − 100/(1 + RS),
    RS = Σgains/Σlosses over the trailing 14 deltas.

    Close deltas quantize exactly (closes carry 2 dp → DECIMAL(18,2)
    lag-subtraction is exact), gains/losses split per row, and the two
    14-row frame sums accumulate exact decimals — the single double
    division happens once per row in the same order as the oracle.
    Σlosses = 0 → RSI 100 by convention (and covers the 0/0 flat
    window). Rows emit only with a full 14-delta frame, so frame
    semantics can't differ across engines. One (symbol, date)
    shuffle+sort serves the lag and both frame sums.
    """
    from pyspark.sql import Window

    ev = ticks(spark, sf_dir)
    bars = ev.groupBy(
        F.concat(F.lit("U"), F.col("user_id")).alias("symbol"),
        F.to_date("ts").alias("date_stamp"),
    ).agg(F.max("value").alias("close"))
    wo = Window.partitionBy("symbol").orderBy("date_stamp")
    c = F.col("close").cast("decimal(18,2)")
    delta = c - F.lag(c).over(wo)
    with_delta = bars.select("symbol", "date_stamp", delta.alias("d")).where(
        F.col("d").isNotNull()
    )
    w14 = Window.partitionBy("symbol").orderBy("date_stamp").rowsBetween(-13, 0)
    gains = F.sum(F.greatest(F.col("d"), F.lit(0).cast("decimal(18,2)"))).over(w14)
    losses = F.sum(F.greatest(-F.col("d"), F.lit(0).cast("decimal(18,2)"))).over(w14)
    n = F.count(F.lit(1)).over(w14)
    out = with_delta.select(
        "symbol",
        "date_stamp",
        n.alias("n_d"),
        gains.alias("g"),
        losses.alias("l"),
    ).where(F.col("n_d") == 14)
    rsi = F.when(F.col("l") == 0, F.lit(100.0)).otherwise(
        F.round(
            F.lit(100.0)
            - F.lit(100.0)
            / (F.lit(1.0) + F.col("g").cast("double") / F.col("l").cast("double")),
            6,
        )
    )
    return out.select("symbol", "date_stamp", rsi.alias("rsi_14"))


SEC_RSI_SQL = """
WITH bars AS (
  SELECT 'U' || CAST(user_id AS VARCHAR) AS symbol,
         CAST(ts AS DATE) AS date_stamp,
         MAX(value) AS close
  FROM events
  GROUP BY 1, 2
), deltas AS (
  SELECT symbol, date_stamp,
         CAST(close AS DECIMAL(18,2))
           - lag(CAST(close AS DECIMAL(18,2)))
             OVER (PARTITION BY symbol ORDER BY date_stamp) AS d
  FROM bars
), framed AS (
  SELECT symbol, date_stamp,
         COUNT(*) OVER w14 AS n_d,
         SUM(greatest(d, CAST(0 AS DECIMAL(18,2)))) OVER w14 AS g,
         SUM(greatest(-d, CAST(0 AS DECIMAL(18,2)))) OVER w14 AS l
  FROM deltas
  WHERE d IS NOT NULL
  WINDOW w14 AS (PARTITION BY symbol ORDER BY date_stamp
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT symbol, date_stamp,
       CASE WHEN l = 0 THEN 100.0
            ELSE round(100.0 - 100.0 / (1.0 + CAST(g AS DOUBLE) / CAST(l AS DOUBLE)), 6)
       END AS rsi_14
FROM framed
WHERE n_d = 14
"""

SECURITIES_QUERIES["sec_rsi"] = sec_rsi
SECURITIES_ORACLES["sec_rsi"] = SEC_RSI_SQL


def sec_sharpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol annualized Sharpe ratio (zero risk-free rate) over
    the full daily log-return history — the portfolio-screening
    aggregate on top of the bar derivation every ``sec_*`` query
    shares.

    Float determinism without a window: a groupBy mean/stddev over
    doubles sums in partition order (nondeterministic at the last
    ulp), so the moments accumulate as EXACT decimals — returns
    rounded to 6 dp cast to DECIMAL(18,6), Σx and Σx² summed exactly
    — and only the final mean/variance/ratio arithmetic runs in
    (deterministic, per-group scalar) double math. Same trick as
    ``a8_corr_moments``; one shuffle on symbol for the bar rollup,
    one map-side-combined aggregate for the moments.
    """
    from pyspark.sql import Window

    ev = ticks(spark, sf_dir)
    bars = ev.groupBy(
        F.concat(F.lit("U"), F.col("user_id")).alias("symbol"),
        F.to_date("ts").alias("date_stamp"),
    ).agg(F.max("value").alias("close"))
    wlag = Window.partitionBy("symbol").orderBy("date_stamp")
    ret = F.round(F.log(F.col("close") / F.lag("close").over(wlag)), 6).cast(
        "decimal(18,6)"
    )
    rets = bars.select("symbol", ret.alias("r")).where(F.col("r").isNotNull())
    mom = rets.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("r").alias("s1"),
        F.sum((F.col("r") * F.col("r")).cast("decimal(38,12)")).alias("s2"),
    )
    n = F.col("n_days").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    mean = s1 / n
    var = (s2 - s1 * s1 / n) / (n - 1)
    # flat (zero-variance) series are excluded, not divided by: a
    # halted/illiquid symbol would otherwise DIVIDE_BY_ZERO under
    # ANSI mode (and NULL-diverge from the oracle); the exact-decimal
    # moments make var == 0 a clean test, never a float near-miss
    return (
        mom.where(F.col("n_days") >= 2)
        .withColumn("__var", var)
        .where(F.col("__var") > 0)
        .select(
            "symbol",
            "n_days",
            F.round(mean, 6).alias("mean_ret"),
            F.round(F.sqrt(F.col("__var")), 6).alias("vol"),
            F.round(mean / F.sqrt(F.col("__var")) * F.sqrt(F.lit(252.0)), 6)
            .alias("sharpe_ann"),
        )
    )


SEC_SHARPE_SQL = """
WITH bars AS (
  SELECT 'U' || CAST(user_id AS VARCHAR) AS symbol,
         CAST(ts AS DATE) AS date_stamp,
         MAX(value) AS close
  FROM events
  GROUP BY 1, 2
), rets AS (
  SELECT symbol,
         CAST(round(ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY date_stamp)), 6)
              AS DECIMAL(18,6)) AS r
  FROM bars
), mom AS (
  SELECT symbol,
         COUNT(*) AS n_days,
         SUM(r) AS s1,
         SUM(CAST(r * r AS DECIMAL(38,12))) AS s2
  FROM rets WHERE r IS NOT NULL
  GROUP BY symbol
)
SELECT symbol,
       n_days,
       round(CAST(s1 AS DOUBLE) / n_days, 6) AS mean_ret,
       round(sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_days)
                  / (n_days - 1)), 6) AS vol,
       round(CAST(s1 AS DOUBLE) / n_days
             / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_days)
                    / (n_days - 1))
             * sqrt(252.0), 6) AS sharpe_ann
FROM mom
WHERE n_days >= 2
  AND (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_days)
      / (n_days - 1) > 0
"""

SECURITIES_QUERIES["sec_sharpe"] = sec_sharpe
SECURITIES_ORACLES["sec_sharpe"] = SEC_SHARPE_SQL


def sec_sortino(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol annualized Sortino ratio — the Sharpe screen's
    downside-risk twin: the denominator penalizes only NEGATIVE
    log-returns (downside deviation over the full period count), so a
    symbol with volatile gains but steady losses screens differently
    than under symmetric vol. Reference surface: the dbt analytics
    layer's per-symbol aggregates (dw_transformer/models/core);
    extension aggregate in the sec_* family.

    Same float-determinism recipe as ``sec_sharpe`` (exact-decimal
    moments, scalar double math at the end): returns quantize to
    DECIMAL(18,6), Σr sums exactly, and the downside second moment
    accumulates Σ(min(r,0))² as DECIMAL(38,12) — the CASE runs on the
    exact decimal so both engines gate the same rows. Zero-downside
    symbols are excluded, not divided by (ANSI DIVIDE_BY_ZERO parity
    with the flat-series rule in sharpe). One symbol shuffle for the
    bar rollup + one map-side-combined moment aggregate.
    """
    from pyspark.sql import Window

    ev = ticks(spark, sf_dir)
    bars = ev.groupBy(
        F.concat(F.lit("U"), F.col("user_id")).alias("symbol"),
        F.to_date("ts").alias("date_stamp"),
    ).agg(F.max("value").alias("close"))
    wlag = Window.partitionBy("symbol").orderBy("date_stamp")
    ret = F.round(F.log(F.col("close") / F.lag("close").over(wlag)), 6).cast(
        "decimal(18,6)"
    )
    rets = bars.select("symbol", ret.alias("r")).where(F.col("r").isNotNull())
    zero = F.lit(0).cast("decimal(38,12)")
    mom = rets.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("r").alias("s1"),
        F.sum(
            F.when(
                F.col("r") < 0, (F.col("r") * F.col("r")).cast("decimal(38,12)")
            ).otherwise(zero)
        ).alias("s2d"),
    )
    n = F.col("n_days").cast("double")
    mean = F.col("s1").cast("double") / n
    dvar = F.col("s2d").cast("double") / (n - 1)
    return (
        mom.where(F.col("n_days") >= 2)
        .withColumn("__dvar", dvar)
        .where(F.col("__dvar") > 0)
        .select(
            "symbol",
            "n_days",
            F.round(mean, 6).alias("mean_ret"),
            F.round(F.sqrt(F.col("__dvar")), 6).alias("downside_vol"),
            F.round(mean / F.sqrt(F.col("__dvar")) * F.sqrt(F.lit(252.0)), 6)
            .alias("sortino_ann"),
        )
    )


SEC_SORTINO_SQL = """
WITH bars AS (
  SELECT 'U' || CAST(user_id AS VARCHAR) AS symbol,
         CAST(ts AS DATE) AS date_stamp,
         MAX(value) AS close
  FROM events
  GROUP BY 1, 2
), rets AS (
  SELECT symbol,
         CAST(round(ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY date_stamp)), 6)
              AS DECIMAL(18,6)) AS r
  FROM bars
), mom AS (
  SELECT symbol,
         COUNT(*) AS n_days,
         SUM(r) AS s1,
         SUM(CASE WHEN r < 0 THEN CAST(r * r AS DECIMAL(38,12))
                  ELSE CAST(0 AS DECIMAL(38,12)) END) AS s2d
  FROM rets WHERE r IS NOT NULL
  GROUP BY symbol
)
SELECT symbol,
       n_days,
       round(CAST(s1 AS DOUBLE) / n_days, 6) AS mean_ret,
       round(sqrt(CAST(s2d AS DOUBLE) / (n_days - 1)), 6) AS downside_vol,
       round(CAST(s1 AS DOUBLE) / n_days
             / sqrt(CAST(s2d AS DOUBLE) / (n_days - 1))
             * sqrt(252.0), 6) AS sortino_ann
FROM mom
WHERE n_days >= 2
  AND CAST(s2d AS DOUBLE) / (n_days - 1) > 0
"""

SECURITIES_QUERIES["sec_sortino"] = sec_sortino
SECURITIES_ORACLES["sec_sortino"] = SEC_SORTINO_SQL


def sec_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly VWAP per symbol — the execution-quality benchmark every
    trading stack computes: Σ(price·volume)/Σ(volume) over the week.

    Cross-engine exactness: prices quantize once to int64 cents (the
    sec_rolling_beta recipe), price·volume and both sums stay in exact
    integer space, and the ONLY float op is one double division at the
    end — the same IEEE op in both engines, so the result is
    bit-identical with no rounding step. One partial-combining
    aggregate after the symbol-day rollup; nothing wide shuffles.
    """
    ev = ticks(spark, sf_dir)
    bars = ev.groupBy(
        F.concat(F.lit("U"), F.col("user_id")).alias("symbol"),
        F.to_date("ts").alias("date_stamp"),
    ).agg(
        (F.max("value").cast("decimal(12,2)") * 100).cast("long").alias("pc"),
        F.count(F.lit(1)).cast("long").alias("vol"),
    )
    return bars.groupBy(
        "symbol", F.to_date(F.date_trunc("week", "date_stamp")).alias("week")
    ).agg(
        (
            F.sum(F.col("pc") * F.col("vol")).cast("double")
            / (F.lit(100.0) * F.sum("vol").cast("double"))
        ).alias("vwap"),
        F.sum("vol").cast("long").alias("volume"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )


SEC_VWAP_SQL = """
WITH bars AS (
  SELECT 'U' || CAST(user_id AS VARCHAR) AS symbol,
         CAST(ts AS DATE) AS date_stamp,
         CAST(CAST(MAX(value) AS DECIMAL(12,2)) * 100 AS BIGINT) AS pc,
         COUNT(*) AS vol
  FROM events
  GROUP BY 1, 2
)
SELECT symbol,
       CAST(DATE_TRUNC('week', date_stamp) AS DATE) AS week,
       CAST(SUM(pc * vol) AS DOUBLE) / (100.0 * CAST(SUM(vol) AS DOUBLE)) AS vwap,
       CAST(SUM(vol) AS BIGINT) AS volume,
       CAST(COUNT(*) AS BIGINT) AS n_days
FROM bars
GROUP BY 1, 2
"""

SECURITIES_QUERIES["sec_vwap"] = sec_vwap
SECURITIES_ORACLES["sec_vwap"] = SEC_VWAP_SQL


# truncated EWMA: span 20 → α = 2/21. The 20 weights (1−α)^j are
# quantized ONCE in Python to integer parts-per-billion, so the whole
# weighted sum is exact int64 arithmetic (cents × ppb-weights ≤ 2e16 ≪
# 2^63) and the ONLY float op is one final double division — the same
# IEEE op in both engines, bit-identical with zero rounding calls.
#
# Overflow bound (pinned by test_analytics.py::test_int64_overflow_is_loud):
# the 20-term sum is < 20 · pc · 1e9, so it fits int64 iff the price is
# below ~$4.6e6 (pc < 2^63 / 2e10). Prices above that do NOT wrap
# silently: this engine runs Spark 4's ANSI default, where long
# arithmetic overflow raises ArithmeticException — the same loud
# failure DuckDB gives — so an out-of-bound price kills the query on
# both sides rather than diverging. sec_vwap's pc·vol product has the
# analogous bound (pc · weekly volume < 2^63, loud on breach).
# (A first attempt kept float weights with per-term round(x, 9): with
# ~15k roundings per run one landed on a 9-dp half boundary and the
# engines split — the exact failure class the int-quantization recipe
# exists for. Weight quantization error is ≤1e-9 relative, far below
# the 2-dp price quantum.)
EWMA_SPAN = 20
_EWMA_WQ = [
    round((1 - 2 / (EWMA_SPAN + 1)) ** j * 1_000_000_000)
    for j in range(EWMA_SPAN)
]
_EWMA_WQSUM = sum(_EWMA_WQ)


def sec_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bar truncated exponential moving average of the close per
    symbol (pandas ``ewm(span=20).mean()`` over a full window): the
    trend line under every crossover/momentum signal, emitted only
    once the window is full (j = 0..19 lags all present).

    Plan: ONE window shuffle on symbol feeds all 20 ``lag`` terms —
    the same single-sort shape as the SMA/RSI/beta siblings. The
    weighted sum is 20 fixed integer terms (cents × ppb weights); see
    the quantization note above for why no float enters before the
    final division.
    """
    from pyspark.sql import Window

    ev = ticks(spark, sf_dir)
    bars = ev.groupBy(
        F.concat(F.lit("U"), F.col("user_id")).alias("symbol"),
        F.to_date("ts").alias("date_stamp"),
    ).agg((F.max("value").cast("decimal(12,2)") * 100).cast("long").alias("pc"))
    w = Window.partitionBy("symbol").orderBy("date_stamp")
    total = F.lag("pc", 0).over(w) * F.lit(_EWMA_WQ[0])
    for j, wq in enumerate(_EWMA_WQ[1:], start=1):
        total = total + F.lag("pc", j).over(w) * F.lit(wq)
    return bars.select(
        "symbol",
        "date_stamp",
        (F.col("pc").cast("double") / F.lit(100.0)).alias("px"),
        (
            total.cast("double")
            / (F.lit(100.0) * F.lit(float(_EWMA_WQSUM)))
        ).alias("ewma20"),
    ).where(F.col("ewma20").isNotNull())


def _sql_ewma() -> str:
    terms = " + ".join(
        f"lag(pc, {j}) OVER w * {wq}" for j, wq in enumerate(_EWMA_WQ)
    )
    return f"""
WITH bars AS (
  SELECT 'U' || CAST(user_id AS VARCHAR) AS symbol,
         CAST(ts AS DATE) AS date_stamp,
         CAST(CAST(MAX(value) AS DECIMAL(12,2)) * 100 AS BIGINT) AS pc
  FROM events
  GROUP BY 1, 2
), terms AS (
  SELECT symbol, date_stamp, pc,
         {terms} AS tsum
  FROM bars
  WINDOW w AS (PARTITION BY symbol ORDER BY date_stamp)
)
SELECT symbol, date_stamp,
       CAST(pc AS DOUBLE) / CAST(100.0 AS DOUBLE) AS px,
       CAST(tsum AS DOUBLE)
         / (CAST(100.0 AS DOUBLE) * CAST({float(_EWMA_WQSUM)!r} AS DOUBLE)) AS ewma20
FROM terms
WHERE tsum IS NOT NULL
"""


SECURITIES_QUERIES["sec_ewma"] = sec_ewma
SECURITIES_ORACLES["sec_ewma"] = _sql_ewma()


# MACD with demo geometry (fast 6 / slow 13 / signal 5 — the corpus
# has ≤30 bars per symbol, so the textbook 12/26/9 would emit zero
# full windows at the gate SF; production geometry is a constant swap
# on the identical plan). Same truncated-EWMA exactness recipe as
# sec_ewma: ppb weights for the two price EMAs (int64 cents×ppb sums),
# then the MACD line quantizes HALF-UP to int64 micro-units so the
# signal EMA is again an exact integer sum — ppm weights there, since
# micro-dollar MACD × ppb would overflow int64. Floats appear only in
# the three final divisions/subtractions, identical IEEE ops from
# identical int64s on both engines.
MACD_FAST, MACD_SLOW, MACD_SIG = 6, 13, 5


def _ppw(span: int, scale: int) -> list[int]:
    return [round((1 - 2 / (span + 1)) ** j * scale) for j in range(span)]


_MACD_WF = _ppw(MACD_FAST, 1_000_000_000)
_MACD_WS = _ppw(MACD_SLOW, 1_000_000_000)
_MACD_WG = _ppw(MACD_SIG, 1_000_000)
_MACD_WF_SUM, _MACD_WS_SUM, _MACD_WG_SUM = (
    sum(_MACD_WF), sum(_MACD_WS), sum(_MACD_WG),
)


def sec_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD(fast, slow, signal) per symbol: fast-EMA − slow-EMA of the
    close, plus the signal EMA of the MACD line and the histogram —
    the momentum indicator stack one tier up from ``sec_sma_crossover``.

    Plan: ONE shuffle+sort on (symbol, date_stamp) feeds BOTH window
    passes — the lag chains for the two price EMAs and, stacked on the
    same sorted partition, the lag chain for the signal EMA over the
    quantized MACD column (Spark chains window operators after a
    single Exchange+Sort when partitioning/ordering match). Rows emit
    only when the slow window AND the signal window are both full.
    """
    from pyspark.sql import Window

    ev = ticks(spark, sf_dir)
    bars = ev.groupBy(
        F.concat(F.lit("U"), F.col("user_id")).alias("symbol"),
        F.to_date("ts").alias("date_stamp"),
    ).agg((F.max("value").cast("decimal(12,2)") * 100).cast("long").alias("pc"))
    w = Window.partitionBy("symbol").orderBy("date_stamp")

    def ema_sum(weights: list[int], col: str):
        total = F.lag(col, 0).over(w) * F.lit(weights[0])
        for j, wq in enumerate(weights[1:], start=1):
            total = total + F.lag(col, j).over(w) * F.lit(wq)
        return total

    macd = (
        ema_sum(_MACD_WF, "pc").cast("double")
        / (F.lit(100.0) * F.lit(float(_MACD_WF_SUM)))
        - ema_sum(_MACD_WS, "pc").cast("double")
        / (F.lit(100.0) * F.lit(float(_MACD_WS_SUM)))
    )
    m = bars.select(
        "symbol",
        "date_stamp",
        macd.alias("macd"),
        F.floor(macd * F.lit(1_000_000.0) + F.lit(0.5)).cast("long").alias("_mu"),
    ).where(F.col("macd").isNotNull())
    sig = ema_sum(_MACD_WG, "_mu").cast("double") / (
        F.lit(1_000_000.0) * F.lit(float(_MACD_WG_SUM))
    )
    return (
        m.select("symbol", "date_stamp", "macd", sig.alias("macd_signal"))
        .where(F.col("macd_signal").isNotNull())
        .withColumn("histogram", F.col("macd") - F.col("macd_signal"))
    )


def _sql_macd() -> str:
    tf = " + ".join(f"lag(pc, {j}) OVER w * {wq}" for j, wq in enumerate(_MACD_WF))
    ts_ = " + ".join(f"lag(pc, {j}) OVER w * {wq}" for j, wq in enumerate(_MACD_WS))
    tg = " + ".join(
        f"lag(mu, {j}) OVER w2 * {wq}" for j, wq in enumerate(_MACD_WG)
    )
    return f"""
WITH bars AS (
  SELECT 'U' || CAST(user_id AS VARCHAR) AS symbol,
         CAST(ts AS DATE) AS date_stamp,
         CAST(CAST(MAX(value) AS DECIMAL(12,2)) * 100 AS BIGINT) AS pc
  FROM events
  GROUP BY 1, 2
), m AS (
  SELECT symbol, date_stamp,
         CAST(({tf}) AS DOUBLE) / (CAST(100.0 AS DOUBLE) * CAST({float(_MACD_WF_SUM)!r} AS DOUBLE))
         - CAST(({ts_}) AS DOUBLE) / (CAST(100.0 AS DOUBLE) * CAST({float(_MACD_WS_SUM)!r} AS DOUBLE))
           AS macd
  FROM bars
  WINDOW w AS (PARTITION BY symbol ORDER BY date_stamp)
), mu AS (
  SELECT symbol, date_stamp, macd,
         CAST(floor(macd * 1000000.0 + 0.5) AS BIGINT) AS mu
  FROM m WHERE macd IS NOT NULL
), s AS (
  SELECT symbol, date_stamp, macd,
         CAST(({tg}) AS DOUBLE)
           / (CAST(1000000.0 AS DOUBLE) * CAST({float(_MACD_WG_SUM)!r} AS DOUBLE)) AS macd_signal
  FROM mu
  WINDOW w2 AS (PARTITION BY symbol ORDER BY date_stamp)
)
SELECT symbol, date_stamp, macd, macd_signal, macd - macd_signal AS histogram
FROM s WHERE macd_signal IS NOT NULL
"""


SECURITIES_QUERIES["sec_macd"] = sec_macd
SECURITIES_ORACLES["sec_macd"] = _sql_macd()


BOLL_N = 7  # demo frame (production 20 is a constant swap)
BOLL_K = 2  # band width in standard deviations


def sec_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands + %B per symbol: rolling mean ± K·σ over an
    N-bar frame, and the close's position inside the band — the
    mean-reversion companion to the momentum stack (`sec_macd`,
    `sec_sma_crossover`).

    Exactness: unlike `sec_rolling_vol` (engine `stddev_samp` over an
    identical frame), the band math here runs on EXACT integer-cent
    moments — Σpc and Σpc² accumulate in int64 over the frame, the
    sample-variance numerator n·Σpc²−(Σpc)² cancels in integers, and
    the only floats are the final sqrt/divisions from identical
    int64s (bounds: pc ≤ 2e7 cents ⇒ n·Σpc² ≤ 2.8e16 ≪ 2^63, loud
    ANSI overflow beyond). Zero-variance frames (a constant price —
    the fuzz-relational degenerate-group class) emit NULL %B on both
    engines instead of an ANSI ÷0 abort. Rows emit only when the
    frame is full. One shuffle+sort serves all three window columns.
    """
    from pyspark.sql import Window

    ev = ticks(spark, sf_dir)
    bars = ev.groupBy(
        F.concat(F.lit("U"), F.col("user_id")).alias("symbol"),
        F.to_date("ts").alias("date_stamp"),
    ).agg((F.max("value").cast("decimal(12,2)") * 100).cast("long").alias("pc"))
    w = Window.partitionBy("symbol").orderBy("date_stamp")
    wf = w.rowsBetween(-(BOLL_N - 1), 0)
    base = bars.select(
        "symbol",
        "date_stamp",
        "pc",
        F.sum("pc").over(wf).alias("s"),
        F.sum(F.col("pc") * F.col("pc")).over(wf).alias("ss"),
        F.lag("pc", BOLL_N - 1).over(w).isNotNull().alias("_full"),
    ).where(F.col("_full"))
    n = F.lit(BOLL_N).cast("long")
    var_num = (n * F.col("ss") - F.col("s") * F.col("s")).cast("double")
    sd = F.sqrt(var_num / F.lit(float(BOLL_N * (BOLL_N - 1)))) / F.lit(100.0)
    mid = F.col("s").cast("double") / F.lit(float(BOLL_N * 100))
    px = F.col("pc").cast("double") / F.lit(100.0)
    upper = mid + F.lit(float(BOLL_K)) * sd
    lower = mid - F.lit(float(BOLL_K)) * sd
    return base.select(
        "symbol",
        "date_stamp",
        px.alias("px"),
        mid.alias("mid"),
        upper.alias("upper"),
        lower.alias("lower"),
        F.when(sd > 0, (px - lower) / (upper - lower)).alias("pct_b"),
    )


def _sql_bollinger() -> str:
    nn = BOLL_N
    return f"""
WITH bars AS (
  SELECT 'U' || CAST(user_id AS VARCHAR) AS symbol,
         CAST(ts AS DATE) AS date_stamp,
         CAST(CAST(MAX(value) AS DECIMAL(12,2)) * 100 AS BIGINT) AS pc
  FROM events
  GROUP BY 1, 2
), f AS (
  SELECT symbol, date_stamp, pc,
         SUM(pc) OVER wf AS s,
         SUM(pc * pc) OVER wf AS ss,
         lag(pc, {nn - 1}) OVER w IS NOT NULL AS full_w
  FROM bars
  WINDOW w AS (PARTITION BY symbol ORDER BY date_stamp),
         wf AS (PARTITION BY symbol ORDER BY date_stamp
                ROWS BETWEEN {nn - 1} PRECEDING AND CURRENT ROW)
), b AS (
  SELECT symbol, date_stamp,
         CAST(pc AS DOUBLE) / 100.0 AS px,
         CAST(s AS DOUBLE) / {float(nn * 100)!r} AS mid,
         sqrt(CAST({nn} * ss - s * s AS DOUBLE) / {float(nn * (nn - 1))!r}) / 100.0 AS sd
  FROM f WHERE full_w
)
SELECT symbol, date_stamp, px, mid,
       mid + {float(BOLL_K)!r} * sd AS upper,
       mid - {float(BOLL_K)!r} * sd AS lower,
       CASE WHEN sd > 0
            THEN (px - (mid - {float(BOLL_K)!r} * sd))
                 / ((mid + {float(BOLL_K)!r} * sd) - (mid - {float(BOLL_K)!r} * sd))
       END AS pct_b
FROM b
"""


SECURITIES_QUERIES["sec_bollinger"] = sec_bollinger
SECURITIES_ORACLES["sec_bollinger"] = _sql_bollinger()


ATR_SPAN = 7  # truncated-EWMA span for the true-range average
_ATR_WQ = [round((1 - 2 / (ATR_SPAN + 1)) ** j * 1_000_000_000) for j in range(ATR_SPAN)]
_ATR_WQSUM = sum(_ATR_WQ)


def sec_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average True Range: the Wilder volatility indicator — true
    range = max(high−low, |high−prev_close|, |low−prev_close|) per
    bar, smoothed by a truncated EWMA. Unlike the close-only siblings
    this one consumes the full OHLC-ish bar (high = day max tick,
    low = day min, close = high here as elsewhere in the demo family).

    Exactness: high/low/close quantize to int64 cents at the bar
    aggregate, the true range is pure int max/abs (exact), and the
    EWMA is the sec_ewma ppb-integer recipe — one final double
    division, no float before it. One shuffle+sort serves the
    prev-close lag and the ATR lag chain.
    """
    from pyspark.sql import Window

    ev = ticks(spark, sf_dir)
    bars = ev.groupBy(
        F.concat(F.lit("U"), F.col("user_id")).alias("symbol"),
        F.to_date("ts").alias("date_stamp"),
    ).agg(
        (F.max("value").cast("decimal(12,2)") * 100).cast("long").alias("hc"),
        (F.min("value").cast("decimal(12,2)") * 100).cast("long").alias("lc"),
    )
    w = Window.partitionBy("symbol").orderBy("date_stamp")
    prev_close = F.lag("hc").over(w)  # close = day max, as in sec_ewma
    tr = F.greatest(
        F.col("hc") - F.col("lc"),
        F.abs(F.col("hc") - prev_close),
        F.abs(F.col("lc") - prev_close),
    )
    # NOTE: greatest() skips NULL arguments in both Spark and DuckDB, and
    # hc-lc is never NULL, so the first bar per symbol (prev_close NULL)
    # intentionally enters the EWMA chain with TR = high-low — Wilder's
    # first-TR convention.  The isNotNull filter below is therefore a
    # no-op kept only as a belt against future all-NULL inputs; it does
    # NOT drop the first bar.
    with_tr = bars.select("symbol", "date_stamp", tr.alias("tr")).where(
        F.col("tr").isNotNull()
    )
    total = F.lag("tr", 0).over(w) * F.lit(_ATR_WQ[0])
    for j, wq in enumerate(_ATR_WQ[1:], start=1):
        total = total + F.lag("tr", j).over(w) * F.lit(wq)
    return with_tr.select(
        "symbol",
        "date_stamp",
        (F.col("tr").cast("double") / F.lit(100.0)).alias("true_range"),
        (
            total.cast("double") / (F.lit(100.0) * F.lit(float(_ATR_WQSUM)))
        ).alias("atr"),
    ).where(F.col("atr").isNotNull())


def _sql_atr() -> str:
    terms = " + ".join(f"lag(tr, {j}) OVER w2 * {wq}" for j, wq in enumerate(_ATR_WQ))
    return f"""
WITH bars AS (
  SELECT 'U' || CAST(user_id AS VARCHAR) AS symbol,
         CAST(ts AS DATE) AS date_stamp,
         CAST(CAST(MAX(value) AS DECIMAL(12,2)) * 100 AS BIGINT) AS hc,
         CAST(CAST(MIN(value) AS DECIMAL(12,2)) * 100 AS BIGINT) AS lc
  FROM events
  GROUP BY 1, 2
), trs AS (
  SELECT symbol, date_stamp,
         greatest(hc - lc,
                  abs(hc - lag(hc) OVER w),
                  abs(lc - lag(hc) OVER w)) AS tr
  FROM bars
  WINDOW w AS (PARTITION BY symbol ORDER BY date_stamp)
), t2 AS (
  SELECT symbol, date_stamp, tr, {terms} AS tsum
  FROM trs WHERE tr IS NOT NULL
  WINDOW w2 AS (PARTITION BY symbol ORDER BY date_stamp)
)
SELECT symbol, date_stamp,
       CAST(tr AS DOUBLE) / 100.0 AS true_range,
       CAST(tsum AS DOUBLE) / (100.0 * CAST({float(_ATR_WQSUM)!r} AS DOUBLE)) AS atr
FROM t2 WHERE tsum IS NOT NULL
"""


SECURITIES_QUERIES["sec_atr"] = sec_atr
SECURITIES_ORACLES["sec_atr"] = _sql_atr()


STOCH_N = 7  # lookback for %K
STOCH_D = 3  # SMA span for %D


def sec_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator: %K = (close − lowest_low_N) /
    (highest_high_N − lowest_low_N), %D = its STOCH_D-bar SMA — the
    momentum-exhaustion gauge next to RSI.

    Exactness: window min/max over int64 cents are exact; %K quantizes
    through the shared HALF-UP micro-unit construction (int64 all the
    way — the round6_ratio recipe at 6 dp), so the %D SMA is an exact
    integer mean of quantized %Ks divided once at the end. Flat
    windows (highest = lowest) emit NULL %K on both engines.
    """
    from pyspark.sql import Window

    ev = ticks(spark, sf_dir)
    bars = ev.groupBy(
        F.concat(F.lit("U"), F.col("user_id")).alias("symbol"),
        F.to_date("ts").alias("date_stamp"),
    ).agg(
        (F.max("value").cast("decimal(12,2)") * 100).cast("long").alias("hc"),
        (F.min("value").cast("decimal(12,2)") * 100).cast("long").alias("lc"),
    )
    w = Window.partitionBy("symbol").orderBy("date_stamp")
    wf = w.rowsBetween(-(STOCH_N - 1), 0)
    hh = F.max("hc").over(wf)
    ll = F.min("lc").over(wf)
    full = F.lag("hc", STOCH_N - 1).over(w).isNotNull()
    num = F.col("hc") - F.col("_ll")
    den = F.col("_hh") - F.col("_ll")
    # half-up micro-unit %K in pure int64 (round6_ratio shape)
    t = num * F.lit(2_000_000) + den
    k_u = F.when(den > 0, ((t - F.pmod(t, F.lit(2) * den)) / (F.lit(2) * den)).cast("long"))
    base = (
        bars.select(
            "symbol", "date_stamp", "hc", hh.alias("_hh"), ll.alias("_ll"), full.alias("_f")
        )
        .where(F.col("_f"))
        .select("symbol", "date_stamp", k_u.alias("_ku"))
    )
    wd = Window.partitionBy("symbol").orderBy("date_stamp")
    d_parts = [F.lag("_ku", j).over(wd) for j in range(STOCH_D)]
    d_sum = d_parts[0]
    for p in d_parts[1:]:
        d_sum = d_sum + p
    return base.select(
        "symbol",
        "date_stamp",
        (F.col("_ku").cast("double") / F.lit(1_000_000.0)).alias("pct_k"),
        (d_sum.cast("double") / F.lit(float(STOCH_D) * 1_000_000.0)).alias("pct_d"),
    ).where(F.col("pct_d").isNotNull())


def _sql_stochastic() -> str:
    n = STOCH_N
    d_terms = " + ".join(f"lag(ku, {j}) OVER w2" for j in range(STOCH_D))
    return f"""
WITH bars AS (
  SELECT 'U' || CAST(user_id AS VARCHAR) AS symbol,
         CAST(ts AS DATE) AS date_stamp,
         CAST(CAST(MAX(value) AS DECIMAL(12,2)) * 100 AS BIGINT) AS hc,
         CAST(CAST(MIN(value) AS DECIMAL(12,2)) * 100 AS BIGINT) AS lc
  FROM events
  GROUP BY 1, 2
), f AS (
  SELECT symbol, date_stamp, hc,
         MAX(hc) OVER wf AS hh, MIN(lc) OVER wf AS ll,
         lag(hc, {n - 1}) OVER w IS NOT NULL AS full_w
  FROM bars
  WINDOW w AS (PARTITION BY symbol ORDER BY date_stamp),
         wf AS (PARTITION BY symbol ORDER BY date_stamp
                ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)
), k AS (
  SELECT symbol, date_stamp,
         CASE WHEN hh - ll > 0 THEN
           CAST(((hc - ll) * 2000000 + (hh - ll)) // (2 * (hh - ll)) AS BIGINT)
         END AS ku
  FROM f WHERE full_w
), s AS (
  SELECT symbol, date_stamp, ku, {d_terms} AS dsum
  FROM k
  WINDOW w2 AS (PARTITION BY symbol ORDER BY date_stamp)
)
SELECT symbol, date_stamp,
       CAST(ku AS DOUBLE) / 1000000.0 AS pct_k,
       CAST(dsum AS DOUBLE) / {float(STOCH_D) * 1_000_000.0!r} AS pct_d
FROM s WHERE dsum IS NOT NULL
"""


SECURITIES_QUERIES["sec_stochastic"] = sec_stochastic
SECURITIES_ORACLES["sec_stochastic"] = _sql_stochastic()




def sec_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol maximum drawdown — the risk metric every performance
    report pairs with Sharpe/Sortino: the worst peak-to-trough decline
    of the daily close series, with the trough date. Extension
    aggregate in the sec_* family (reference surface: the dbt
    analytics layer's per-symbol aggregates).

    Float discipline: the running peak is a window MAX (order-
    independent, no accumulation), the drawdown is ONE double division
    per row (close/peak − 1, identical IEEE op both engines; the tick
    gate guarantees close > 0 so the division is total), and the
    argmin picks by (drawdown asc, date asc) row_number — fully
    deterministic, no float sums anywhere. One symbol shuffle for the
    bar rollup; the peak/argmin windows reuse the same partitioning.
    """
    from pyspark.sql import Window

    ev = ticks(spark, sf_dir)
    bars = ev.groupBy(
        F.concat(F.lit("U"), F.col("user_id")).alias("symbol"),
        F.to_date("ts").alias("date_stamp"),
    ).agg(F.max("value").alias("close"))
    wpeak = (
        Window.partitionBy("symbol")
        .orderBy("date_stamp")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dd = (F.col("close") / F.max("close").over(wpeak) - 1).alias("dd")
    scored = bars.select("symbol", "date_stamp", dd)
    wpick = Window.partitionBy("symbol").orderBy(
        F.col("dd").asc(), F.col("date_stamp").asc()
    )
    wall = Window.partitionBy("symbol")
    return (
        scored.withColumn("rn", F.row_number().over(wpick))
        .withColumn("n_days", F.count(F.lit(1)).over(wall))
        .where(F.col("rn") == 1)
        .select(
            "symbol",
            F.col("n_days").cast("long").alias("n_days"),
            F.round("dd", 6).alias("max_drawdown"),
            F.col("date_stamp").alias("trough_date"),
        )
        .orderBy("symbol")
    )


SEC_MAX_DRAWDOWN_SQL = """
WITH bars AS (
  SELECT 'U' || CAST(user_id AS VARCHAR) AS symbol,
         CAST(ts AS DATE) AS date_stamp,
         MAX(value) AS close
  FROM events
  GROUP BY 1, 2
), scored AS (
  SELECT symbol, date_stamp,
         close / MAX(close) OVER (PARTITION BY symbol ORDER BY date_stamp
                                  ROWS UNBOUNDED PRECEDING) - 1 AS dd
  FROM bars
), picked AS (
  SELECT symbol, date_stamp, dd,
         ROW_NUMBER() OVER (PARTITION BY symbol
                            ORDER BY dd ASC, date_stamp ASC) AS rn,
         COUNT(*) OVER (PARTITION BY symbol) AS n_days
  FROM scored
)
SELECT symbol, CAST(n_days AS BIGINT) AS n_days,
       round(dd, 6) AS max_drawdown,
       date_stamp AS trough_date
FROM picked WHERE rn = 1 ORDER BY symbol
"""


SECURITIES_QUERIES["sec_max_drawdown"] = sec_max_drawdown
SECURITIES_ORACLES["sec_max_drawdown"] = SEC_MAX_DRAWDOWN_SQL





# every securities query reads events through the ``tick_ok`` admission
# gate (functions/gates.py, fuzz-derived: one NaN/±inf/1e308 "price"
# aborted the whole family at the ANSI decimal/cents casts) — wrap every
# oracle with the identical predicate at registration so the SQL side
# can never drift per-query
SECURITIES_ORACLES = {k: guard_ticks_sql(v) for k, v in SECURITIES_ORACLES.items()}
