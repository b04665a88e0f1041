"""Symbol/price cleaning transforms — DataFrame→DataFrame, no UDFs.

Re-expresses ``py_pipeline/transform.py`` on Spark:

- ``transform_stock_symbols`` ← transform_stocks_symbol_df (:29-63)
- ``transform_fx_symbols``    ← transform_fx_symbol_df (:66-69)
- ``transform_prices``        ← transform_price_df (:72-90), from the
  ``stack("Ticker", future_stack=True)`` (:80) on: it takes the long
  bars every price source already melted with
  ``sources.adapters.wide_bars_to_long`` (the wide CSV source
  included), so no wide frame reaches this module.

Semantics pinned against the reference:

- ``str.replace(".", "-")`` is a **literal** replace (pandas 2.x
  default regex=False) → ``F.replace``.
- FX recode is a **whole-value** map (``Series.replace`` dict), not a
  substring edit: CHF→USDCHF, CAD→USDCAD, JPY→USDJPY, applied *after*
  stripping the "=X" suffix.
- ``future_stack=True`` keeps rows whose OHLCV are all null (no
  dropna) — so do the melt and this transform.
- All-null wide columns (failed downloads, stray "Adj Close" ticker
  columns; transform.py:77-79) are pruned on the long form by a lazy
  per-symbol window: a ticker keeps all its rows iff any OHLCV value
  is non-null. "Adj Close" is never stacked.
- Volume arrives as a double (vendors and CSVs write ``53228400.0``
  once a ticker has a missing bar) and is cast to LONG here.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from securities_data_pipeline_spark.checks import validate_schema
from securities_data_pipeline_spark.schemas import RAW_FX_SYMBOLS, RAW_STOCK_SYMBOLS

_FX_RECODE = {"CHF": "USDCHF", "CAD": "USDCAD", "JPY": "USDJPY"}


def transform_stock_symbols(df: DataFrame, date_stamp: dt.date | str) -> DataFrame:
    """Clean the Wikipedia constituents scrape into the symbols
    dimension input (transform.py:29-63)."""
    df = validate_schema(df, RAW_STOCK_SYMBOLS)
    df = df.toDF(*[c.lower() for c in df.columns])
    df = df.withColumnsRenamed(
        {"security": "name", "gics sector": "sector", "gics sub-industry": "industry"}
    )
    if isinstance(date_stamp, str):
        date_stamp = dt.date.fromisoformat(date_stamp)
    return df.select(
        F.replace(F.col("symbol"), F.lit("."), F.lit("-")).alias("symbol"),
        F.col("name"),
        F.coalesce(F.col("sector"), F.lit("Missing")).alias("sector"),
        F.coalesce(F.col("industry"), F.lit("Missing")).alias("industry"),
        F.coalesce(F.col("in_sp400"), F.lit(False)).cast("boolean").alias("in_sp400"),
        F.coalesce(F.col("in_sp500"), F.lit(False)).cast("boolean").alias("in_sp500"),
        F.coalesce(F.col("in_sp600"), F.lit(False)).cast("boolean").alias("in_sp600"),
        F.lit(date_stamp).cast("date").alias("date_stamp"),
    )


def transform_fx_symbols(df: DataFrame) -> DataFrame:
    """Lower-case the single Symbol column; keeps the '=X' suffix —
    only the *price* path strips it (transform.py:66-69)."""
    df = validate_schema(df, RAW_FX_SYMBOLS)
    return df.toDF(*[c.lower() for c in df.columns])


def transform_prices(bars: DataFrame, asset_category: str) -> DataFrame:
    """Long price bars (``adapters.BARS_SCHEMA``, what every price
    source melts to) → validated rows (transform.py:80-90): prune
    all-null tickers → timestamp→date → Volume→LONG → FX recode.

    Lazy: no Spark job runs here."""
    # the prune spans every batch of the source: a source batch holds a
    # range of dates, so pruning inside one would drop a live ticker's
    # all-null days. symbol partitioning also satisfies merge_upsert's
    # (date_stamp, symbol) dedupe window, so the stock load shuffles
    # once; the FX recode below renames symbol, so its (tiny) load
    # shuffles twice
    fields = ("open", "high", "low", "close", "volume")
    live = F.count(F.coalesce(*fields)).over(Window.partitionBy("symbol")) > 0
    out = bars.select(
        F.to_date(F.col("date_stamp")).alias("date_stamp"),
        "symbol",
        *fields[:4],
        F.col("volume").cast("long").alias("volume"),
        live.alias("__live"),
    ).where("__live").drop("__live")
    if asset_category == "fx":
        stripped = F.replace(F.col("symbol"), F.lit("=X"), F.lit(""))
        recode = stripped
        for src, dst in _FX_RECODE.items():
            recode = F.when(stripped == src, dst).otherwise(recode)
        out = out.withColumn("symbol", recode)
    return out
