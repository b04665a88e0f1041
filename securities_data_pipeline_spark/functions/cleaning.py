"""Symbol/price cleaning transforms — DataFrame→DataFrame, no UDFs.

Re-expresses ``py_pipeline/transform.py`` on Spark:

- ``transform_stock_symbols`` ← transform_stocks_symbol_df (:29-63)
- ``transform_fx_symbols``    ← transform_fx_symbol_df (:66-69)
- ``transform_prices``        ← transform_price_df (:72-90)
- ``unpivot_wide_prices``     ← the pandas ``stack("Ticker",
  future_stack=True)`` wide→long reshape (:80) as a ``stack()``
  expression — a narrow, shuffle-free transform.

Semantics pinned against the reference:

- ``str.replace(".", "-")`` is a **literal** replace (pandas 2.x
  default regex=False) → ``F.replace``.
- FX recode is a **whole-value** map (``Series.replace`` dict), not a
  substring edit: CHF→USDCHF, CAD→USDCAD, JPY→USDJPY, applied *after*
  stripping the "=X" suffix.
- ``future_stack=True`` keeps rows whose OHLCV are all null (no
  dropna) — so does ``stack()`` here.
- All-null wide columns (failed downloads, stray "Adj Close" ticker
  columns; transform.py:77-79) are pruned on the long form by a lazy
  per-symbol window: a ticker keeps all its rows iff any OHLCV value
  is non-null. "Adj Close" is never stacked.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from securities_data_pipeline_spark.checks import validate_schema
from securities_data_pipeline_spark.schemas import (
    RAW_FX_SYMBOLS,
    RAW_STOCK_SYMBOLS,
    WIDE_PRICE_FIELDS,
)

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


def unpivot_wide_prices(df: DataFrame) -> DataFrame:
    """Wide ``(field, ticker)`` matrix → long OHLCV rows.

    Input: ``date timestamp`` + ``{Field}_{TICKER}`` columns (the
    flattened yfinance 2-level index — py_pipeline/validate.py:51-72).
    Output: ``date, symbol, open, high, low, close, volume``.

    Implemented as one ``stack(n, ...)`` generator expression: narrow
    (no shuffle), null rows retained (future_stack parity). Missing
    fields for a ticker become typed NULL literals.
    """
    tickers = sorted(
        {c.split("_", 1)[1] for c in df.columns if "_" in c and c.split("_", 1)[0] in WIDE_PRICE_FIELDS}
    )
    if not tickers:
        raise ValueError("no {Field}_{TICKER} columns found in wide price frame")
    have = set(df.columns)
    parts: list[str] = []
    for t in tickers:
        row = [f"'{t}'"]
        for field in WIDE_PRICE_FIELDS:
            col, typ = f"{field}_{t}", ("BIGINT" if field == "Volume" else "DOUBLE")
            row.append(f"CAST(`{col}` AS {typ})" if col in have else f"CAST(NULL AS {typ})")
        parts.append(", ".join(row))
    stack_expr = (
        f"stack({len(tickers)}, {', '.join(parts)}) AS (symbol, open, high, low, close, volume)"
    )
    return df.select("date", F.expr(stack_expr))


def transform_prices(df: DataFrame, asset_category: str) -> DataFrame:
    """Raw wide price matrix → long validated rows (transform.py:72-90):
    unpivot → prune all-null tickers → timestamp→date → FX recode.

    Lazy: no Spark job runs here unless the frame has no
    ``{Field}_{TICKER}`` column at all."""
    try:
        long_df = unpivot_wide_prices(df)
    except ValueError:
        if not df.isEmpty():
            raise
        # an empty fetch must short-circuit to an empty LONG-schema
        # frame — returning the raw wide frame would crash downstream
        # (load_prices partitions by date_stamp/symbol, which the wide
        # schema lacks), turning a no-op vendor day into a pipeline
        # abort
        return df.sparkSession.createDataFrame(
            [],
            "date_stamp date, symbol string, open double, high double, "
            "low double, close double, volume bigint",
        )
    # symbol partitioning also satisfies merge_upsert's (date_stamp,
    # symbol) dedupe window, so the stock load shuffles once; the FX
    # recode below renames symbol, so its (tiny) load shuffles twice
    fields = ("open", "high", "low", "close", "volume")
    live = F.count(F.coalesce(*fields)).over(Window.partitionBy("symbol")) > 0
    out = long_df.select(
        F.to_date(F.col("date")).alias("date_stamp"), "symbol", *fields, live.alias("__live")
    ).where("__live").drop("__live")
    if asset_category == "fx":
        stripped = F.replace(F.col("symbol"), F.lit("=X"), F.lit(""))
        recode = stripped
        for src, dst in _FX_RECODE.items():
            recode = F.when(stripped == src, dst).otherwise(recode)
        out = out.withColumn("symbol", recode)
    return out
