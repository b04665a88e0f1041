"""Symbol/price cleaning parity (py_pipeline/transform.py semantics)."""

import datetime as dt

import pytest

from securities_data_pipeline_spark.checks import SchemaErrors
from securities_data_pipeline_spark.functions.cleaning import (
    transform_fx_symbols,
    transform_prices,
    transform_stock_symbols,
)

RAW_SYMBOL_SCHEMA = (
    "Symbol string, Security string, `GICS Sector` string, `GICS Sub-Industry` string, "
    "in_sp400 boolean, in_sp500 boolean, in_sp600 boolean, CIK string"
)


def test_stock_symbols_cleaning(spark):
    raw = spark.createDataFrame(
        [
            ("BRK.B", "Berkshire", "Financials", "Insurance", None, True, None, "123"),
            ("AAA", "Aaa Corp", None, None, True, None, None, "456"),
        ],
        RAW_SYMBOL_SCHEMA,
    )
    out = {r.symbol: r for r in transform_stock_symbols(raw, dt.date(2025, 1, 2)).collect()}
    brk = out["BRK-B"]  # '.' → '-' (literal replace)
    assert brk.name == "Berkshire"
    assert (brk.in_sp400, brk.in_sp500, brk.in_sp600) == (False, True, False)
    aaa = out["AAA"]
    assert (aaa.sector, aaa.industry) == ("Missing", "Missing")
    assert aaa.date_stamp == dt.date(2025, 1, 2)
    # extra scrape columns (CIK) dropped; 8-col projection in order
    cols = transform_stock_symbols(raw, "2025-01-02").columns
    assert cols == ["symbol", "name", "sector", "industry", "in_sp400", "in_sp500", "in_sp600", "date_stamp"]


def test_stock_symbols_missing_column_raises_all_errors(spark):
    raw = spark.createDataFrame([("A",)], "Symbol string")
    with pytest.raises(SchemaErrors) as ei:
        transform_stock_symbols(raw, "2025-01-02")
    # lazy validation: every missing column reported at once
    assert len(ei.value.errors) >= 2


def test_fx_symbols_keeps_suffix(spark):
    raw = spark.createDataFrame([("EURUSD=X",), ("JPY=X",)], "Symbol string")
    out = transform_fx_symbols(raw)
    assert out.columns == ["symbol"]
    assert {r.symbol for r in out.collect()} == {"EURUSD=X", "JPY=X"}


def _wide(spark):
    return spark.createDataFrame(
        [
            (dt.datetime(2025, 1, 1), 10.0, 11.0, 9.0, 10.5, 100, None, 1.1, 1.2, 1.0, 1.15, 0),
            (dt.datetime(2025, 1, 2), None, None, None, None, None, None, None, None, None, None, None),
        ],
        "date timestamp, Open_AAA double, High_AAA double, Low_AAA double, Close_AAA double, "
        "Volume_AAA long, `Open_DEAD` double, `Open_JPY=X` double, `High_JPY=X` double, "
        "`Low_JPY=X` double, `Close_JPY=X` double, `Volume_JPY=X` long",
    )


def test_transform_prices_prunes_all_null_ticker(spark):
    """transform.py:77-79 parity: a ticker whose every field column is
    null (failed download) is pruned; live tickers survive."""
    symbols = {r.symbol for r in transform_prices(_wide(spark), "sp_stocks").collect()}
    assert "DEAD" not in symbols
    assert "AAA" in symbols


def test_transform_prices_keeps_all_null_rows(spark):
    """pandas future_stack=True parity: day-2 all-null rows survive."""
    long_df = transform_prices(_wide(spark), "sp_stocks")
    assert long_df.count() == 4  # 2 dates × 2 surviving tickers
    cols = set(long_df.columns)
    assert cols == {"date_stamp", "symbol", "open", "high", "low", "close", "volume"}


def test_transform_prices_all_null_tickers_yield_empty_long_frame(spark):
    """Every ticker column null (every download failed): the reference's
    dropna(axis=1, how="all") → stack returns an empty frame, and so
    does this — with the long schema, not an error."""
    wide = spark.createDataFrame(
        [(dt.datetime(2025, 1, 1), None, None), (dt.datetime(2025, 1, 2), None, None)],
        "date timestamp, Close_DEAD double, `Volume_BRK.B` long",
    )
    out = transform_prices(wide, "sp_stocks")
    assert out.columns == ["date_stamp", "symbol", "open", "high", "low", "close", "volume"]
    assert out.count() == 0


def test_transform_prices_without_ticker_columns(spark):
    """No {Field}_{TICKER} column at all: an empty frame is a no-op
    with the long schema, a non-empty one has nothing to reshape."""
    empty = spark.createDataFrame([], "date timestamp, `Adj Close_AAA` double")
    assert transform_prices(empty, "fx").count() == 0
    wide = spark.createDataFrame([(dt.datetime(2025, 1, 1), 1.0)], "date timestamp, `Adj Close_AAA` double")
    with pytest.raises(ValueError, match="no \\{Field\\}_\\{TICKER\\} columns"):
        transform_prices(wide, "fx")


def test_transform_prices_fx_recode(spark):
    out = transform_prices(_wide(spark), "fx")
    symbols = {r.symbol for r in out.collect()}
    # '=X' stripped then whole-value recode JPY→USDJPY; AAA untouched
    assert symbols == {"AAA", "USDJPY"}
    assert {str(r.date_stamp) for r in out.collect()} == {"2025-01-01", "2025-01-02"}


def test_transform_prices_stock_no_recode(spark):
    out = transform_prices(_wide(spark), "sp_stocks")
    assert {r.symbol for r in out.collect()} == {"AAA", "JPY=X"}


def test_surrogate_key_dbt_parity(spark):
    """md5('a-b') for plain values; NULL coalesces to dbt's sentinel
    BEFORE the join so null position matters and (NULL,'a') ≠ ('a',NULL)."""
    import hashlib

    from securities_data_pipeline_spark.functions.hashing import surrogate_key

    df = spark.createDataFrame(
        [("a", "b"), (None, "a"), ("a", None)], "x string, y string"
    )
    got = [r.k for r in df.select(surrogate_key("x", "y").alias("k")).collect()]
    sent = "_dbt_utils_surrogate_key_null_"
    want = [
        hashlib.md5(s.encode()).hexdigest()
        for s in ("a-b", f"{sent}-a", f"a-{sent}")
    ]
    assert got == want
    assert len(set(got)) == 3
