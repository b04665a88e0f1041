"""Symbol/price cleaning parity (py_pipeline/transform.py semantics)."""

import datetime as dt

import pytest

from securities_data_pipeline_spark.checks import SchemaErrors
from securities_data_pipeline_spark.functions.cleaning import (
    transform_fx_symbols,
    transform_prices,
    transform_stock_symbols,
)
from securities_data_pipeline_spark.sources.wide_csv import read_wide_price_csv
from tests.conftest import yf_frame

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


BARS = "date_stamp timestamp, symbol string, open double, high double, low double, close double, volume double"


def _bars(spark):
    """Long bars as every price source melts them: AAA and JPY=X live on
    day 1, every ticker all-null on day 2, DEAD all-null throughout (a
    failed download)."""
    d1, d2 = dt.datetime(2025, 1, 1), dt.datetime(2025, 1, 2)
    return spark.createDataFrame(
        [
            (d1, "AAA", 10.0, 11.0, 9.0, 10.5, 100.0),
            (d1, "DEAD", None, None, None, None, None),
            (d1, "JPY=X", 1.1, 1.2, 1.0, 1.15, 0.0),
        ]
        + [(d2, s, None, None, None, None, None) for s in ("AAA", "DEAD", "JPY=X")],
        BARS,
    )


def test_transform_prices_prunes_all_null_ticker(spark):
    """transform.py:77-79 parity: a ticker whose every field column is
    null (failed download) is pruned; live tickers survive."""
    symbols = {r.symbol for r in transform_prices(_bars(spark), "sp_stocks").collect()}
    assert "DEAD" not in symbols
    assert "AAA" in symbols


def test_transform_prices_keeps_all_null_rows(spark):
    """pandas future_stack=True parity: day-2 all-null rows survive."""
    long_df = transform_prices(_bars(spark), "sp_stocks")
    assert long_df.count() == 4  # 2 dates × 2 surviving tickers
    assert long_df.columns == ["date_stamp", "symbol", "open", "high", "low", "close", "volume"]
    assert dict(long_df.dtypes)["volume"] == "bigint"


def test_transform_prices_all_null_tickers_yield_empty_long_frame(spark):
    """Every ticker column null (every download failed): the reference's
    dropna(axis=1, how="all") → stack returns an empty frame, and so
    does this — with the long schema, not an error."""
    bars = spark.createDataFrame(
        [(dt.datetime(2025, 1, d), s, None, None, None, None, None) for d in (1, 2) for s in ("DEAD", "BRK.B")],
        BARS,
    )
    out = transform_prices(bars, "sp_stocks")
    assert out.columns == ["date_stamp", "symbol", "open", "high", "low", "close", "volume"]
    assert out.count() == 0


def test_transform_prices_without_ticker_columns(spark, tmp_path):
    """A fetch whose header has no OHLCV field: without a data row it is
    a no-op with the long schema, with one it has nothing to reshape."""
    empty = tmp_path / "empty.csv"
    yf_frame([], {("Adj Close", "AAA"): []}).to_csv(empty)
    assert transform_prices(read_wide_price_csv(spark, str(empty)), "fx").count() == 0
    wide = tmp_path / "wide.csv"
    yf_frame([dt.datetime(2025, 1, 1)], {("Adj Close", "AAA"): [1.0]}).to_csv(wide)
    with pytest.raises(ValueError, match="no OHLCV field"):
        read_wide_price_csv(spark, str(wide))


def test_transform_prices_fx_recode(spark):
    out = transform_prices(_bars(spark), "fx")
    symbols = {r.symbol for r in out.collect()}
    # '=X' stripped then whole-value recode JPY→USDJPY; AAA untouched
    assert symbols == {"AAA", "USDJPY"}
    assert {str(r.date_stamp) for r in out.collect()} == {"2025-01-01", "2025-01-02"}


def test_transform_prices_stock_no_recode(spark):
    out = transform_prices(_bars(spark), "sp_stocks")
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
