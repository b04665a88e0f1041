"""Byte-level parity with the reference's own recorded fixtures.

The reference pins its extract/transform path against recorded data in
tests/data/: raw Wikipedia-shaped constituent tables and raw yfinance
wide CSVs in, golden processed parquet frames out
(tests/transform_test.py:32-90, tests/extract_test.py:44-72). These
tests run OUR full parse path — header normalization, in_spNNN
tagging, literal BRK.B→BRK-B replace, all-null column pruning,
wide→long unpivot, FX =X-strip + whole-value recode — over the SAME
recorded inputs and assert row-level equality with the SAME goldens.
"""

import datetime as dt
import os

import pandas as pd
import pytest

from securities_data_pipeline_spark.functions.cleaning import (
    transform_fx_symbols,
    transform_prices,
    transform_stock_symbols,
)
from securities_data_pipeline_spark.sources.adapters import sp_stock_symbols_source
from securities_data_pipeline_spark.sources.wide_csv import read_wide_price_csv

REF_DATA = "/root/reference/tests/data"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF_DATA),
    reason=(
        f"reference fixtures absent at {REF_DATA} and not fetchable offline: "
        "byte-parity with the reference goldens was NOT checked (a skip is not a pass)"
    ),
)

#: Wikipedia page columns (everything the scrape returns before the
#: pipeline attaches in_sp* flags)
_WIKI_COLS = [
    "Symbol",
    "Security",
    "GICS Sector",
    "GICS Sub-Industry",
    "Headquarters Location",
    "SEC filings",
    "Date Added",
    "CIK",
    "Founded",
]


def _recorded_read_html(url: str):
    """Transport injection reconstructing the three per-index Wikipedia
    tables from the reference's recorded post-concat frame: rows whose
    in_sp{N} flag is set belong to index N's page (the flag is exactly
    what the scrape loop attaches, extract.py:45-65)."""
    raw = pd.read_csv(os.path.join(REF_DATA, "raw_sp_stocks_symbols.csv"))
    for n in (400, 500, 600):
        if str(n) in url:
            page = raw[raw[f"in_sp{n}"] == True]  # noqa: E712 — NaN-laden object col
            return [page[_WIKI_COLS].reset_index(drop=True)]
    raise AssertionError(f"unexpected url {url}")


def test_stock_symbols_full_path_matches_reference_golden(spark):
    """scrape (recorded pages) → outer-union + in_spNNN tagging →
    transform → golden processed_sp_stocks_symbols.parquet rows."""
    scraped = sp_stock_symbols_source(spark, read_html=_recorded_read_html)
    out = transform_stock_symbols(scraped, dt.date(2000, 1, 3)).toPandas()

    golden = pd.read_parquet(
        os.path.join(REF_DATA, "processed_sp_stocks_symbols.parquet"),
        filters=[("date_stamp", "=", pd.Timestamp("2000-01-03").date())],
    )
    assert list(out.columns) == list(golden.columns)
    got = sorted(map(tuple, out.astype(str).values.tolist()))
    want = sorted(map(tuple, golden.astype(str).values.tolist()))
    assert got == want  # includes B.B→B-B, D.A→D-A, Missing recodes


def test_fx_symbols_match_reference_golden(spark):
    raw = pd.read_csv(os.path.join(REF_DATA, "raw_fx_symbols.csv"))
    out = transform_fx_symbols(spark.createDataFrame(raw)).toPandas()
    golden = pd.read_parquet(os.path.join(REF_DATA, "processed_fx_symbols.parquet"))
    assert list(out.columns) == list(golden.columns)
    # '=X' suffix must survive the symbols path (only prices strip it)
    assert sorted(out["symbol"]) == sorted(golden["symbol"])


@pytest.mark.parametrize("asset_category", ("fx", "sp_stocks"))
def test_prices_full_path_matches_reference_golden(spark, asset_category):
    """raw two-level-header wide CSV → Spark read → all-null column
    prune → stack unpivot → FX recode → golden processed parquet.
    The invalid-symbol columns (recorded vendor failures, all-NaN)
    must vanish in the prune step, exactly as the reference drops
    them (transform.py:77-79)."""
    wide = read_wide_price_csv(
        spark, os.path.join(REF_DATA, f"raw_{asset_category}_prices.csv")
    )
    out = transform_prices(wide, asset_category).toPandas()

    golden = pd.read_parquet(
        os.path.join(REF_DATA, f"processed_{asset_category}_prices.parquet")
    )
    assert list(out.columns) == list(golden.columns)

    def canon(df):
        rows = []
        for r in df.itertuples(index=False):
            rows.append(
                (
                    str(r.date_stamp),
                    r.symbol,
                    *[round(float(v), 9) for v in (r.open, r.high, r.low, r.close)],
                    int(r.volume),
                )
            )
        return sorted(rows)

    assert canon(out) == canon(golden)
