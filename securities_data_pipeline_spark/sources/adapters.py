"""Live web-source adapters behind the source registry — S2/S4.

Reference: ``py_pipeline/extract.py:45-65`` scrapes the S&P 400/500/600
constituent tables from Wikipedia with ``pd.read_html`` (browser UA
header), tags each with an ``in_sp{N}`` flag, and concatenates;
``extract.py:125-131`` batch-downloads OHLCV bars with
``yf.download`` and ``extract.py:134-137`` records symbols the vendor
failed to return. The reference's own tests never touch the network —
they inject fixture frames (tests/extract_test.py) — and this
container has no network either, so both adapters take an injectable
transport with the *exact* shape of the public library call
(``read_html(url) -> list[DataFrame]``;
``download(symbols, start, end) -> wide yfinance frame``) and default
to the real library, import-guarded.

Placement of work:

- the constituents scrape is ~1,500 rows from three HTML pages —
  a driver-side fetch handed to Spark as an Arrow-converted pandas
  frame (a JVM ``LocalTableScan``) is the right plan at any cluster
  size (there is nothing to distribute);
- the price fetch is per-symbol-batch and embarrassingly parallel —
  it rides ``fetch_prices_distributed`` (``mapInPandas`` over a
  partitioned symbol list), so executors fetch concurrently and the
  wide→long normalization (the reference's ``df.stack("Ticker")``,
  transform.py:80-83) happens per Arrow batch on the executor, never
  on the driver.

``wide_bars_to_long`` is the package's one wide→long kernel: this
fetch and ``wide_csv`` melt through it, so every price source hands
``transform_prices`` the same long bars.
It does no ``dropna``: like ``future_stack=True`` it keeps a live
ticker's all-NaN day, which ``fct_prices``' forward-fill then fills;
``transform_prices`` prunes tickers that have no value at all.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from securities_data_pipeline_spark.sources.registry import (
    fetch_prices_distributed,
    register_source,
)
from securities_data_pipeline_spark.sources.tables import local_rows

#: constituents pages scraped by the reference (extract.py:46)
WIKI_URL = "https://en.wikipedia.org/wiki/List_of_S%26P_{}_companies"
_UA = {"User-Agent": "Mozilla/5.0 (X11; Linux x86_64)"}

#: long OHLCV schema produced by the price adapter
BARS_SCHEMA = (
    "date_stamp timestamp, symbol string, open double, high double, "
    "low double, close double, volume double"
)


def _default_read_html(url: str):
    import pandas as pd

    return pd.read_html(url, storage_options=_UA)


def sp_stock_symbols_source(
    spark: SparkSession,
    *,
    read_html: Callable[[str], list] | None = None,
    **_,
) -> DataFrame:
    """S2: Wikipedia S&P 400/500/600 constituents scrape
    (extract.py:45-65). Each index's first page table is tagged
    ``in_sp{400,500,600}=True``; the three frames outer-union (a
    column present in one index's table and not another's comes
    through as null — U1 semantics), and absent flags normalize to
    False so the Spark schema is non-nullable boolean."""
    import pandas as pd

    reader = read_html or _default_read_html
    frames = []
    for n in (400, 500, 600):
        t = reader(WIKI_URL.format(n))[0].copy()
        t[f"in_sp{n}"] = True
        frames.append(t)
    sp = pd.concat(frames, ignore_index=True)
    for n in (400, 500, 600):
        # .eq(True): True→True, NaN/False→False without the object-
        # dtype fillna downcast warning pandas 2.x emits
        sp[f"in_sp{n}"] = sp[f"in_sp{n}"].eq(True)
    sp.columns = [str(c) for c in sp.columns]
    # a pandas frame goes through Arrow (a LocalTableScan) and keeps the
    # scraped tables' own columns, so it needs no DDL and no local_rows
    return spark.createDataFrame(sp)


def wide_bars_to_long(bars, batch_symbols: Sequence[str] | None = None):
    """Normalize a yfinance-shaped wide frame (index=Date, columns
    MultiIndex (Price field, Ticker)) to long ``BARS_SCHEMA`` rows — the
    executor-side analog of the reference's
    ``df.stack("Ticker", future_stack=True)`` (transform.py:80-83).
    A single-symbol frame (flat columns) is lifted to the MultiIndex
    form first, ``batch_symbols`` supplying the ticker name."""
    import pandas as pd

    df = bars.copy()
    if not isinstance(df.columns, pd.MultiIndex):
        if not batch_symbols or len(batch_symbols) != 1:
            raise ValueError("flat-column bars need exactly one batch symbol")
        df.columns = pd.MultiIndex.from_product(
            [df.columns, batch_symbols], names=["Price", "Ticker"]
        )
    if df.columns.names[-1] != "Ticker":
        df.columns = df.columns.set_names("Ticker", level=-1)
    long = df.stack("Ticker", future_stack=True).reset_index()
    long.columns = [str(c).lower() for c in long.columns]
    # the stacked index column is 'date' for daily bars but 'datetime'
    # for intraday frames and 'index' for unnamed indexes — all three
    # must land on date_stamp or the projection below KeyErrors on
    # executors
    long = long.rename(
        columns={
            "ticker": "symbol",
            "date": "date_stamp",
            "datetime": "date_stamp",
            "index": "date_stamp",
        }
    )
    cols = ["date_stamp", "symbol", "open", "high", "low", "close", "volume"]
    for c in cols[2:]:
        if c not in long.columns:
            long[c] = float("nan")
    long = long[cols]
    long["date_stamp"] = pd.to_datetime(long["date_stamp"])
    long[cols[2:]] = long[cols[2:]].astype("float64")
    return long


def _default_downloader(
    symbols: list[str], start: dt.date | str | None, end: dt.date | str | None
):
    try:  # pragma: no cover - yfinance not installed in this container
        import yfinance as yf
    except ImportError as e:  # documented blocker: no network/vendor here
        raise ImportError(
            "yfinance is not installed; inject `downloader=` (tests do) "
            "or install it on the cluster"
        ) from e
    return yf.download(symbols, start=start, end=end, auto_adjust=True)


def price_history_source(
    spark: SparkSession,
    *,
    symbols: Sequence[str],
    start_date: dt.date | str | None = None,
    end_date: dt.date | str | None = None,
    downloader: Callable | None = None,
    batch_size: int = 500,
    **_,
) -> DataFrame:
    """S4: market-data batch fetch (extract.py:125-131) on the
    distributed path: symbols partition into ≤``batch_size`` batches,
    each executor calls the yfinance-shaped ``downloader`` once per
    batch and normalizes wide→long in the same Arrow batch. Volume
    stays double here (vendors emit NaN); cast at the merge sink.

    Partial-failure parity with the reference (extract.py:110-137): a
    batch whose fetch or normalization raises yields ZERO rows instead
    of killing the whole job — every symbol of the failed batch then
    surfaces through ``failed_symbols`` exactly like symbols the
    vendor individually declined, and the rest of the fetch loads."""
    dl = downloader or _default_downloader

    def fetch_batch(batch: list[str]):
        import sys

        import pandas as pd

        try:
            return wide_bars_to_long(dl(batch, start_date, end_date), batch)
        except Exception as ex:
            # tolerated (the batch surfaces via failed_symbols) but NOT
            # silent: without the log, a code defect in the normalizer
            # or schema drift is indistinguishable from a vendor outage
            print(
                f"# price_history batch fetch failed "
                f"({len(batch)} symbols: {batch[:5]}{'...' if len(batch) > 5 else ''}): "
                f"{type(ex).__name__}: {ex}",
                file=sys.stderr,
            )
            return pd.DataFrame(
                columns=[
                    "date_stamp", "symbol", "open", "high", "low", "close", "volume",
                ]
            )

    return fetch_prices_distributed(
        spark, list(symbols), fetch_batch, schema=BARS_SCHEMA, batch_size=batch_size
    )


def failed_symbols(spark: SparkSession, requested: Sequence[str], bars: DataFrame) -> DataFrame:
    """The ``YF_ERRORS`` analog (extract.py:119,134-137): symbols that
    were requested but have no bar with a non-null OHLCV value — an
    anti-join against the fetched result, so detection is distributed
    and exact."""
    req = local_rows(spark, [(s,) for s in requested], "symbol string")
    live = bars.where(F.coalesce("open", "high", "low", "close", "volume").isNotNull())
    return req.join(live.select("symbol").distinct(), "symbol", "left_anti")


register_source("symbols", "sp_stocks", sp_stock_symbols_source)
register_source("price_history", "sp_stocks", price_history_source)
register_source("price_history", "fx", price_history_source)
