"""Pluggable source registry — the extractor dispatch layer.

Reference: ``py_pipeline/extract.py:16-39`` routes
``(dataset, asset_category, source)`` to a concrete extractor
(Wikipedia scrape, yfinance batch download, inline FX list, Delta
read-back). Here sources are registered callables returning DataFrames,
so tests plug in parquet/fixture sources exactly like the reference's
mocked tests, and production plugs in real web adapters.

The Wikipedia constituents scrape is a *driver-side* fetch of ~1,500
rows, handed to Spark as one Arrow-backed local relation. Market data
takes the scale path, ``fetch_prices_distributed``: partition the
symbol list and fetch per-partition on executors via ``mapInPandas``
(the Spark analog of the reference's 500-symbol chunking,
py_pipeline/orchestration.py:90-101).

The 7 FX pairs (py_pipeline/extract.py:67-77) are an inline literal
source. Every list-built frame here goes through
``sources/tables.local_rows``, so it plans as a JVM
``LocalTableScan`` and no job over it starts a Python worker.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

from securities_data_pipeline_spark.sources.tables import local_rows

SourceFn = Callable[..., DataFrame]

_REGISTRY: dict[tuple[str, str], SourceFn] = {}

#: the 7 major FX pairs, as listed inline at py_pipeline/extract.py:68-76
FX_PAIRS = (
    "EURUSD=X",
    "GBPUSD=X",
    "AUDUSD=X",
    "NZDUSD=X",
    "JPY=X",
    "CHF=X",
    "CAD=X",
)


def register_source(dataset: str, asset_category: str, fn: SourceFn) -> None:
    _REGISTRY[(dataset, asset_category)] = fn


def get_source(dataset: str, asset_category: str) -> SourceFn:
    try:
        return _REGISTRY[(dataset, asset_category)]
    except KeyError:
        raise ValueError(f"Unknown source: ({dataset}, {asset_category})") from None


def extract(spark: SparkSession, dataset: str, asset_category: str, **kwargs) -> DataFrame:
    """Dispatcher scan (extract.py:16-39)."""
    return get_source(dataset, asset_category)(spark, **kwargs)


def fx_symbols_source(spark: SparkSession, **_) -> DataFrame:
    """Inline literal source (extract.py:67-77)."""
    return local_rows(spark, [(s,) for s in FX_PAIRS], "Symbol string")


register_source("symbols", "fx", fx_symbols_source)


def fetch_prices_distributed(
    spark: SparkSession,
    symbols: list[str],
    fetch_batch: Callable[[list[str]], "object"],
    schema: str,
    batch_size: int = 500,
) -> DataFrame:
    """Scale path for market-data extraction: distribute symbol batches
    across executors, fetch per-partition, return one long DataFrame.

    ``fetch_batch(symbols) -> pandas.DataFrame`` is the per-batch
    adapter (yfinance-like). Network fetch happens on executors via
    ``mapInPandas`` — replacing the reference's serial driver-side
    500-symbol chunk loop with parallel partitioned fetch.
    """
    import pandas as pd  # local import: only needed on this path

    n_parts = max(1, (len(symbols) + batch_size - 1) // batch_size)
    sym_df = local_rows(spark, [(s,) for s in symbols], "symbol string").repartition(n_parts)

    def fetch(parts: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in parts:
            if len(pdf):
                yield fetch_batch(pdf["symbol"].tolist())

    return sym_df.mapInPandas(fetch, schema=schema)
