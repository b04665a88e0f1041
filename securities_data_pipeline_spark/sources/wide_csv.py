"""Two-level-header CSV source — the yfinance wide-matrix format.

Reference: raw price fixtures are CSVs with a 2-level column header
(``Price`` row then ``Ticker`` row) read via
``pd.read_csv(..., header=[0,1], index_col=[0], parse_dates=True)``
(tests/transform_test.py:76-81; shape declared at
py_pipeline/validate.py:51-72). Spark CSV has no multi-header support,
so:

1. the two header lines are read driver-side (two lines — no data
   volume) into a ``(field, ticker)`` map of the OHLCV columns;
2. the file is read with ``spark.read.text``: one string column at any
   width, so no plan grows with the ticker count;
3. ``mapInPandas`` parses each batch of lines and melts it with
   ``adapters.wide_bars_to_long``, the package's one wide→long kernel,
   into long ``BARS_SCHEMA`` bars. Lines whose first cell is no
   ISO-8601 timestamp (the header rows) are dropped, and an
   unparseable number becomes null. Naive stamps read as UTC, the
   session time zone.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession

from securities_data_pipeline_spark.schemas import WIDE_PRICE_FIELDS
from securities_data_pipeline_spark.sources.adapters import BARS_SCHEMA, wide_bars_to_long


def _stamps(cells):
    """First CSV cell → UTC timestamp, NaT where it is no timestamp."""
    import pandas as pd

    return pd.to_datetime(cells.str.strip(), errors="coerce", utc=True, format="ISO8601")


def read_wide_price_csv(spark: SparkSession, path: str) -> DataFrame:
    with open(path) as f:
        fields = [c.strip() for c in f.readline().rstrip("\n").split(",")]
        tickers = [c.strip() for c in f.readline().rstrip("\n").split(",")]
        if len(fields) != len(tickers):
            raise ValueError(
                f"ragged 2-level header: {len(fields)} field cells vs "
                f"{len(tickers)} ticker cells in {path}"
            )
        # cell 0 is the index header ('Price'/'Ticker'); Adj Close and any
        # other non-OHLCV field is never stacked
        header = {i: (fields[i], tickers[i]) for i in range(1, len(fields)) if fields[i] in WIDE_PRICE_FIELDS}
        if not header:
            import pandas as pd

            if _stamps(pd.Series([line.split(",", 1)[0] for line in f])).notna().any():
                raise ValueError(f"no OHLCV field in the 2-level header of {path}")

    dupes = {pair for pair, k in Counter(zip(fields[1:], tickers[1:])).items() if k > 1}
    if dupes:
        # a repeated (field, ticker) header pair would stack two values
        # into one cell — fail at the scan
        raise ValueError(f"duplicate (field, ticker) header columns in {path}: {sorted(dupes)}")

    width = len(fields)

    def melt(batches):
        import io

        import pandas as pd

        for pdf in batches:
            lines = pdf["value"]
            stamp = _stamps(lines.str.split(",", n=1).str[0])
            keep = stamp.notna()
            if not keep.any():
                continue
            # short rows pad with NaN and long rows truncate, as Spark's
            # PERMISSIVE CSV mode does (usecols would reject short rows)
            text = io.StringIO("\n".join(lines[keep]))
            wide = pd.read_csv(text, header=None, names=range(width), index_col=False)[list(header)]
            # a column holding an unparseable cell reads as text
            unparsed = wide.columns[wide.dtypes == object]
            if len(unparsed):
                wide[unparsed] = wide[unparsed].apply(pd.to_numeric, errors="coerce")
            wide.columns = pd.MultiIndex.from_tuples([header[i] for i in wide.columns], names=["Price", "Ticker"])
            wide.index = pd.DatetimeIndex(stamp[keep], name="Date")
            yield wide_bars_to_long(wide)

    return spark.read.text(path).mapInPandas(melt, BARS_SCHEMA)
