"""Declared StructType contracts for every pipeline stage.

Mirrors the reference's six pandera ``DataFrameSchema``s
(py_pipeline/validate.py:9-85) as explicit Spark schemas. Validation
semantics (coercion, nullability, regex wide-column matching) live in
``checks.py``; this module is pure declaration.
"""

from __future__ import annotations

from pyspark.sql import types as T

# raw Wikipedia S&P constituents scrape (validate.py:9-20). Extra scrape
# columns (Headquarters Location, CIK, ...) are permitted and dropped by
# the transform, exactly like pandera's default non-strict mode.
RAW_STOCK_SYMBOLS = T.StructType(
    [
        T.StructField("Symbol", T.StringType(), False),
        T.StructField("Security", T.StringType(), False),
        T.StructField("GICS Sector", T.StringType(), True),
        T.StructField("GICS Sub-Industry", T.StringType(), True),
        T.StructField("in_sp400", T.BooleanType(), True),
        T.StructField("in_sp500", T.BooleanType(), True),
        T.StructField("in_sp600", T.BooleanType(), True),
    ]
)

# raw FX symbol list (validate.py:22-24)
RAW_FX_SYMBOLS = T.StructType([T.StructField("Symbol", T.StringType(), False)])

# transformed stock symbols (validate.py:29-41): all non-null after
# cleaning (missing text → 'Missing', missing flags → False)
TRANSFORMED_STOCK_SYMBOLS = T.StructType(
    [
        T.StructField("symbol", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("sector", T.StringType(), False),
        T.StructField("industry", T.StringType(), False),
        T.StructField("in_sp400", T.BooleanType(), False),
        T.StructField("in_sp500", T.BooleanType(), False),
        T.StructField("in_sp600", T.BooleanType(), False),
        T.StructField("date_stamp", T.DateType(), False),
    ]
)

# transformed FX symbols (validate.py:43-46) — single column, keeps '=X'
TRANSFORMED_FX_SYMBOLS = T.StructType([T.StructField("symbol", T.StringType(), False)])

# long/processed prices (validate.py:74-85). PK (date_stamp, symbol).
TRANSFORMED_PRICES = T.StructType(
    [
        T.StructField("date_stamp", T.DateType(), False),
        T.StructField("symbol", T.StringType(), False),
        T.StructField("open", T.DoubleType(), True),
        T.StructField("high", T.DoubleType(), True),
        T.StructField("low", T.DoubleType(), True),
        T.StructField("close", T.DoubleType(), True),
        T.StructField("volume", T.LongType(), True),
    ]
)

# warehouse star schema outputs (dw_transformer/models/core/*.sql)
DIM_SYMBOLS = T.StructType(
    [
        T.StructField("symbol", T.StringType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("sector", T.StringType(), True),
        T.StructField("industry", T.StringType(), True),
        T.StructField("asset_type", T.StringType(), False),
        T.StructField("in_sp400", T.BooleanType(), True),
        T.StructField("in_sp500", T.BooleanType(), True),
        T.StructField("in_sp600", T.BooleanType(), True),
        T.StructField("date_stamp", T.DateType(), True),
    ]
)

FCT_PRICES = TRANSFORMED_PRICES

#: wide-format price matrix contract (validate.py:51-72): the ``Price``
#: fields of the (Price, Ticker) header that the wide→long melt stacks;
#: any other field (``Adj Close``) is never stacked.
WIDE_PRICE_FIELDS = ("Open", "High", "Low", "Close", "Volume")
