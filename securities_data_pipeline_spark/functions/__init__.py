from securities_data_pipeline_spark.functions.candles import ffill_candles, round_prices
from securities_data_pipeline_spark.functions.cleaning import (
    transform_fx_symbols,
    transform_prices,
    transform_stock_symbols,
)

__all__ = [
    "ffill_candles",
    "round_prices",
    "transform_fx_symbols",
    "transform_prices",
    "transform_stock_symbols",
]
