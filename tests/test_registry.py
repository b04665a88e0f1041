"""Source registry dispatch + distributed partitioned fetch (the Spark
replacement for the reference's 500-symbol chunk loop)."""

import pandas as pd
import pytest

from securities_data_pipeline_spark.sources.registry import (
    FX_PAIRS,
    extract,
    fetch_prices_distributed,
    register_source,
)


def test_fx_inline_source_and_dispatch(spark):
    df = extract(spark, "symbols", "fx")
    assert [r.Symbol for r in df.collect()] == list(FX_PAIRS)
    with pytest.raises(ValueError, match="Unknown source"):
        extract(spark, "symbols", "bonds")


def test_fx_symbols_plan_as_a_jvm_local_relation(spark):
    """The FX symbol list is embedded in the plan: no job over it starts
    a Python worker to unpickle rows."""
    plan = extract(spark, "symbols", "fx")._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_register_custom_source(spark):
    register_source("symbols", "custom", lambda s, **kw: s.createDataFrame([("Z",)], "Symbol string"))
    assert extract(spark, "symbols", "custom").first().Symbol == "Z"


def test_fetch_prices_distributed(spark):
    """Executor-side batch fetch: each partition's symbol list goes to
    the adapter once; results concatenate into one long DataFrame."""
    symbols = [f"S{i}" for i in range(10)]

    def fake_fetch(batch: list[str]) -> pd.DataFrame:
        return pd.DataFrame(
            {"symbol": batch, "close": [float(s[1:]) for s in batch], "n_in_batch": len(batch)}
        )

    out = fetch_prices_distributed(
        spark, symbols, fake_fetch, schema="symbol string, close double, n_in_batch int",
        batch_size=4,
    )
    rows = {r.symbol: r for r in out.collect()}
    assert set(rows) == set(symbols)
    assert rows["S7"].close == 7.0
    # 10 symbols / batch_size 4 → 3 partitions; every batch bounded
    assert all(r.n_in_batch <= 4 for r in rows.values())


# ---------------------------------------------------------------------------
# S2/S4 live-source adapters (sources/adapters.py), network-mocked the same
# way the reference mocks them (tests/extract_test.py): the transport is
# injected with the public library's exact call shape.


def _fake_read_html(url: str):
    """pd.read_html-shaped: returns a list of tables per URL; each index
    page carries one extra column the others lack (exercises the
    outer-union)."""
    n = 400 if "400" in url else 500 if "500" in url else 600
    t = pd.DataFrame(
        {
            "Symbol": [f"{n}A", f"{n}B"],
            "Security": [f"Co {n}A", f"Co {n}B"],
            f"only_{n}": [1, 2],
        }
    )
    return [t, pd.DataFrame({"ignored": [0]})]  # page has trailing tables


def test_sp_stock_symbols_adapter_union_and_flags(spark):
    from securities_data_pipeline_spark.sources.adapters import sp_stock_symbols_source

    df = sp_stock_symbols_source(spark, read_html=_fake_read_html)
    rows = {r.Symbol: r for r in df.collect()}
    assert len(rows) == 6  # 2 symbols × 3 indices
    assert rows["400A"].in_sp400 and not rows["400A"].in_sp500 and not rows["400A"].in_sp600
    assert rows["500B"].in_sp500 and not rows["500B"].in_sp400
    assert rows["600A"].in_sp600
    # outer-union: per-index columns survive, null elsewhere
    assert rows["400A"].only_400 == 1 and rows["500A"].only_400 is None


def test_sp_stock_symbols_via_registry_dispatch(spark):
    out = extract(spark, "symbols", "sp_stocks", read_html=_fake_read_html)
    assert out.count() == 6


def test_price_history_adapter_long_rows_and_failed_symbols(spark):
    from securities_data_pipeline_spark.sources.adapters import failed_symbols

    # yf.download-shaped: wide frame, index=Date, MultiIndex columns
    # (Price, Ticker); one symbol returns no data (NaN bars). Defined
    # INSIDE the test so cloudpickle ships it by value to executors
    # (the test module is not importable on workers).
    def _fake_yf_download(symbols, start, end):
        import numpy as np

        dates = pd.to_datetime(["2025-01-01", "2025-01-02"])
        fields = ["Open", "High", "Low", "Close", "Volume"]
        cols = pd.MultiIndex.from_product([fields, symbols], names=["Price", "Ticker"])
        data = {}
        for f_ in fields:
            for s in symbols:
                if s == "DEAD":
                    data[(f_, s)] = [np.nan, np.nan]
                else:
                    base = float(ord(s[0]))
                    data[(f_, s)] = [base + 0.1, base + 0.2]
        return pd.DataFrame(data, index=dates, columns=cols).rename_axis("Date")

    symbols = ["AAA", "BBB", "DEAD"]
    bars = extract(
        spark, "price_history", "sp_stocks",
        symbols=symbols, downloader=_fake_yf_download, batch_size=2,
    )
    rows = {(r.symbol, r.date_stamp.date().isoformat()): r for r in bars.collect()}
    # 3 symbols × 2 dates: the melt keeps DEAD's all-NaN bars (future_stack)
    assert len(rows) == 6
    assert rows[("AAA", "2025-01-01")].close == float(ord("A")) + 0.1
    failed = [r.symbol for r in failed_symbols(spark, symbols, bars).collect()]
    assert failed == ["DEAD"]  # no bar with a value
    from securities_data_pipeline_spark.functions.cleaning import transform_prices

    assert transform_prices(bars, "sp_stocks").count() == 4  # DEAD pruned


def test_price_history_adapter_failed_batch_surfaces_in_failed_symbols(spark):
    """A vendor error fails only its own batch: that batch's symbols
    come back through ``failed_symbols`` and the other batch loads
    (extract.py:110-137)."""
    from securities_data_pipeline_spark.sources.adapters import failed_symbols

    def _flaky_yf_download(symbols, start, end):
        if "BAD" in symbols:
            raise ConnectionError("vendor timeout")
        dates = pd.to_datetime(["2025-01-01", "2025-01-02"])
        fields = ["Open", "High", "Low", "Close", "Volume"]
        cols = pd.MultiIndex.from_product([fields, symbols], names=["Price", "Ticker"])
        data = {(f_, s): [1.0, 2.0] for f_ in fields for s in symbols}
        return pd.DataFrame(data, index=dates, columns=cols).rename_axis("Date")

    symbols = ["AAA", "BBB", "CCC", "BAD"]
    bars = extract(
        spark, "price_history", "sp_stocks",
        symbols=symbols, downloader=_flaky_yf_download, batch_size=2,
    )
    loaded = {r.symbol for r in bars.collect()}
    failed = {r.symbol for r in failed_symbols(spark, symbols, bars).collect()}
    assert "BAD" in failed and loaded and not loaded & failed
    assert loaded | failed == set(symbols)
    assert bars.count() == 2 * len(loaded)


def test_price_history_adapter_keeps_a_live_tickers_missing_day(spark):
    """A live ticker's all-NaN day survives the melt and the transform
    (the reference's future_stack keeps it), so the lake holds the row
    fct_prices' forward-fill fills; the ticker is not a failed symbol."""
    from securities_data_pipeline_spark.functions.cleaning import transform_prices
    from securities_data_pipeline_spark.sources.adapters import failed_symbols, price_history_source
    from tests.conftest import yf_frame

    dates = pd.to_datetime(["2025-01-01", "2025-01-02", "2025-01-03"])
    frame = yf_frame(dates, {(f, "AAA"): [1.0, None, 3.0] for f in ("Open", "High", "Low", "Close", "Volume")})
    bars = price_history_source(spark, symbols=["AAA"], downloader=lambda s, start, end: frame)
    rows = sorted((str(r.date_stamp), r.close, r.volume) for r in transform_prices(bars, "sp_stocks").collect())
    assert rows == [("2025-01-01", 1.0, 1), ("2025-01-02", None, None), ("2025-01-03", 3.0, 3)]
    assert failed_symbols(spark, ["AAA"], bars).count() == 0


def test_wide_bars_single_symbol_flat_columns(spark):
    """yf.download with one ticker returns flat columns — the adapter
    must lift them to the MultiIndex form using the batch symbol."""
    from securities_data_pipeline_spark.sources.adapters import wide_bars_to_long

    dates = pd.to_datetime(["2025-01-01"])
    flat = pd.DataFrame(
        {"Open": [1.0], "High": [2.0], "Low": [0.5], "Close": [1.5], "Volume": [10.0]},
        index=dates,
    ).rename_axis("Date")
    long = wide_bars_to_long(flat, ["SOLO"])
    assert list(long["symbol"]) == ["SOLO"] and float(long["close"].iloc[0]) == 1.5


def test_query_registry_contract():
    """Driver-contract invariants the rest of the suite assumes:
    queries and oracles are 1:1, names carry a known family prefix
    (the rotation logic keys on them), and the ordering is identical
    between the two maps (the driver zips them positionally)."""
    import __spark_entry__ as e

    q, o = e.queries(), e.oracle_sql()
    assert set(q) == set(o), set(q) ^ set(o)
    assert list(q) == list(o), "queries() and oracle_sql() order diverged"
    families = (
        "q", "p", "s", "a", "j", "w", "u", "f", "g", "m", "agg",
        "dedup_", "sim_", "sec_", "t_", "mm_", "sq_", "udtf_", "s_stream_",
    )
    bad = [n for n in q if not n.startswith(families)]
    assert not bad, f"unknown family prefixes: {bad}"


def test_registry_pins_every_family_and_oracle():
    """The operator and streaming families are in the registry and all
    240 queries have an oracle — a family that stops importing, or
    loses queries, fails here instead of shrinking the gate."""
    from securities_data_pipeline_spark.operators import EXTENSION_QUERIES
    from securities_data_pipeline_spark.registry import all_oracles, all_queries
    from securities_data_pipeline_spark.streaming import STREAMING_QUERIES

    q, o = all_queries(), all_oracles()
    assert EXTENSION_QUERIES and set(EXTENSION_QUERIES) <= set(q)
    assert STREAMING_QUERIES and set(STREAMING_QUERIES) <= set(q)
    assert len(q) == 240
    assert set(q) == set(o), set(q) ^ set(o)


def test_registry_family_import_error_propagates(monkeypatch):
    """A family module that cannot import fails the registry loudly."""
    import sys

    from securities_data_pipeline_spark import registry

    monkeypatch.setitem(sys.modules, "securities_data_pipeline_spark.streaming", None)
    with pytest.raises(ImportError):
        registry.all_queries()
    with pytest.raises(ImportError):
        registry.all_oracles()
