"""End-to-end flow parity (reference: tests/e2e_test.py — mocked
sources → lake → warehouse models → checks, incl. two-run increment)."""

import datetime as dt
import os
import threading

import pytest

from securities_data_pipeline_spark import pipeline
from securities_data_pipeline_spark.checks import SchemaErrors
from securities_data_pipeline_spark.pipeline import etl_flow, resolve_dates
from securities_data_pipeline_spark.sources.tables import OVERLAP_THREAD_PREFIX

D = dt.date


BARS = "date_stamp timestamp, symbol string, open double, high double, low double, close double, volume double"


def _fx_bars(spark, with_gap_day=False):
    rows = [(dt.datetime(2025, 1, 1), "EURUSD=X", 1.1234567, 1.2, 1.0, 1.1534567, 0.0)]
    if with_gap_day:
        rows.append((dt.datetime(2025, 1, 2), "EURUSD=X", None, None, None, None, None))
    return spark.createDataFrame(rows, BARS)


def _stock_bars(spark):
    return spark.createDataFrame([(dt.datetime(2025, 1, 1), "AAA", 10.004, 11.0, 9.0, 10.506, 100.0)], BARS)


def _raw_symbols(spark):
    return spark.createDataFrame(
        [("AAA", "Aaa Corp", "Tech", "Software", None, True, None)],
        "Symbol string, Security string, `GICS Sector` string, `GICS Sub-Industry` string, "
        "in_sp400 boolean, in_sp500 boolean, in_sp600 boolean",
    )


def test_resolve_dates():
    today = D(2025, 6, 15)
    assert resolve_dates(today=today) == (D(2025, 6, 14), today)
    assert resolve_dates("2024-01-01", "2024-02-01") == (D(2024, 1, 1), D(2024, 2, 1))
    assert resolve_dates(None, "2024-02-01", today=today) == (D(2000, 1, 1), D(2024, 2, 1))


def test_etl_flow_end_to_end(spark, tmp_path):
    res = etl_flow(
        spark,
        str(tmp_path / "lake"),
        raw_fx_prices_wide=_fx_bars(spark),
        raw_stock_prices_wide=_stock_bars(spark),
        raw_stock_symbols=_raw_symbols(spark),
        date_stamp=D(2025, 1, 1),
    )
    assert all(c.passed for c in res.checks), [c.name for c in res.checks if not c.passed]
    fct = {(str(r.date_stamp), r.symbol): r for r in res.models["fct_prices"].collect()}
    # FX '=X' stripped, 5 dp rounding; stock 2 dp rounding
    assert fct[("2025-01-01", "EURUSD")].close == 1.15346
    assert fct[("2025-01-01", "AAA")].close == 10.51
    dim = {r.symbol: r.asset_type for r in res.models["dim_symbols"].collect()}
    assert dim == {"EURUSD": "FX", "AAA": "Stock"}
    # SQL surface registered
    assert spark.sql("SELECT count(*) n FROM fct_prices").first().n == 2


def test_etl_flow_incremental_second_run(spark, tmp_path):
    """Two-run increment (reference tests/e2e_test.py:246-291): day-2
    batch merges into the same lake; gap day forward-fills in staging."""
    lake = str(tmp_path / "lake")
    common = dict(
        raw_stock_prices_wide=_stock_bars(spark),
        raw_stock_symbols=_raw_symbols(spark),
        date_stamp=D(2025, 1, 1),
    )
    etl_flow(spark, lake, raw_fx_prices_wide=_fx_bars(spark), **common)
    res2 = etl_flow(spark, lake, raw_fx_prices_wide=_fx_bars(spark, with_gap_day=True), **common)
    fct = {(str(r.date_stamp), r.symbol): r for r in res2.models["fct_prices"].collect()}
    assert len(fct) == 3  # idempotent remerge of day-1 rows + new day-2 row
    gap = fct[("2025-01-02", "EURUSD")]
    assert gap.close == 1.15346  # ffilled from day-1 rounded close
    assert gap.volume == 0


def test_etl_flow_check_suite_is_one_keyed_pass(spark, tmp_path, monkeypatch):
    """The flow's 7 declared checks run as one keyed pass: a few jobs,
    not one or more per check (21 when each check ran its own count).
    A per-check action added back to the suite trips this."""
    sc = spark.sparkContext
    run_checks = pipeline.run_checks

    def grouped(*args, **kwargs):
        sc.setJobGroup("check-suite", "etl_flow check suite")
        try:
            return run_checks(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    monkeypatch.setattr(pipeline, "run_checks", grouped)
    res = etl_flow(
        spark,
        str(tmp_path / "lake"),
        raw_fx_prices_wide=_fx_bars(spark),
        raw_stock_prices_wide=_stock_bars(spark),
        raw_stock_symbols=_raw_symbols(spark),
        date_stamp=D(2025, 1, 1),
    )
    assert len(res.checks) == 7 and all(c.passed for c in res.checks)
    jobs = sc.statusTracker().getJobIdsForGroup("check-suite")
    assert 0 < len(jobs) <= 7, jobs


def test_etl_flow_sink_failure_lets_siblings_land(spark, tmp_path):
    """Partial failure with concurrent sinks: a stock-symbols scrape
    without its ``Security`` column fails validation, yet the sibling
    sinks run to completion (the FX price table lands), the schema error
    re-raises at the end, and no sink thread outlives the flow."""
    lake = str(tmp_path / "lake")
    with pytest.raises(SchemaErrors, match="Security"):
        etl_flow(
            spark,
            lake,
            raw_fx_prices_wide=_fx_bars(spark),
            raw_stock_prices_wide=_stock_bars(spark),
            raw_stock_symbols=_raw_symbols(spark).drop("Security"),
            date_stamp=D(2025, 1, 1),
        )
    fx = spark.read.parquet(os.path.join(lake, "price_history", "fx")).collect()
    assert [r.symbol for r in fx] == ["EURUSD"]
    assert not os.path.exists(os.path.join(lake, "symbols", "sp_stocks"))
    assert not [t for t in threading.enumerate() if t.name.startswith(OVERLAP_THREAD_PREFIX)]


def test_etl_flow_lands_the_same_prices_from_the_fetch_and_the_csv(spark, tmp_path):
    """Every price source melts with the same kernel into the same long
    bars: ``etl_flow`` fed by ``price_history_source`` (a fake
    ``yf.download``) lands the same ``fct_prices`` rows as ``etl_flow``
    fed by the wide CSVs those frames serialize to — incl. a live
    ticker's missing day (forward-filled) and a failed download
    (pruned)."""
    from securities_data_pipeline_spark.sources.adapters import price_history_source
    from securities_data_pipeline_spark.sources.wide_csv import read_wide_price_csv
    from tests.conftest import yf_frame

    dates = [dt.datetime(2025, 1, d) for d in (1, 2, 3)]
    fields = ("Open", "High", "Low", "Close", "Volume")
    fetches = {
        "fx": yf_frame(
            dates,
            {(f, t): [1.25 + k, 1.5 + k, 1.75 + k] for f in fields for k, t in enumerate(("EURUSD=X", "JPY=X"))},
        ),
        "sp_stocks": yf_frame(
            dates,
            {
                **{(f, "AAA"): [10.0 + j, None, 12.0 + j] for j, f in enumerate(fields)},
                **{(f, "DEAD"): [None, None, None] for f in fields},
            },
        ),
    }

    def fetched(kind, frame):
        symbols = sorted(set(frame.columns.get_level_values("Ticker")))
        return price_history_source(spark, symbols=symbols, downloader=lambda s, start, end: frame)

    def csv(kind, frame):
        path = str(tmp_path / f"{kind}.csv")
        frame.to_csv(path)
        return read_wide_price_csv(spark, path)

    landed = []
    for n, source in enumerate((fetched, csv)):
        bars = {kind: source(kind, frame) for kind, frame in fetches.items()}
        res = etl_flow(
            spark,
            str(tmp_path / f"lake{n}"),
            raw_fx_prices_wide=bars["fx"],
            raw_stock_prices_wide=bars["sp_stocks"],
            raw_stock_symbols=_raw_symbols(spark),
            date_stamp=D(2025, 1, 1),
        )
        assert all(c.passed for c in res.checks), [c.name for c in res.checks if not c.passed]
        landed.append(res.models["fct_prices"].collect())
    assert sorted(map(tuple, landed[0])) == sorted(map(tuple, landed[1]))
    fct = {(str(r.date_stamp), r.symbol): r for r in landed[1]}
    assert len(fct) == 9  # 3 days × (EURUSD, USDJPY, AAA); DEAD pruned
    assert fct[("2025-01-02", "AAA")].close == 13.0  # the missing day, filled from day 1's close
