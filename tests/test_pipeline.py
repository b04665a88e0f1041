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


def _wide_fx(spark, with_gap_day=False):
    rows = [(dt.datetime(2025, 1, 1), 1.1234567, 1.2, 1.0, 1.1534567, 0)]
    if with_gap_day:
        rows.append((dt.datetime(2025, 1, 2), None, None, None, None, None))
    return spark.createDataFrame(
        rows,
        "date timestamp, `Open_EURUSD=X` double, `High_EURUSD=X` double, "
        "`Low_EURUSD=X` double, `Close_EURUSD=X` double, `Volume_EURUSD=X` long",
    )


def _wide_stock(spark):
    return spark.createDataFrame(
        [(dt.datetime(2025, 1, 1), 10.004, 11.0, 9.0, 10.506, 100)],
        "date timestamp, Open_AAA double, High_AAA double, Low_AAA double, "
        "Close_AAA double, Volume_AAA long",
    )


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
        raw_fx_prices_wide=_wide_fx(spark),
        raw_stock_prices_wide=_wide_stock(spark),
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
        raw_stock_prices_wide=_wide_stock(spark),
        raw_stock_symbols=_raw_symbols(spark),
        date_stamp=D(2025, 1, 1),
    )
    etl_flow(spark, lake, raw_fx_prices_wide=_wide_fx(spark), **common)
    res2 = etl_flow(spark, lake, raw_fx_prices_wide=_wide_fx(spark, with_gap_day=True), **common)
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
        raw_fx_prices_wide=_wide_fx(spark),
        raw_stock_prices_wide=_wide_stock(spark),
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
            raw_fx_prices_wide=_wide_fx(spark),
            raw_stock_prices_wide=_wide_stock(spark),
            raw_stock_symbols=_raw_symbols(spark).drop("Security"),
            date_stamp=D(2025, 1, 1),
        )
    fx = spark.read.parquet(os.path.join(lake, "price_history", "fx")).collect()
    assert [r.symbol for r in fx] == ["EURUSD"]
    assert not os.path.exists(os.path.join(lake, "symbols", "sp_stocks"))
    assert not [t for t in threading.enumerate() if t.name.startswith(OVERLAP_THREAD_PREFIX)]
