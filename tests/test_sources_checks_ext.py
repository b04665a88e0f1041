"""Quarantine split (error-channel side output) and the two-level
header wide-CSV source."""

import textwrap

from pyspark.sql import functions as F

from securities_data_pipeline_spark.checks import quarantine_split
from securities_data_pipeline_spark.sources.wide_csv import read_wide_price_csv


def test_quarantine_split(spark):
    df = spark.createDataFrame(
        [("A", 1.0), (None, 2.0), ("C", -5.0), (None, -1.0)],
        "symbol string, price double",
    )
    good, bad = quarantine_split(
        df,
        {
            "symbol_not_null": F.col("symbol").isNotNull(),
            "price_positive": F.col("price") > 0,
        },
    )
    assert [tuple(r) for r in good.collect()] == [("A", 1.0)]
    q = {(r.symbol, r.price): set(r["__violations"]) for r in bad.collect()}
    assert q[(None, 2.0)] == {"symbol_not_null"}
    assert q[("C", -5.0)] == {"price_positive"}
    assert q[(None, -1.0)] == {"symbol_not_null", "price_positive"}


def test_read_wide_price_csv(spark, tmp_path):
    """yfinance-style CSV: Price header row, Ticker header row, then
    dated rows (reference tests/data/raw_*.csv shape), read as long
    bars."""
    csv = textwrap.dedent(
        """\
        Price,Open,Open,Close,Close,Volume,Volume
        Ticker,AAA,BBB,AAA,BBB,AAA,BBB
        2025-01-01 00:00:00+00:00,1.5,2.5,1.6,2.6,100,200
        2025-01-02 00:00:00+00:00,1.7,,1.8,,300,
        2025-01-03 00:00:00+00:00,1.9
        """
    )
    p = tmp_path / "raw.csv"
    p.write_text(csv)
    df = read_wide_price_csv(spark, str(p))
    assert df.columns == ["date_stamp", "symbol", "open", "high", "low", "close", "volume"]
    rows = sorted((str(r.date_stamp), r.symbol, r.open, r.high, r.close, r.volume) for r in df.collect())
    # the two header lines are dropped; a missing cell, field or short
    # row's tail → null
    assert rows == [
        ("2025-01-01 00:00:00", "AAA", 1.5, None, 1.6, 100.0),
        ("2025-01-01 00:00:00", "BBB", 2.5, None, 2.6, 200.0),
        ("2025-01-02 00:00:00", "AAA", 1.7, None, 1.8, 300.0),
        ("2025-01-02 00:00:00", "BBB", None, None, None, None),
        ("2025-01-03 00:00:00", "AAA", 1.9, None, None, None),
        ("2025-01-03 00:00:00", "BBB", None, None, None, None),
    ]

    # and it feeds straight into the price transform
    from securities_data_pipeline_spark.functions.cleaning import transform_prices

    long_df = transform_prices(df, "sp_stocks")
    assert {r.symbol for r in long_df.collect()} == {"AAA", "BBB"}


def test_read_wide_price_csv_dotted_ticker_and_dupes(spark, tmp_path):
    """Real S&P tickers contain dots (BRK.B) and survive as symbols; an
    unparseable cell becomes null; a duplicated header pair must fail
    loudly at the scan."""
    p = tmp_path / "dotted.csv"
    p.write_text(
        "Price,Close,Volume,Open\n"
        "Ticker,BRK.B,BRK.B,BRK.B\n"
        "2025-01-02,100.5,53228400.0,n/a\n"
    )
    from securities_data_pipeline_spark.functions.cleaning import transform_prices

    row = transform_prices(read_wide_price_csv(spark, str(p)), "sp_stocks").collect()[0]
    assert row.symbol == "BRK.B"
    assert row.volume == 53228400  # float text cast to long
    assert abs(row.close - 100.5) < 1e-9
    assert row.open is None

    import pytest as _pytest

    bad = tmp_path / "dupe.csv"
    bad.write_text(
        "Price,Close,Close\n"
        "Ticker,AAA,AAA\n"
        "2025-01-02,1.0,2.0\n"
    )
    with _pytest.raises(ValueError, match="duplicate"):
        read_wide_price_csv(spark, str(bad))


def _dotted_wide_csv(tmp_path):
    """A live dotted ticker (BF.B), a failed dotted download (BRK.B:
    every cell empty) and a plain live ticker."""
    p = tmp_path / "dotted_null.csv"
    p.write_text(
        "Price,Open,Close,Volume,Close,Volume\n"
        "Ticker,BF.B,BRK.B,BRK.B,AAA,AAA\n"
        "2025-01-02,40.5,,,1.5,100.0\n"
        "2025-01-03,,,,1.6,\n"
    )
    return str(p)


def test_dotted_all_null_ticker_through_transform(spark, tmp_path):
    """An all-null dotted ticker column is pruned without resolving the
    dot as struct access; the live dotted ticker keeps both its days."""
    from securities_data_pipeline_spark.functions.cleaning import transform_prices

    out = transform_prices(read_wide_price_csv(spark, _dotted_wide_csv(tmp_path)), "sp_stocks")
    rows = sorted((r.symbol, str(r.date_stamp), r.open, r.close, r.volume) for r in out.collect())
    assert rows == [
        ("AAA", "2025-01-02", None, 1.5, 100),
        ("AAA", "2025-01-03", None, 1.6, None),
        ("BF.B", "2025-01-02", 40.5, None, None),
        ("BF.B", "2025-01-03", None, None, None),
    ]


def test_wide_read_and_transform_start_no_spark_job(spark, tmp_path):
    """Reading and reshaping the wide frame only plans: every job runs
    inside the load. An eager probe (isEmpty, a null-count aggregate)
    added to either step trips this."""
    from securities_data_pipeline_spark.functions.cleaning import transform_prices

    sc = spark.sparkContext
    path = _dotted_wide_csv(tmp_path)
    sc.setJobGroup("wide-planning", "read_wide_price_csv + transform_prices")
    try:
        for kind in ("sp_stocks", "fx"):
            out = transform_prices(read_wide_price_csv(spark, path), kind)
        planned = sc.statusTracker().getJobIdsForGroup("wide-planning")
        out.count()  # the probe itself sees jobs
        ran = sc.statusTracker().getJobIdsForGroup("wide-planning")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert planned == []
    assert ran


def test_wide_read_multi_split_matches_one_split(spark, tmp_path):
    """A text split holds a range of dates, and each split melts on its
    own: a file read in many splits (4 KiB maxPartitionBytes) gives the
    same long rows as one split, and ``transform_prices`` keeps LATE —
    null in every early split, live in the last — and prunes DEAD."""
    import datetime as dt

    from securities_data_pipeline_spark.functions.cleaning import transform_prices
    from tests.conftest import yf_frame

    days = 60
    dates = [dt.datetime(2025, 1, 1) + dt.timedelta(days=i) for i in range(days)]
    cols = {}
    for k, t in enumerate([f"T{i}" for i in range(10)] + ["BRK.B", "LATE", "DEAD"]):
        for j, f in enumerate(("Open", "High", "Low", "Close", "Volume")):
            cols[(f, t)] = [
                None if t == "DEAD" or (t == "LATE" and i < days - 2) or (i + k + j) % 9 == 0 else float(100 * k + i + j)
                for i in range(days)
            ]
    path = str(tmp_path / "wide.csv")
    yf_frame(dates, cols).to_csv(path)

    def read():
        bars = read_wide_price_csv(spark, path)
        return (
            bars.rdd.getNumPartitions(),
            sorted(tuple(r) for r in bars.collect()),
            sorted(tuple(r) for r in transform_prices(bars, "sp_stocks").collect()),
        )

    one_split = read()
    conf = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "4096")
    try:
        many_splits = read()
    finally:
        spark.conf.set(conf, before)
    assert one_split[0] == 1 and many_splits[0] > 1
    assert many_splits[1] == one_split[1] and len(one_split[1]) == 13 * days
    assert many_splits[2] == one_split[2]
    kept = {r[1] for r in one_split[2]}
    assert "LATE" in kept and "DEAD" not in kept and len(one_split[2]) == 12 * days
