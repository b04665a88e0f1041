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
    dated rows (reference tests/data/raw_*.csv shape)."""
    csv = textwrap.dedent(
        """\
        Price,Open,Open,Close,Close,Volume,Volume
        Ticker,AAA,BBB,AAA,BBB,AAA,BBB
        2025-01-01 00:00:00+00:00,1.5,2.5,1.6,2.6,100,200
        2025-01-02 00:00:00+00:00,1.7,,1.8,,300,
        """
    )
    p = tmp_path / "raw.csv"
    p.write_text(csv)
    df = read_wide_price_csv(spark, str(p))
    assert df.columns == ["date", "Open_AAA", "Open_BBB", "Close_AAA", "Close_BBB", "Volume_AAA", "Volume_BBB"]
    rows = sorted((str(r.date), r.Open_AAA, r.Open_BBB, r.Volume_BBB) for r in df.collect())
    assert len(rows) == 2  # the two header lines are dropped
    assert rows[0] == ("2025-01-01 00:00:00", 1.5, 2.5, 200)
    assert rows[1][2] is None  # missing cell → null

    # and it feeds straight into the price transform
    from securities_data_pipeline_spark.functions.cleaning import transform_prices

    long_df = transform_prices(df, "sp_stocks")
    assert {r.symbol for r in long_df.collect()} == {"AAA", "BBB"}


def test_read_wide_price_csv_dotted_ticker_and_dupes(spark, tmp_path):
    """Real S&P tickers contain dots (BRK.B): the flattened column
    'Volume_BRK.B' must resolve literally, not as struct access; and a
    duplicated header pair must fail loudly at the scan."""
    p = tmp_path / "dotted.csv"
    p.write_text(
        "Price,Close,Volume\n"
        "Ticker,BRK.B,BRK.B\n"
        "2025-01-02,100.5,53228400.0\n"
    )
    df = read_wide_price_csv(spark, str(p))
    assert "Close_BRK.B" in df.columns and "Volume_BRK.B" in df.columns
    row = df.collect()[0]
    assert row["Volume_BRK.B"] == 53228400  # cast to long, dot intact
    assert abs(row["Close_BRK.B"] - 100.5) < 1e-9

    import pytest as _pytest

    bad = tmp_path / "dupe.csv"
    bad.write_text(
        "Price,Close,Close\n"
        "Ticker,AAA,AAA\n"
        "2025-01-02,1.0,2.0\n"
    )
    with _pytest.raises(ValueError, match="duplicate flattened"):
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


class TestMarketDataSourceV2:
    def test_read_partitioned_deterministic(self, spark):
        from securities_data_pipeline_spark.sources.registry import extract

        df = extract(
            spark, "price_history", "dsv2",
            symbols=["AAPL", "MSFT", "GOOG"],
            start_date="2024-01-02", end_date="2024-01-10", batch_size=2,
        )
        rows = df.collect()
        # 7 weekdays in the range x 3 symbols
        assert len(rows) == 21
        assert df.rdd.getNumPartitions() == 2  # ceil(3 / batch_size=2)
        again = extract(
            spark, "price_history", "dsv2",
            symbols=["AAPL", "MSFT", "GOOG"],
            start_date="2024-01-02", end_date="2024-01-10", batch_size=2,
        ).collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    def test_bars_are_vendor_shaped(self, spark):
        from pyspark.sql import functions as F

        from securities_data_pipeline_spark.sources.registry import extract

        df = extract(
            spark, "price_history", "dsv2",
            symbols=["X1", "X2"], start_date="2024-03-04", end_date="2024-03-08",
        )
        assert df.columns == [
            "date_stamp", "symbol", "open", "high", "low", "close", "volume",
        ]
        bad = df.where(
            (F.col("high") < F.greatest("open", "close"))
            | (F.col("low") > F.least("open", "close"))
            | (F.col("low") <= 0)
            | (F.col("volume") <= 0)
        ).count()
        assert bad == 0
        # weekdays only, like the vendor
        assert df.where(F.dayofweek("date_stamp").isin(1, 7)).count() == 0

    def test_empty_symbols_rejected(self, spark):
        import pytest

        from securities_data_pipeline_spark.sources.registry import extract

        with pytest.raises(Exception, match="symbols"):
            extract(
                spark, "price_history", "dsv2", symbols=[],
            ).collect()


class TestMarketTicksStream:
    OPTS = dict(symbols="AAPL,MSFT", start="2024-01-02", end="2024-01-12")

    def test_stream_drains_range_and_matches_batch(self, spark):
        from pyspark.sql import functions as F

        from securities_data_pipeline_spark.sources.datasource_v2 import (
            register_market_source,
            register_market_ticks,
        )
        from securities_data_pipeline_spark.streaming.ingest import run_to_memory

        assert register_market_ticks(spark) and register_market_source(spark)

        def rollup(df):
            return df.groupBy("symbol").agg(
                F.count(F.lit(1)).alias("n_bars"),
                F.min("date_stamp").alias("first_day"),
                F.max("date_stamp").alias("last_day"),
            )

        stream = spark.readStream.format("market_ticks").options(**self.OPTS).load()
        got = sorted(map(tuple, run_to_memory(rollup(stream), "complete").collect()))
        batch = spark.read.format("market_prices").options(**self.OPTS).load()
        want = sorted(map(tuple, rollup(batch).collect()))
        assert got == want
        # 9 trading days in the range
        assert all(r[1] == 9 for r in got)

    def test_poll_cap_bounds_each_offset_step(self, spark):
        from securities_data_pipeline_spark.sources.datasource_v2 import (
            MarketTicksStreamReader,
        )

        r = MarketTicksStreamReader({**self.OPTS, "max_days_per_poll": "2"})
        off = r.initialOffset()
        steps = 0
        while True:
            rows, nxt = r.read(off)
            rows = list(rows)
            if nxt == off:
                assert rows == []
                break
            assert len(rows) <= 2 * 2  # 2 days x 2 symbols per poll
            off = nxt
            steps += 1
        assert steps == 5  # ceil(9 days / 2 per poll)
        assert off == {"day_index": 9}
