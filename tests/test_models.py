"""Star-schema model DAG parity (dw_transformer/models/core/*.sql)."""

import datetime as dt

from securities_data_pipeline_spark.checks import run_checks
from securities_data_pipeline_spark.plans.models import build_star_schema, register_views

D = dt.date


def _raw_prices(spark, rows):
    return spark.createDataFrame(
        rows,
        "date_stamp date, symbol string, open double, high double, low double, close double, volume long",
    )


def _fixtures(spark):
    raw_fx = _raw_prices(
        spark,
        [
            (D(2025, 1, 1), "EURUSD", 1.1, 1.2, 1.0, 1.15, 0),
            (D(2025, 1, 2), "EURUSD", None, None, None, None, None),
        ],
    )
    raw_stock = _raw_prices(
        spark,
        [
            (D(2025, 1, 1), "AAA", 10.0, 11.0, 9.0, 10.5, 100),
        ],
    )
    raw_sym = spark.createDataFrame(
        [("AAA", "Aaa Corp", "Tech", "Software", False, True, False, D(2025, 1, 1))],
        "symbol string, name string, sector string, industry string, "
        "in_sp400 boolean, in_sp500 boolean, in_sp600 boolean, date_stamp date",
    )
    return raw_fx, raw_stock, raw_sym


def test_star_schema_dag(spark):
    models = build_star_schema(*_fixtures(spark))
    dim = {r.symbol: r for r in models["dim_symbols"].collect()}
    # FX dimension derived from fact via DISTINCT, typed null padding
    assert dim["EURUSD"].asset_type == "FX"
    assert dim["EURUSD"].name is None
    assert dim["EURUSD"].in_sp500 is False
    assert dim["AAA"].asset_type == "Stock"
    assert dim["AAA"].date_stamp == D(2025, 1, 1)

    fct = models["fct_prices"].collect()
    assert len(fct) == 3
    filled = [r for r in fct if r.symbol == "EURUSD" and r.date_stamp == D(2025, 1, 2)][0]
    assert filled.close == 1.15  # ffilled inside staging
    assert filled.volume == 0


def test_declarative_checks_pass_on_star_schema(spark):
    """The dbt test suite (properties.yml:96-170) over model outputs."""
    models = build_star_schema(*_fixtures(spark))
    results = run_checks(
        models,
        [
            ("dim_symbols", "unique", "symbol"),
            ("fct_prices", "relationships", "symbol", "dim_symbols", "symbol"),
            ("dim_symbols", "relationships", "symbol", "fct_prices", "symbol"),
        ],
        raise_on_failure=True,
    )
    assert all(r.passed for r in results)


def test_register_views_sql_access(spark):
    models = build_star_schema(*_fixtures(spark))
    register_views(spark, models)
    got = spark.sql(
        "SELECT d.asset_type, count(*) AS n FROM fct_prices f "
        "JOIN dim_symbols d USING (symbol) GROUP BY 1 ORDER BY 1"
    ).collect()
    assert [(r.asset_type, r.n) for r in got] == [("FX", 2), ("Stock", 1)]


def test_stage_outputs_match_declared_schemas(spark):
    """schemas.py's post-transform contracts (the reference's pandera
    schemas, validate.py:29-85) are what the stages emit: the same
    field names in the same order with the same types. Nullability is
    not compared."""
    from securities_data_pipeline_spark import schemas
    from securities_data_pipeline_spark.functions.cleaning import (
        transform_fx_symbols,
        transform_prices,
        transform_stock_symbols,
    )

    def fields(schema):
        return [(f.name, f.dataType) for f in schema.fields]

    raw_sym = spark.createDataFrame(
        [("AAA", "Aaa Corp", "Tech", None, False, True, None, "0001")],
        "Symbol string, Security string, `GICS Sector` string, "
        "`GICS Sub-Industry` string, in_sp400 boolean, in_sp500 boolean, "
        "in_sp600 boolean, CIK string",
    )
    bars = spark.createDataFrame(
        [(dt.datetime(2025, 1, 1), "JPY=X", 1.1, 1.2, 1.0, 1.15, 0.0)],
        "date_stamp timestamp, symbol string, open double, high double, "
        "low double, close double, volume double",
    )
    sym = transform_stock_symbols(raw_sym, "2025-01-01")
    fx = transform_prices(bars, "fx")
    stock = transform_prices(bars.replace("JPY=X", "AAA", "symbol"), "stock")
    models = build_star_schema(fx, stock, sym)
    fx_sym = transform_fx_symbols(spark.createDataFrame([("JPY=X",)], "Symbol string"))

    for df, declared in [
        (sym, schemas.TRANSFORMED_STOCK_SYMBOLS),
        (fx_sym, schemas.TRANSFORMED_FX_SYMBOLS),
        (fx, schemas.TRANSFORMED_PRICES),
        (stock, schemas.TRANSFORMED_PRICES),
        (models["dim_symbols"], schemas.DIM_SYMBOLS),
        (models["fct_prices"], schemas.FCT_PRICES),
    ]:
        assert fields(df.schema) == fields(declared)
