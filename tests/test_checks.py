"""Check framework: pandera-style structural validation + dbt-style
declarative tests (reference: py_pipeline/validate.py, dbt
properties.yml)."""

import pytest
from pyspark.sql import types as T

from securities_data_pipeline_spark.checks import (
    SchemaErrors,
    check_accepted_values,
    check_not_null,
    check_relationships,
    check_unique,
    run_checks,
    validate_schema,
)

SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType(), False),
        T.StructField("price", T.DoubleType(), True),
    ]
)


def test_validate_coerces_types(spark):
    df = spark.createDataFrame([("A", "1.5")], "symbol string, price string")
    out = validate_schema(df, SCHEMA)
    assert out.schema["price"].dataType == T.DoubleType()
    assert out.collect()[0].price == 1.5


def test_validate_collects_all_missing_columns(spark):
    df = spark.createDataFrame([(1,)], "other int")
    with pytest.raises(SchemaErrors) as ei:
        validate_schema(df, SCHEMA)
    assert len(ei.value.errors) == 2  # both missing columns reported


def test_validate_null_constraint(spark):
    df = spark.createDataFrame([(None, 1.0), ("A", 2.0)], "symbol string, price double")
    with pytest.raises(SchemaErrors, match="non-nullable column symbol"):
        validate_schema(df, SCHEMA)


def test_validate_strict_mode_rejects_extras(spark):
    df = spark.createDataFrame([("A", 1.0, 9)], "symbol string, price double, extra int")
    with pytest.raises(SchemaErrors, match="unexpected column: extra"):
        validate_schema(df, SCHEMA, allow_extra=False)


def test_row_checks(spark):
    df = spark.createDataFrame(
        [("A", "FX"), ("A", "Stock"), ("B", None), ("C", "Bond")],
        "symbol string, asset_type string",
    )
    assert not check_unique(df, "symbol").passed
    assert check_unique(df.where("symbol <> 'A'"), "symbol").passed
    assert not check_not_null(df, "asset_type").passed
    bad = check_accepted_values(df, "asset_type", ["FX", "Stock"])
    assert not bad.passed and bad.violations == 2  # null + 'Bond'


def test_relationships_bidirectional(spark):
    dim = spark.createDataFrame([("A",), ("B",)], "symbol string")
    fct = spark.createDataFrame([("A",), ("A",), ("C",)], "symbol string")
    assert not check_relationships(fct, "symbol", dim, "symbol").passed  # C orphan
    assert not check_relationships(dim, "symbol", fct, "symbol").passed  # B childless
    ok = spark.createDataFrame([("A",), ("B",)], "symbol string")
    assert check_relationships(ok, "symbol", dim, "symbol").passed


def test_failing_checks_carry_bounded_offending_rows(spark):
    """A failing check samples its offending rows (at most ``sample``);
    a passing one carries none — the sample is fetched only on failure."""
    df = spark.createDataFrame(
        [("A", None), ("A", None), ("B", "X"), ("B", "Y"), ("C", "Z"), ("C", None), ("D", "FX")],
        "symbol string, asset_type string",
    )
    nn = check_not_null(df, "asset_type", sample=2)
    assert nn.violations == 3 and len(nn.sample) == 2
    assert all(r.asset_type is None for r in nn.sample)
    un = check_unique(df, "symbol", sample=2)
    assert un.violations == 3 and len(un.sample) == 2
    assert {r.symbol for r in un.sample} <= {"A", "B", "C"} and all(r.n == 2 for r in un.sample)
    av = check_accepted_values(df, "asset_type", ["FX"], sample=2)
    assert av.violations == 6 and len(av.sample) == 2
    assert {r.asset_type for r in av.sample} <= {None, "X", "Y", "Z"}
    dim = spark.createDataFrame([("D",)], "symbol string")
    rel = check_relationships(df, "symbol", dim, "symbol", sample=2)
    assert rel.violations == 6 and len(rel.sample) == 2
    assert {r.k for r in rel.sample} <= {"A", "B", "C"}
    for ok in (
        check_not_null(df, "symbol"),
        check_unique(dim, "symbol"),
        check_accepted_values(dim, "symbol", ["D"]),
        check_relationships(dim, "symbol", df, "symbol"),
    ):
        assert ok.passed and ok.violations == 0 and ok.sample == []


def test_run_checks_raises_with_all_failures(spark):
    df = spark.createDataFrame([("A",), ("A",)], "symbol string")
    with pytest.raises(SchemaErrors, match="unique"):
        run_checks([check_unique(df, "symbol")], raise_on_failure=True)


def test_observed_counts_piggyback_on_action(spark):
    """df.observe metrics accumulate during the consuming action —
    row + null accounting with zero extra scans."""
    from pyspark.sql import functions as F

    from securities_data_pipeline_spark.checks import with_observed_counts

    df = spark.createDataFrame(
        [("A", 1.0), (None, 2.0), ("C", None)], "symbol string, price double"
    )
    observed, obs = with_observed_counts(
        df, "load_metrics",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("symbol").isNull().cast("long")).alias("null_symbols"),
    )
    assert observed.count() == 3  # the action that drives the metrics
    assert obs.get == {"n_rows": 3, "null_symbols": 1}
