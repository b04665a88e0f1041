"""Check framework: pandera-style structural validation + dbt-style
declarative tests (reference: py_pipeline/validate.py, dbt
properties.yml)."""

import datetime as dt

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
        run_checks({"t": df}, [("t", "unique", "symbol")], raise_on_failure=True)


STAR_SUITE = [
    ("dim", "unique", "symbol"),
    ("dim", "not_null", "symbol"),
    ("dim", "accepted_values", "asset_type", ["FX", "Stock"]),
    ("fct", "not_null", "symbol"),
    ("fct", "not_null", "date_stamp"),
    ("fct", "relationships", "symbol", "dim", "symbol"),
    ("dim", "relationships", "symbol", "fct", "symbol"),
]


def _standalone(dim, fct):
    return [
        check_unique(dim, "symbol"),
        check_not_null(dim, "symbol"),
        check_accepted_values(dim, "asset_type", ["FX", "Stock"]),
        check_not_null(fct, "symbol"),
        check_not_null(fct, "date_stamp"),
        check_relationships(fct, "symbol", dim, "symbol"),
        check_relationships(dim, "symbol", fct, "symbol"),
    ]


def _star(spark, dim_rows, fct_rows):
    dim = spark.createDataFrame(dim_rows, "symbol string, asset_type string")
    fct = spark.createDataFrame(fct_rows, "symbol string, date_stamp date, close double")
    return dim, fct


def test_suite_matches_standalone_checks_when_all_fail(spark):
    """The one keyed pass gives every check the same result as its own
    standalone pass: a duplicated key AND a duplicated null key (the
    null group counts for ``unique``), null symbols on both sides, a bad
    asset_type, a null date_stamp, and orphans in both directions
    (null keys are never orphans)."""
    d = dt.date(2025, 1, 2)
    dim, fct = _star(
        spark,
        [("A", "FX"), ("A", "Stock"), (None, "FX"), (None, "Stock"), ("B", "Bond")],
        [("A", d, 1.0), ("A", d, 2.0), (None, d, 3.0), ("C", None, 4.0), ("C", d, 5.0)],
    )
    suite = run_checks({"dim": dim, "fct": fct}, STAR_SUITE)
    assert suite == _standalone(dim, fct)
    assert [c.violations for c in suite] == [2, 2, 1, 1, 1, 2, 1]
    assert not any(c.passed for c in suite)
    assert all(c.sample for c in suite)
    with pytest.raises(SchemaErrors) as ei:
        run_checks({"dim": dim, "fct": fct}, STAR_SUITE, raise_on_failure=True)
    assert len(ei.value.errors) == 7


def test_suite_matches_standalone_checks_when_all_pass(spark):
    d = dt.date(2025, 1, 2)
    dim, fct = _star(spark, [("A", "FX"), ("B", "Stock")], [("A", d, 1.0), ("B", d, 2.0), ("B", d, 3.0)])
    suite = run_checks({"dim": dim, "fct": fct}, STAR_SUITE, raise_on_failure=True)
    assert suite == _standalone(dim, fct)
    assert all(c.passed and c.violations == 0 and c.sample == [] for c in suite)
    assert [c.name for c in suite] == [
        "unique(symbol)",
        "not_null(symbol)",
        "accepted_values(asset_type)",
        "not_null(symbol)",
        "not_null(date_stamp)",
        "relationships(symbol->symbol)",
        "relationships(symbol->symbol)",
    ]


def test_suite_rejects_two_keys_for_one_model(spark):
    df = spark.createDataFrame([("A", "B")], "a string, b string")
    with pytest.raises(ValueError, match="keys t by both"):
        run_checks({"t": df}, [("t", "unique", "a"), ("t", "unique", "b")])
