"""``tools/check_oracle.compare`` is the one Spark-vs-DuckDB comparison:
the gate and every fuzz axis run it, so each of its verdicts is pinned
here over a tiny table, and no other tool may call ``oracle_sql()``."""

from __future__ import annotations

import ast
import pathlib

import duckdb
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from tools.check_oracle import compare

TOOLS = pathlib.Path(__file__).resolve().parent.parent / "tools"


def _boom(spark, d):
    raise RuntimeError("planted")


def _t(spark, d):
    return spark.read.parquet(f"{d}/t.parquet")


QUERIES = {
    "ok": lambda s, d: _t(s, d).select("id", "v"),
    "renamed": lambda s, d: _t(s, d).select("id", F.col("v").alias("w")),
    "retyped": lambda s, d: _t(s, d).select(F.col("id").cast("double").alias("id"), "v"),
    "nonscalar": lambda s, d: _t(s, d).select("id", F.array("v").alias("v")),
    "short": lambda s, d: _t(s, d).where("id = 1").select("id", "v"),
    "changed": lambda s, d: _t(s, d).select("id", (F.col("v") + 1).alias("v")),
    "raises": _boom,
    "bad_oracle": lambda s, d: _t(s, d).select("id", "v"),
    "no_oracle": lambda s, d: _t(s, d).select("id", "v"),
}
ORACLES = {name: "SELECT id, v FROM t" for name in QUERIES if name != "no_oracle"}
ORACLES["bad_oracle"] = "SELECT id, v FROM no_such_table"

EXPECTED = {
    "ok": ("PASS", ""),
    "renamed": ("FAIL", "columns"),
    "retyped": ("FAIL", "type-family mismatch"),
    "nonscalar": ("FAIL", "non-scalar output columns"),
    "short": ("FAIL", "rowcount"),
    "changed": ("FAIL", "values differ"),
    "raises": ("ERROR", "spark RuntimeError"),
    "bad_oracle": ("ERROR", "duckdb"),
    "no_oracle": ("SKIP", "no oracle"),
    "unregistered": ("SKIP", "not registered"),
}


@pytest.fixture()
def tiny(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, 0.5), (2, 1.5)], "id long, v double").write.parquet(path)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW t AS SELECT * FROM '{path}/*.parquet'")
    monkeypatch.setattr(entry, "queries", lambda: dict(QUERIES))
    monkeypatch.setattr(entry, "oracle_sql", lambda: dict(ORACLES))
    return con, str(tmp_path)


def test_compare_verdicts(spark, tiny, capsys):
    con, data_dir = tiny
    failures, errors = compare(spark, con, list(EXPECTED), data_dir)
    lines = {}
    for line in capsys.readouterr().out.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL", "ERROR", "SKIP"):
            name, _, detail = rest.partition(" ")
            lines[name.rstrip(":")] = (word, detail)
    assert set(lines) == set(EXPECTED)
    for name, (word, detail) in EXPECTED.items():
        assert lines[name][0] == word, (name, lines[name])
        assert lines[name][1].startswith(detail), (name, lines[name])
    assert failures == [n for n, (w, _) in EXPECTED.items() if w == "FAIL"]
    assert errors == [n for n, (w, _) in EXPECTED.items() if w == "ERROR"]


def test_compare_is_the_only_oracle_loop():
    """The gate and every fuzz axis share ``compare``: a tool that reads
    ``oracle_sql()`` itself would be a second, drifting comparison."""
    owner = TOOLS / "check_oracle.py"
    sites = []
    for path in sorted(TOOLS.glob("*.py")):
        if path == owner:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Call) and (
                (isinstance(node.func, ast.Attribute) and node.func.attr == "oracle_sql")
                or (isinstance(node.func, ast.Name) and node.func.id == "oracle_sql")
            ):
                sites.append(f"{path.name}:{node.lineno}")
    assert not sites, f"oracle_sql() called outside check_oracle.compare: {sites}"
