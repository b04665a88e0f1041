"""Engine facade, compaction maintenance job, and the one pin policy."""

import ast
import datetime as dt
import glob
import pathlib

import securities_data_pipeline_spark
from securities_data_pipeline_spark.engine import Engine
from securities_data_pipeline_spark.plans.compaction import compact_small_files

TARGET = 512 * 1024  # 512 KiB: both appended files are far below it

D = dt.date


def test_engine_facade(spark):
    eng = Engine(spark).open("/root/testdata/sf0.001")
    assert eng.sql("SELECT count(*) AS n FROM lineitem").first().n > 0
    assert "q1_pricing_summary" in eng.query_names()
    df = eng.query("a1_distinct")
    assert df.count() == 5


def test_compact_small_files_merges_date_partition(spark, tmp_path):
    path = str(tmp_path / "prices")
    S = "date_stamp date, symbol string, close double"
    # two append writes → at least two files in the same partition
    for batch in (["AAA", "BBB"], ["CCC", "DDD"]):
        rows = [(D(2025, 1, 1), s, 1.0) for s in batch]
        spark.createDataFrame(rows, S).coalesce(1).write.partitionBy("date_stamp").mode(
            "append"
        ).parquet(path)
    before = spark.read.parquet(path).orderBy("symbol").collect()
    n_files_before = len(glob.glob(path + "/date_stamp=*/**/*.parquet", recursive=True))
    assert n_files_before >= 2
    compact_small_files(spark, path, TARGET)
    n_files_after = len(glob.glob(path + "/date_stamp=*/**/*.parquet", recursive=True))
    after = spark.read.parquet(path).orderBy("symbol").collect()
    assert n_files_after == 1
    assert [tuple(r) for r in before] == [tuple(r) for r in after]  # content unchanged


def test_materialize_is_the_only_checkpoint_call():
    """``sources/tables.py::materialize`` owns the pin policy: a direct
    ``localCheckpoint``/``checkpoint`` call anywhere else in the package
    would escape ``SPARK_GRAFT_MATERIALIZE=reliable``."""
    pkg = pathlib.Path(securities_data_pipeline_spark.__file__).parent
    owner = pkg / "sources" / "tables.py"
    sites = []
    for path in sorted(pkg.rglob("*.py")):
        if path == owner:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "checkpoint")
            ):
                sites.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert not sites, f"direct checkpoint calls outside materialize: {sites}"
