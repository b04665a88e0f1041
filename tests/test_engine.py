"""Engine facade, compaction maintenance job, the one pin policy, the
one driver-thread overlap helper and the one driver-rows frame builder."""

import ast
import datetime as dt
import glob
import pathlib
import threading

import pytest

import securities_data_pipeline_spark
from securities_data_pipeline_spark.engine import Engine
from securities_data_pipeline_spark.plans.compaction import compact_small_files
from securities_data_pipeline_spark.sources.tables import (
    OVERLAP_THREAD_PREFIX,
    local_rows,
    overlap,
)

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


THREAD_CONSTRUCTORS = ("ThreadPoolExecutor", "Thread", "InheritableThread")


def test_overlap_is_the_only_thread_construction():
    """``sources/tables.py::overlap`` owns driver-thread overlap: a
    thread or pool constructed anywhere else in the package would run
    its jobs without the caller's job group and local properties."""
    pkg = pathlib.Path(securities_data_pipeline_spark.__file__).parent
    owner = pkg / "sources" / "tables.py"
    sites = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = {
            id(n)
            for fn in ast.walk(tree)
            if path == owner and isinstance(fn, ast.FunctionDef) and fn.name == "overlap"
            for n in ast.walk(fn)
        }
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call) or id(node) in allowed:
                continue
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
            if name in THREAD_CONSTRUCTORS:
                sites.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert not sites, f"threads constructed outside overlap: {sites}"


#: every environment variable the package reads: deployment settings
#: (master, CPUs, memory, partitions) and scratch paths, nothing that
#: picks between two code paths the program could choose itself
ENV_READS = {
    "SPARK_GRAFT_CHECKPOINT_DIR",
    "SPARK_GRAFT_CLEAN_DIR",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_MATERIALIZE",
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_STREAM_CKPT",
    "SPARK_GRAFT_STREAM_PARTITIONS",
}


def _is_os_environ(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "environ"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def test_env_reads_are_the_declared_set():
    """The package's env-var surface is pinned: a new ``os.environ.get``,
    ``os.getenv`` or ``os.environ[...]`` read, with a literal key or a
    module-level string constant, fails here until it is declared."""
    pkg = pathlib.Path(securities_data_pipeline_spark.__file__).parent
    keys = set()
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        tree = ast.parse(path.read_text(), str(path))
        consts = {
            t.id: node.value.value
            for node in tree.body
            if isinstance(node, ast.Assign) and isinstance(node.value, ast.Constant)
            for t in node.targets
            if isinstance(t, ast.Name)
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and (
                (node.func.attr == "get" and _is_os_environ(node.func.value))
                or (
                    node.func.attr == "getenv"
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "os"
                )
            ):
                key = node.args[0] if node.args else None
            elif isinstance(node, ast.Subscript) and _is_os_environ(node.value):
                key = node.slice
            else:
                continue
            if isinstance(key, ast.Constant):
                keys.add(key.value)
            elif isinstance(key, ast.Name) and key.id in consts:
                keys.add(consts[key.id])
            else:
                keys.add(f"<unresolved key at {rel}:{node.lineno}>")
    assert keys == ENV_READS


def _overlap_threads() -> list[threading.Thread]:
    return [t for t in threading.enumerate() if t.name.startswith(OVERLAP_THREAD_PREFIX)]


def test_overlap_jobs_inherit_the_callers_job_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("g", "overlap")
    try:
        counts = overlap(spark, lambda: spark.range(10).count(), lambda: spark.range(5).count())
        ids = sc.statusTracker().getJobIdsForGroup("g")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert counts == [10, 5]
    assert len(ids) >= 2  # both thunks' jobs carry the group


def test_overlap_awaits_every_thunk_then_raises_the_first_failure(spark):
    """A failing thunk neither cancels its siblings nor outlives the
    call; the failure raised is the first in argument order."""
    finished = []
    second_failed = threading.Event()

    def slow():
        spark.range(100).count()
        finished.append("slow")

    def first():
        second_failed.wait(timeout=60)  # fails only after the later argument has
        raise RuntimeError("first")

    def second():
        second_failed.set()
        raise RuntimeError("second")

    with pytest.raises(RuntimeError, match="first"):
        overlap(spark, slow, first, second)
    assert finished == ["slow"]
    assert not _overlap_threads()


#: the functions allowed to call ``createDataFrame``: the choke point
#: itself, and the constituents scrape, whose pandas frame goes through
#: Arrow and already plans as a ``LocalTableScan``
CREATE_DATAFRAME_OWNERS = {
    ("sources/tables.py", "local_rows"),
    ("sources/adapters.py", "sp_stock_symbols_source"),
}


def test_local_rows_is_the_only_create_dataframe():
    """``sources/tables.py::local_rows`` owns frames built from driver
    rows: a ``createDataFrame`` over a list anywhere else plans a
    Python-row RDD whose every job cold-starts Python workers."""
    pkg = pathlib.Path(securities_data_pipeline_spark.__file__).parent
    sites = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        tree = ast.parse(path.read_text(), str(path))
        allowed = {
            id(n)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and (rel, fn.name) in CREATE_DATAFRAME_OWNERS
            for n in ast.walk(fn)
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and id(node) not in allowed
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                sites.append(f"{rel}:{node.lineno}")
    assert not sites, f"createDataFrame outside local_rows: {sites}"


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([("EURUSD=X",), ("JPY=X",)], "Symbol string"),
        ([(0, [1.0, -2.5]), (7, [])], "centroid_id long, cvec array<double>"),
        ([(3, 1, [[0.5, 1.5], [2.0]])], "query_id long, _qcidx int, _dtab array<array<double>>"),
        ([(None, 1.0, "low"), (2.0, None, None)], "lo double, hi double, band string"),
        ([], "merge_rank INT, left_sym STRING, pair_count BIGINT"),
    ],
    ids=["strings", "long-array", "int-nested-array", "nulls", "zero-rows"],
)
def test_local_rows_matches_the_list_path(spark, rows, schema):
    """Same rows and schema as ``createDataFrame`` over the list, but a
    JVM ``LocalTableScan`` in place of the Python-row ``ExistingRDD``."""
    got = local_rows(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
