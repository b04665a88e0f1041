"""Merge-upsert sinks — the dlt/Delta load path on Spark.

Reference semantics (py_pipeline/load.py:40-123):

- ``merge``: upsert by primary key — incoming rows replace matching PK
  rows, others insert. PKs: prices ``(date_stamp, symbol)``, stock
  symbols ``(symbol, date_stamp)``.
- ``replace``: full overwrite (FX symbols, load.py:52-53).
- Idempotent: re-loading the same batch leaves the table unchanged
  (asserted by the reference's tests/load_test.py:92-157).
- dlt tolerates duplicate PKs inside one batch; Delta MERGE would
  error — so incoming batches are deduped on PK first (keep a
  deterministic row), SURVEY §7 risk #4.

Physical strategy (100 TB design):

- **With Delta available** (cluster path): ``DeltaTable.merge`` on the
  PK — documented in ``_delta_merge``; used automatically if the
  ``delta`` package is importable. ENVIRONMENT BLOCKER: delta-spark is
  not installed in this container and cannot be fetched (no network /
  no vendored jar), so the branch cannot execute for real here;
  ``tests/test_load.py`` drives it with a recording double
  (call-shape: forPath → merge(pk cond) → updateAll/insertAll →
  execute) and ships a ``skipif``-gated real-engine test that
  activates on any cluster where ``import delta`` succeeds.
- **Plain-parquet fallback** (this container): tables are
  **partitioned by date_stamp** and merged via *dynamic partition
  overwrite* — only partitions present in the incoming batch are read
  (partition pruning), anti-joined, unioned, rewritten. A daily
  incremental batch touches 1-2 partitions of a multi-year table, so
  the rewrite cost is O(batch), not O(table) — same asymptotics as a
  Delta MERGE with partition pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

try:  # pragma: no cover - not installed in the test container
    from delta.tables import DeltaTable

    HAVE_DELTA = True
except ImportError:
    HAVE_DELTA = False


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via Hadoop's FS API — resolves
    the scheme (file://, s3a://, hdfs://, ...), unlike driver-local
    ``os.path`` which silently answers False for every remote URI (and
    a False "exists" turns a merge into a full overwrite)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _table_exists(spark: SparkSession, path: str) -> bool:
    # NB: dynamic-partition-overwrite commits don't leave a top-level
    # _SUCCESS marker, so "table exists" = directory with any content
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath)) and len(fs.listStatus(hpath)) > 0


def _is_delta_table(spark: SparkSession, path: str) -> bool:
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(spark._jvm.org.apache.hadoop.fs.Path(hpath, "_delta_log")))


def _delete_path(spark: SparkSession, path: str) -> None:
    fs, hpath = _hadoop_fs(spark, path)
    if fs.exists(hpath):
        fs.delete(hpath, True)


def dedupe_on_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """Keep exactly one row per PK, deterministically (last by the
    remaining columns' descending sort — stable across engines/runs,
    unlike ``dropDuplicates``)."""
    others = [c for c in df.columns if c not in keys]
    order = [F.col(c).desc_nulls_last() for c in others] or [F.lit(1)]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")
    )


def match_target_casing(df: DataFrame, target_columns) -> DataFrame:
    """Rename each batch column that equals a target column up to case
    onto the target's spelling (a batch ``Close`` lands in ``close``).

    Both sinks fold case when they detect new columns, so without this
    a case variant would add a second, case-distinct column on parquet
    and fail the verbatim-quoted INSERT on a case-sensitive warehouse.
    """
    by_fold = {c.casefold(): c for c in target_columns}
    renames = {
        c: by_fold[c.casefold()]
        for c in df.columns
        if c.casefold() in by_fold and c != by_fold[c.casefold()]
    }
    return df.withColumnsRenamed(renames) if renames else df


def _delta_merge(spark: SparkSession, incoming: DataFrame, path: str, keys: list[str]) -> None:
    """Cluster path: Delta MERGE INTO keyed on the PK."""
    cond = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    (
        DeltaTable.forPath(spark, path)
        .alias("t")
        .merge(incoming.alias("s"), cond)
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )


def merge_upsert(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    keys: list[str],
    *,
    mode: str = "merge",
    partition_by: tuple[str, ...] = (),
) -> None:
    """Upsert ``incoming`` into the table at ``path`` keyed on ``keys``.

    ``mode='replace'`` overwrites the whole table (FX symbols
    semantics). ``partition_by`` should name a prefix of ``keys``
    present in every row (``date_stamp`` for price tables) to get
    partition-pruned merges.
    """
    incoming = dedupe_on_keys(incoming, keys)
    exists = _table_exists(spark, path)

    writer = incoming.write
    if partition_by:
        writer = writer.partitionBy(*partition_by)

    if mode == "replace" or not exists:
        writer.mode("overwrite").parquet(path)
        spark.catalog.refreshByPath(path)
        return

    if HAVE_DELTA and _is_delta_table(spark, path):
        _delta_merge(spark, incoming, path, keys)
        return

    target = spark.read.parquet(path)
    # dlt-parity schema evolution (reference: dlt merge auto-evolves
    # tables, SURVEY §"schema evolution"): batch columns the table has
    # never seen are ADDED (old rows read null); batch rows missing
    # known columns write null. allowMissingColumns handles both
    # directions. Type changes on an existing column are out of scope
    # (dlt coerces; here the parquet read would surface the conflict).
    # An evolving batch forces a FULL rewrite even when partitioned:
    # plain parquet has no table schema, and leaving untouched
    # partitions on the old column set would make later reads sample-
    # dependent (Delta/mergeSchema is the at-scale answer; a full
    # rewrite per evolution is the honest parquet one).
    # A batch 'Close' lands in an existing 'close', as in the warehouse
    # sink, so only a column new up to case makes the batch evolving.
    incoming = match_target_casing(incoming, target.columns)
    evolving = bool(set(incoming.columns) - set(target.columns))
    # an evolving batch rewrites every partition (see above); otherwise a
    # partitioned merge rewrites only the partitions the batch touches
    pruned = bool(partition_by) and not evolving
    if pruned:
        # restrict the rewrite to partitions present in the batch:
        # IN-list on partition values → partition pruning at the scan.
        # NULL partition values need an explicit isNull arm — isin()
        # never matches NULL, which would silently DROP the target's
        # null-partition survivors from the dynamic overwrite.
        pvals = [r[0] for r in incoming.select(*partition_by).distinct().collect()]
        pcol = partition_by[0]
        non_null = [v for v in pvals if v is not None]
        pred = F.col(pcol).isin(non_null) if non_null else F.lit(False)
        if len(non_null) != len(pvals):
            pred = pred | F.col(pcol).isNull()
        target = target.where(pred)
    survivors = target.join(incoming.select(*keys), keys, "left_anti")
    merged = survivors.unionByName(incoming, allowMissingColumns=True)
    merged = _stage_merged(spark, merged, path)
    try:
        writer = merged.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if pruned:
            writer = writer.option("partitionOverwriteMode", "dynamic")
        writer.parquet(path)
    except Exception as ex:
        # the stage IS the recovery copy (see _stage_merged): a static
        # overwrite clears the target before writing, and a dynamic one
        # may already have cleared some partitions, so a mid-write
        # failure (OOM, disk full) can leave the stage as the only
        # surviving copy — never delete it on the failure path
        raise RuntimeError(
            f"merge overwrite of {path} failed mid-write; the staged "
            f"merge result is intact at {_stage_path(path)} — restore "
            "the table from it"
        ) from ex
    _delete_path(spark, _stage_path(path))

    # clear the shared file-status cache so *new* reads list the
    # rewritten files. NB: DataFrames created BEFORE this merge hold
    # their own captured file listing and become invalid once the
    # overwrite deletes those files — plain parquet has no snapshot
    # isolation (Delta's txn log is the cluster answer; see module
    # docstring). Re-obtain handles after a merge.
    spark.catalog.refreshByPath(path)


def _stage_path(path: str) -> str:
    return path.rstrip("/") + "__merge_stage"


def _stage_merged(spark: SparkSession, merged: DataFrame, path: str) -> DataFrame:
    """Durably materialize the merged result BEFORE overwriting the
    target it reads from. A localCheckpoint would avoid the read-while-
    overwrite conflict but stores un-replicated executor blocks: an
    executor lost mid-overwrite cannot recompute (lineage truncated AND
    the source files being deleted), leaving the table partially
    destroyed. Writing the merge result to a sibling stage directory
    first means the overwrite's input survives any executor/driver
    crash — the stage IS the recovery copy until the target write
    commits (Delta's transaction log is the real answer; this is the
    honest plain-parquet one). Written unpartitioned so partition
    column types round-trip exactly."""
    stage = _stage_path(path)
    merged.write.mode("overwrite").parquet(stage)
    return spark.read.parquet(stage)


def load_prices(spark: SparkSession, df: DataFrame, path: str) -> None:
    """Price-table sink: PK (date_stamp, symbol), partitioned by date
    (py_pipeline/load.py:61-62)."""
    merge_upsert(spark, df, path, ["date_stamp", "symbol"], partition_by=("date_stamp",))


def load_stock_symbols(spark: SparkSession, df: DataFrame, path: str) -> None:
    """Stock-symbols sink: PK (symbol, date_stamp) (load.py:48-51)."""
    merge_upsert(spark, df, path, ["symbol", "date_stamp"], partition_by=("date_stamp",))


def load_fx_symbols(spark: SparkSession, df: DataFrame, path: str) -> None:
    """FX-symbols sink: replace disposition (load.py:52-53)."""
    merge_upsert(spark, df, path, ["symbol"], mode="replace")
