"""Incremental small-file compaction: the lake-maintenance job that
keeps merge-heavy tables scannable.

Every incremental merge / streaming ``foreachBatch`` append leaves a
trail of small parquet files; at 100 TB the scan cost of a table is
dominated by file-open overhead and lost row-group locality long
before raw bytes matter (the classic small-files problem). This
module is the incremental fix that only touches what needs touching:

1. **Plan** (`plan_compaction`) — list the table's data files via the
   Hadoop FS API (driver-side: one listing, O(#files) names — the
   same bounded-metadata budget Delta/Iceberg planners spend), keep
   only files below the target size, and first-fit-decreasing
   bin-pack them into bins of ≤ ``target_bytes`` — PER DIRECTORY, so
   in a partitioned layout a bin never crosses partitions and its
   merged file can return to the directory whose path encodes the
   partition values. Deterministic: directories sort by name, files
   by (size desc, name), so the same table always yields the same
   plan. Bins with a single small file are dropped — rewriting one
   file buys nothing.
2. **Execute** (`compact_small_files`) — per bin, read EXACTLY that
   bin's files and rewrite them as one file into a stage directory;
   then swap: move compacted files in, delete originals. Unplanned
   (large) files are never read or touched, so the job's I/O is
   proportional to the small-file backlog, not the table.

Crash semantics (same contract as ``load.merge_upsert``'s staged
merge, per ADVICE r4): the stage directory survives any failure and
the raised error names it. The swap orders *move-in before
delete-originals*, so a crash inside the swap window can leave a bin
duplicated but never lost; re-running `plan_compaction` after a crash
reports the leftover stage so the operator reconciles before
re-compacting. True atomic swaps need a table format with a commit
log (Delta/Iceberg) — documented as the env-blocked S7 path.

Reference parity: the reference's warehouse handles physical layout
for it (dbt tables are warehouse-managed); a Spark-native lake owns
layout maintenance itself — this extends the ``m_*`` maintenance
family (SURVEY §2 extension) next to z-ordering and SCD2.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession

from securities_data_pipeline_spark.load import _hadoop_fs

_STAGE_DIRNAME = "__compact_stage"


@dataclass(frozen=True)
class CompactionBin:
    """One rewrite unit: small files (all from ONE directory — for a
    partitioned table that means one partition, since the partition
    values live in the directory path) that merge into ~one target
    file written back into that same directory."""

    bin_id: int
    directory: str
    files: tuple[str, ...]
    total_bytes: int


def _list_data_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(file, size) for every parquet data file directly readable in
    the table (recursive — covers partitioned layouts). Skips hidden
    and marker files and any leftover stage directory."""
    fs, hpath = _hadoop_fs(spark, path)
    out: list[tuple[str, int]] = []
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        name = st.getPath().getName()
        if name.startswith(("_", ".")) or f"/{_STAGE_DIRNAME}/" in p:
            continue
        if name.endswith(".parquet"):
            out.append((p, int(st.getLen())))
    return out


def leftover_stage(spark: SparkSession, path: str) -> str | None:
    """Path of a crashed run's stage directory, or None. A non-None
    result means the previous swap may have half-applied — reconcile
    (the stage holds the compacted bins it had produced) before
    compacting again."""
    fs, hpath = _hadoop_fs(spark, path)
    stage = spark._jvm.org.apache.hadoop.fs.Path(hpath, _STAGE_DIRNAME)
    return stage.toString() if fs.exists(stage) else None


def plan_compaction(
    spark: SparkSession, path: str, target_bytes: int
) -> list[CompactionBin]:
    """First-fit-decreasing bin-packing of the table's sub-target
    files, per directory — files never bin across partition
    directories (a bin's rows must be writable back into ONE
    directory, or a partitioned table would lose its partition values
    to the merged file's location). Only multi-file bins are returned
    (a lone small file can't be improved by rewriting it)."""
    stage = leftover_stage(spark, path)
    if stage:
        raise RuntimeError(
            f"unreconciled compaction stage at {stage} "
            "— a prior run crashed mid-swap; reconcile it before planning"
        )
    by_dir: dict[str, list[tuple[str, int]]] = {}
    for p, sz in _list_data_files(spark, path):
        if sz < target_bytes:
            by_dir.setdefault(p.rsplit("/", 1)[0], []).append((p, sz))
    out: list[CompactionBin] = []
    for d in sorted(by_dir):
        small = sorted(by_dir[d], key=lambda t: (-t[1], t[0]))
        bins: list[list[tuple[str, int]]] = []
        totals: list[int] = []
        for p, sz in small:
            for i, tot in enumerate(totals):
                if tot + sz <= target_bytes:
                    bins[i].append((p, sz))
                    totals[i] += sz
                    break
            else:
                bins.append([(p, sz)])
                totals.append(sz)
        for b, tot in zip(bins, totals):
            if len(b) > 1:
                out.append(
                    CompactionBin(len(out), d, tuple(p for p, _ in b), tot)
                )
    return out


def compact_small_files(
    spark: SparkSession, path: str, target_bytes: int
) -> list[CompactionBin]:
    """Execute `plan_compaction`: rewrite each bin as one file via a
    stage-then-swap, returning the executed plan. Content-preserving
    by construction — each bin's rows are read from exactly its own
    files and written back once; untouched files are never opened."""
    plan = plan_compaction(spark, path, target_bytes)
    if not plan:
        return []
    fs, hpath = _hadoop_fs(spark, path)
    jvm = spark._jvm
    stage = jvm.org.apache.hadoop.fs.Path(hpath, _STAGE_DIRNAME)
    try:
        for b in plan:
            bin_out = jvm.org.apache.hadoop.fs.Path(stage, f"bin_{b.bin_id}")
            (
                spark.read.parquet(*b.files)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(bin_out.toString())
            )
    except Exception as ex:
        raise RuntimeError(
            f"compaction rewrite failed; partial stage left at {stage} "
            "(originals untouched) — delete the stage to retry"
        ) from ex
    # swap: move-in first (duplication on crash, never loss), then
    # delete originals; the stage dir vanishes last so leftover_stage
    # flags any half-applied swap. Compacted files land in the SAME
    # directory their bin came from — in a partitioned layout that is
    # the partition directory, so partition values (derived from the
    # path) are preserved.
    try:
        for b in plan:
            bin_out = jvm.org.apache.hadoop.fs.Path(stage, f"bin_{b.bin_id}")
            dest_dir = jvm.org.apache.hadoop.fs.Path(b.directory)
            for st in fs.listStatus(bin_out):
                name = st.getPath().getName()
                if name.endswith(".parquet"):
                    dest = jvm.org.apache.hadoop.fs.Path(
                        dest_dir, f"compacted-{b.bin_id}-{name}"
                    )
                    if not fs.rename(st.getPath(), dest):
                        raise RuntimeError(f"rename {st.getPath()} -> {dest} failed")
            for f in b.files:
                fs.delete(jvm.org.apache.hadoop.fs.Path(f), False)
    except Exception as ex:
        raise RuntimeError(
            f"compaction swap interrupted; reconcile stage at {stage} "
            "(moved-in bins may duplicate their originals until the "
            "originals are deleted)"
        ) from ex
    fs.delete(stage, True)
    spark.catalog.refreshByPath(path)
    return plan
