"""Parquet table loaders for the synthetic star schema.

Mirrors the reference's named-table scans (dbt
``{{ source("raw", ...) }}`` — dw_transformer/models/staging/*.sql) as
plain ``spark.read.parquet`` scans registered as temp views, so both the
DataFrame API and ``spark.sql`` can address them.

Scans stay fully declarative: column pruning and predicate pushdown are
Catalyst's job (reference does this by hand via ``columns=``/``filters=``
arguments, py_pipeline/extract.py:88-95).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def pin_event_session_confs(spark: SparkSession) -> None:
    """DELIBERATE session-wide side effect, part of the engine's
    contract (shared by the batch scan AND the streaming source so the
    two reads of the same file can never diverge): every query surface
    in this package assumes UTC session semantics (the session factory
    pins it; the oracle gate and all to_date/window results depend on
    it), and a session not built by our factory would otherwise reject
    the TIMESTAMP(NANOS) parquet column outright while the ns→µs
    conversion is only wall-clock-stable under UTC (SURVEY §7 risk 7).
    Callers embedding this engine in a session that must keep a
    different timezone should scan events themselves."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """ts-column normalization shared by batch and streaming reads of
    the events table — one definition, so a future change to the ns→µs
    rounding or a new parquet type branch cannot desynchronize the two
    paths."""
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # integer division — `/` would go through double and lose
        # precision above 2^53 ns
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif isinstance(ts_type, T.TimestampNTZType):
        # parquet TIMESTAMP with isAdjustedToUTC=false infers as NTZ in
        # Spark 4; watermarks and unix_micros need TIMESTAMP (LTZ).
        # Under the pinned UTC session timezone this cast is a pure
        # reinterpretation — wall-clock values are unchanged.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the session's default parallelism
    when the input arrives in FEWER partitions — for CPU-heavy per-row
    stages (minhash/hyperplane signatures, codebook argmins, pairwise
    cosines: interpreted higher-order-function projections whose cost
    is compute, not IO) that would otherwise pin one core on a small
    single-row-group file while the rest idle. At cluster scale the
    scan already arrives in more splits than cores and this is a
    no-op (the guard returns the input untouched), so the extra
    shuffle exists only in exactly the regime where it is ~free.
    Results must be partition-invariant upstream of any use (pure
    projections + total-order windows) — the invariance gate re-proves
    that for every registered consumer each round. Measured wins at
    sf0.1 (single-row-group files, local[32]): sim_ivfpq_rerank_topk
    3.58 → 2.19 s, dedup_semdedup 7.46 → 2.84 s, same-session A/B."""
    if df.isStreaming:  # .rdd is illegal on a streaming frame; a
        return df  # micro-batch is bounded by the trigger anyway
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par)


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """THE choke point for the materialize-once pattern: every reused
    intermediate in every family (gated corpora, signatures, band keys,
    per-arm assignments, component-loop round state, the BPE word
    state, the GD feature table, Lloyd inputs, shared relational and
    window aggregates) goes through here, and no other module in the
    package calls ``localCheckpoint`` or ``checkpoint``
    (``tests/test_engine.py`` enforces that), so the local-vs-cluster
    storage decision lives in ONE place. Call sites use
    ``df.transform(materialize)`` (lazy) or
    ``df.transform(materialize, eager=True)``.

    Modes (``SPARK_GRAFT_MATERIALIZE``):

    - ``local`` (default) — ``localCheckpoint``: executor-local blocks,
      lineage truncated. The right choice on this harness and on any
      cluster where recomputing from parquet after an executor loss is
      acceptable (these are all intra-QUERY intermediates — a lost
      block fails the query, the retry recomputes from source).
    - ``reliable`` — ``DataFrame.checkpoint`` into
      ``SPARK_GRAFT_CHECKPOINT_DIR`` (shared storage): survives
      executor loss, the 100 TB choice when a trainer/certificate
      query runs long enough that mid-query executor churn is expected.
      Same lineage truncation, so the driver-loop operators keep their
      O(1)-plan-per-round property. The directory is required: an
      unset ``SPARK_GRAFT_CHECKPOINT_DIR`` raises ``ValueError`` here
      rather than failing later inside Spark. The context's checkpoint
      directory is set only when it does not already point under that
      directory, so repeated pins share one directory.

    Cost of ``reliable``: it writes through ``DataFrame.checkpoint``
    WITHOUT persisting first, so Spark runs the pinned plan once for
    the action that computes it and once more for the job that writes
    the checkpoint files — every reliable pin computes its plan twice
    (in a round loop, twice per round). That is the price of
    surviving executor loss; pay it only where churn is expected.

    ``persist(DISK_ONLY)`` is deliberately NOT offered here: it does
    not truncate lineage, so the iterative operators behind this choke
    point (Lloyd loops, star contraction, BPE rounds) would replan a
    growing tree every round — the exact pathology the checkpoints
    exist to prevent. Eager/lazy follows the call site: lazy whenever
    a downstream action (fixpoint count, first arm's job) materializes
    the frame anyway; eager only where the caller needs the state
    pinned before branching work.

    SCALE.md §materialize-once documents the rationale."""
    mode = os.environ.get("SPARK_GRAFT_MATERIALIZE", "local")
    if mode == "reliable":
        ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
        if not ckpt_dir:
            raise ValueError(
                "SPARK_GRAFT_MATERIALIZE=reliable needs SPARK_GRAFT_CHECKPOINT_DIR "
                "(a shared-storage directory for the checkpoint files)"
            )
        sc = df.sparkSession.sparkContext
        if not _uses_checkpoint_dir(sc, ckpt_dir):
            sc.setCheckpointDir(ckpt_dir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def local_rows(spark: SparkSession, rows: Sequence[tuple], schema: str) -> DataFrame:
    """THE choke point for a frame built from driver-side rows (the FX
    symbol list, a symbol request list, a trained roster or codebook, a
    winners or weights table): every such frame in the package comes
    from here, and no other module calls ``spark.createDataFrame``
    except the constituents scrape, whose pandas frame already goes
    through Arrow (``tests/test_engine.py`` enforces that).

    The rows become one ``pyarrow.Table`` typed by the DDL ``schema``,
    which Spark plans as a JVM ``LocalRelation`` (``LocalTableScan``).
    ``spark.createDataFrame(rows, schema)`` on a list instead plans a
    Python-row RDD (``Scan ExistingRDD``), and every job over it
    cold-starts Python workers to unpickle the rows: seconds of task
    time on a 7-row FX symbol list, ahead of everything else queued on
    the cores. Rows are embedded in the plan, so this is for
    driver-sized lists only; anything larger is a table to read."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = T.DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    arrow = pa.Table.from_arrays(
        [pa.array(col, type=field.type) for col, field in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(arrow, struct)


OVERLAP_THREAD_PREFIX = "overlap"


def overlap(spark: SparkSession, *thunks: Callable[[], Any]) -> list:
    """THE choke point for driver-thread overlap: run independent
    thunks concurrently, each on its own driver thread, so their
    Catalyst planning, codegen and jobs interleave instead of leaving
    the cores idle between one caller's small driver-bound jobs. No
    other module in the package constructs a thread
    (``tests/test_engine.py`` enforces that).

    Each thunk runs under ``pyspark.inheritable_thread_target``: the
    caller's job group, job description and other local properties
    follow it onto its pinned JVM thread, so its jobs are attributed
    (and cancellable) exactly like the caller's own.

    Waits for EVERY thunk before returning, even when one fails — a
    sibling is never abandoned mid-write (a cancelled overwrite can
    damage a table) — then returns the results in argument order, or
    raises the first failure in argument order."""
    with ThreadPoolExecutor(
        max_workers=len(thunks), thread_name_prefix=OVERLAP_THREAD_PREFIX
    ) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(t)) for t in thunks]
    # leaving the block joined every thread: all thunks have finished
    return [f.result() for f in futures]


def _uses_checkpoint_dir(sc, ckpt_dir: str) -> bool:
    """Whether the context already checkpoints under ``ckpt_dir``.
    ``setCheckpointDir`` creates a fresh ``<dir>/<uuid>`` on every
    call, so the comparison is on the qualified parent path."""
    current = sc.getCheckpointDir()
    if current is None:
        return False
    hpath = sc._jvm.org.apache.hadoop.fs.Path
    want = hpath(ckpt_dir)
    want = want.getFileSystem(sc._jsc.hadoopConfiguration()).makeQualified(want)
    return bool(hpath(current).getParent().equals(want))


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Pure ``spark.read.parquet`` — no caching, no hints.

    TIMESTAMP(NANOS) parquet columns (the ``events.ts`` column) are read
    as nanos-since-epoch longs (``spark.sql.legacy.parquet.nanosAsLong``)
    and converted to microsecond timestamps at the scan, matching how
    warehouse engines downcast ns→us. Conversion is a cheap projection —
    pruning/pushdown on other columns is unaffected.
    """
    if name == "events":
        pin_event_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_event_ts(df)
    return df


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``readStream`` twin of :func:`table`: the same conf pinning and
    ts normalization for ``events``, with the schema taken from the
    batch scan so the stream and batch reads cannot desynchronize.

    Handles both landing layouts: a single ``<name>.parquet`` FILE
    beside other tables (the testdata convention — glob-filtered so
    sibling tables are not swept in) and a ``<name>.parquet/``
    DIRECTORY of part files (what any Spark writer produces — a real
    landing zone IS a directory; the glob filter would silently match
    zero part files there, found by the embeddings fuzz sweep)."""
    if name == "events":
        pin_event_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    reader = spark.readStream.schema(spark.read.parquet(path).schema)
    if os.path.isdir(path):
        df = reader.parquet(path)
    else:
        df = reader.option("pathGlobFilter", f"{name}.parquet").parquet(sf_dir)
    if name == "events":
        df = normalize_event_ts(df)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    """Load tables and register each as a same-named temp view."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
