"""Write-time admission gating: the validated clean store.

SCALE.md §12's contract is that at 100 TB the admission gates
(``event_ok``/``tick_ok`` for events, ``embedding_ok`` for vectors)
run ONCE at ingest, not on every query's scan — the per-read gate was
measured at 15-25% of every embeddings scan (BASELINE.md round-6 fuzz
notes).  This module implements that contract with the same S6
quarantine-split pattern the relational ingest path already uses
(reference error channel: py_pipeline/extract.py:122,134-137):

    raw parquet ──gate──▶ clean store (parquet)  ◀── every gated query
                    └────▶ quarantine store      ◀── audit / replay

The clean store is keyed by (raw file stat, gate version), so a
rewritten raw file (the fuzz harnesses overwrite their scratch tables
between runs) or a changed gate predicate invalidates it
automatically.  Materialization is write-once / read-many with an
atomic ``os.rename`` commit, so concurrent sessions race benignly
(first writer wins, losers read the winner's store).

The per-read gates in ``functions/gates.py`` stay as the documented
defense for ad-hoc scans of unvalidated paths, and the store falls
back to them by itself: any failure during materialization, filesystem
(a read-only filesystem included) OR Spark-side, gives the per-read
gate instead of failing the query, after removing its staging dir.

At cluster scale the equivalent is the ingest job writing the
validated Delta table and queries scanning it; the oracle side keeps
the per-read gated CTE (same rows by construction), so Spark-vs-DuckDB
parity is unchanged.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import shutil
import sys
import tempfile
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from securities_data_pipeline_spark.functions.gates import embedding_ok, event_ok
from securities_data_pipeline_spark.sources.tables import table

#: bump when any admission predicate changes — stale stores must not
#: survive a gate redefinition
GATE_VERSION = 1

_CLEAN_ROOT_ENV = "SPARK_GRAFT_CLEAN_DIR"

#: GC only prunes stores this old (seconds). A sibling store younger
#: than the grace window may still back a concurrent session's LAZY
#: DataFrame — parquet scans resolve files at action time, so deleting
#: a just-superseded store fails that in-flight query with
#: FileNotFoundException rather than "re-materializing on next touch"
#: (only the NEXT validated_table call re-materializes).
GRACE_SEC = 3600

#: minimal grace that survives even past the sibling hard cap (ADVICE
#: r9: unconditional deletion re-opened the action-time hazard for
#: tail entries). Long enough for an in-flight action's file listing;
#: short enough that a fast-rewriting harness still sees the root
#: bounded at ~4*max_keep entries within seconds.
_HARD_CAP_GRACE_SEC = 10.0

_staging_seq = itertools.count()

#: gate-mode observability (VERDICT r8 item 2): one stderr line per
#: (table, store key, mode) per process, so a bench record captured by
#: the driver self-documents WHICH gate mode its timings ran under —
#: "hit" (store already materialized: the 15-25% per-read gate cost is
#: absent), "materialize" (this session paid the one-time write), or
#: "per-read" (fallback: every scan re-runs the gate).
_observed_modes: set[tuple[str, str, str]] = set()
_observed_lock = threading.Lock()


def _observe(name: str, key: str, mode: str) -> None:
    tag = (name, key, mode)
    with _observed_lock:
        if tag in _observed_modes:
            return
        _observed_modes.add(tag)
    print(
        f"# clean-store {name}-{key}: {mode}",
        file=sys.stderr,
        flush=True,
    )


def _gate_column(name: str):
    if name == "events":
        return event_ok()
    if name == "embeddings":
        return embedding_ok(F.col("embedding"))
    raise ValueError(f"no admission gate defined for table {name!r}")


def _store_key(sf_dir: str, name: str) -> str:
    """Content key for the clean store: raw file identity (path + per-
    part size + mtime_ns) + gate version.  Cheap (os.stat only), and
    any rewrite of the raw table produces a new key."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    parts: list[tuple] = []
    if os.path.isdir(path):
        for fn in sorted(os.listdir(path)):
            fp = os.path.join(path, fn)
            st = os.stat(fp)
            parts.append((fn, st.st_size, st.st_mtime_ns))
    else:
        st = os.stat(path)
        parts.append((os.path.basename(path), st.st_size, st.st_mtime_ns))
    raw = repr((os.path.abspath(path), parts, GATE_VERSION))
    return hashlib.sha1(raw.encode()).hexdigest()[:16]


def clean_root() -> str:
    """Clean-store root. The default is PER-UID (not a world-shared
    /tmp path): on a multi-user host a fixed shared root lets another
    user pre-create ``events-<key>`` (the key is computable from stat
    of readable raw files) and have every gated query trust their
    rows as validated; a root owned by another uid also turns every
    makedirs/rename into a permanent per-read fallback. Stores found
    under an explicitly-configured root are additionally ownership-
    checked before being trusted (``_owned_by_me``)."""
    root = os.environ.get(_CLEAN_ROOT_ENV)
    if root:
        return root
    uid = os.getuid() if hasattr(os, "getuid") else "na"
    return os.path.join(tempfile.gettempdir(), f"sdp_clean-{uid}")


def _owned_by_me(path: str) -> bool:
    """True when ``path`` belongs to this uid (POSIX) — a store or
    root owned by anyone else is never trusted and never written
    into. On platforms without uids there is no ownership axis."""
    if not hasattr(os, "getuid"):
        return True
    try:
        return os.stat(path).st_uid == os.getuid()
    except OSError:
        return False


def _ensure_root() -> str:
    """Create (0700) or validate the clean root; raises PermissionError
    when an existing root is another uid's (the caller's except-path
    turns that into the per-read gate)."""
    root = clean_root()
    if os.path.isdir(root):
        if not _owned_by_me(root):
            raise PermissionError(f"clean root {root!r} owned by another uid")
        return root
    os.makedirs(root, mode=0o700, exist_ok=True)
    return root


def _materialize(spark: SparkSession, sf_dir: str, name: str, dest: str) -> None:
    """Quarantine-split the raw table and commit the clean store
    atomically: write to a call-unique staging dir, then rename.
    Staging uniqueness must be per CALL, not per process — two threads
    of one session racing the same store key (the driver runs queries
    concurrently under pytest-style harnesses) would interleave writes
    into a shared pid-keyed dir; pid+thread+sequence keys each attempt.
    Any write failure removes the staging dir before propagating, so a
    half-written staging never survives (the caller falls back to the
    per-read gate)."""
    staging = (
        f"{dest}.tmp.{os.getpid()}.{threading.get_ident()}.{next(_staging_seq)}"
    )
    raw = table(spark, sf_dir, name)
    gate = _gate_column(name)
    try:
        # clean rows: gate TRUE.  Written with the scan's own
        # partitioning: at testdata scale that is 1-2 files (a
        # repartition(par) here was A/B-measured SLOWER — 32 ~25 KB
        # files cost more in per-file open overhead than the
        # vectorized gate they saved), and at cluster scale the ingest
        # job's scan already arrives in size-based splits. CPU-heavy
        # consumers fan out via spread() exactly as on raw scans.
        raw.where(gate).write.mode("overwrite").parquet(
            os.path.join(staging, "clean")
        )
        # quarantine rows: gate FALSE or NULL — kept for audit/replay,
        # the S6 error-channel side output.
        raw.where(~F.coalesce(gate, F.lit(False))).write.mode(
            "overwrite"
        ).parquet(os.path.join(staging, "quarantine"))
    except BaseException:
        # Spark-side write failure (Py4JJavaError, AnalysisException,
        # task-level disk full) — never leave a torn staging dir
        shutil.rmtree(staging, ignore_errors=True)
        raise
    try:
        os.rename(staging, dest)
    except OSError:
        # another session committed first — use theirs
        shutil.rmtree(staging, ignore_errors=True)
        if not os.path.isdir(dest):
            raise
    _gc_stale_stores(name, keep=dest)


def _tree_max_mtime(path: str) -> float:
    """Newest mtime anywhere under ``path`` (the dir itself included).
    A staging dir's TOP-LEVEL mtime does not advance while Spark is
    writing parquet into its clean/ and quarantine/ SUBdirs (ADVICE
    r8) — judging abandonment by it alone lets a concurrent session's
    GC delete a >grace-long materialization mid-write. The max over
    the tree moves with every part-file Spark lands."""
    try:
        newest = os.path.getmtime(path)
    except OSError:
        return 0.0
    for dirpath, _dirnames, filenames in os.walk(path):
        for fn in filenames:
            try:
                newest = max(
                    newest, os.path.getmtime(os.path.join(dirpath, fn))
                )
            except OSError:
                continue
    return newest


def _gc_stale_stores(
    name: str, keep: str, max_keep: int = 4, grace_sec: float | None = None
) -> None:
    """Bound the clean root: every raw-table rewrite (the fuzz
    harnesses do this constantly) mints a new store key, so without
    GC the root grows one store per rewrite forever. Keep the
    ``max_keep`` most-recent stores per table (by mtime) plus the one
    just committed; prune the rest best-effort, but ONLY past the
    ``grace_sec`` age bound — a younger sibling may still back a
    concurrent session's lazy DataFrame (parquet resolves files at
    action time), and deleting it would fail that in-flight query at
    action time rather than harmlessly forcing a re-materialization.

    The grace window is NOT unconditional (ADVICE r8): a harness that
    rewrites its raw table every few seconds mints a fresh key each
    time and could otherwise grow the root without bound for a full
    grace hour. Past a hard ceiling of ``4 * max_keep`` committed
    sibling stores, the oldest are pruned on a much shorter leash —
    but never with ZERO grace (ADVICE r9): a long-running query
    holding a lazy DataFrame over an old store resolves its parquet
    files at action time, so even tail entries keep the minimal
    ``_HARD_CAP_GRACE_SEC`` age bound, long enough for any in-flight
    action to finish its file listing while still bounding the root
    to ~hard_cap entries under a fast-rewriting harness.

    Abandoned ``.tmp.`` staging dirs (a crashed writer) age out under
    the same grace window, judged by the NEWEST mtime in their tree
    (``_tree_max_mtime``) so an in-flight write is never "abandoned"."""
    if grace_sec is None:
        grace_sec = GRACE_SEC
    root = clean_root()
    now = time.time()
    try:
        entries = os.listdir(root)
    except OSError:
        return
    sibs, staging = [], []
    for d in entries:
        if not d.startswith(f"{name}-"):
            continue
        (staging if ".tmp." in d else sibs).append(os.path.join(root, d))
    sibs = [d for d in sibs if os.path.abspath(d) != os.path.abspath(keep)]
    sibs.sort(key=lambda d: os.path.getmtime(d), reverse=True)
    hard_cap = 4 * max_keep
    for i, stale in enumerate(sibs[max_keep:], start=max_keep):
        # inside the soft band the full grace applies; past the hard
        # cap a minimal grace still does (never zero — ADVICE r9)
        floor = grace_sec if i < hard_cap else min(
            grace_sec, _HARD_CAP_GRACE_SEC
        )
        try:
            if now - os.path.getmtime(stale) < floor:
                continue
        except OSError:
            continue
        shutil.rmtree(stale, ignore_errors=True)
    for stale in staging:
        if now - _tree_max_mtime(stale) < grace_sec:
            continue
        shutil.rmtree(stale, ignore_errors=True)


def _store_dir(sf_dir: str, name: str) -> str:
    return os.path.join(clean_root(), f"{name}-{_store_key(sf_dir, name)}")


def validated_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan the admission-gated clean store for ``name``, materializing
    it on first touch.  Falls back to the per-read gate when the store
    cannot be written."""
    if name == "events":
        # clean-store ts is already µs TIMESTAMP, but every downstream
        # consumer assumes UTC session semantics — pin exactly as the
        # raw scan does (sources/tables.py contract)
        from securities_data_pipeline_spark.sources.tables import (
            pin_event_session_confs,
        )

        pin_event_session_confs(spark)
    try:
        dest = _store_dir(sf_dir, name)
        key = os.path.basename(dest).split("-")[-1]
        if not os.path.isdir(os.path.join(dest, "clean")):
            _ensure_root()
            try:
                _materialize(spark, sf_dir, name, dest)
                _observe(name, key, "materialize")
            except OSError:
                raise
            except Exception as ex:
                # Spark-side write failure (Py4JJavaError / Analysis-
                # Exception — task-level disk full, unreachable root
                # via the Hadoop FS layer): _materialize already
                # removed its staging dir; degrade to the per-read
                # gate instead of failing the query.
                _observe(name, key, f"per-read (materialize failed: {ex})")
                return table(spark, sf_dir, name).where(_gate_column(name))
        else:
            _observe(name, key, "hit")
        if not _owned_by_me(dest):
            # a pre-existing store under a shared/explicit root that
            # this uid did not write — never trust another user's rows
            # as validated data
            _observe(name, key, "per-read (store not owned by this uid)")
            return table(spark, sf_dir, name).where(_gate_column(name))
        return spark.read.parquet(os.path.join(dest, "clean"))
    except OSError as ex:
        _observe(name, "na", f"per-read (OS error: {ex})")
        return table(spark, sf_dir, name).where(_gate_column(name))


def quarantined_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The rejected-rows side output for a validated table (audit
    surface; empty on clean inputs)."""
    validated_table(spark, sf_dir, name)  # ensure materialized
    dest = _store_dir(sf_dir, name)
    qpath = os.path.join(dest, "quarantine")
    if os.path.isdir(qpath) and _owned_by_me(dest):
        return spark.read.parquet(qpath)
    # fallback: compute the complement on the fly
    gate = _gate_column(name)
    return table(spark, sf_dir, name).where(~F.coalesce(gate, F.lit(False)))


def validated_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return validated_table(spark, sf_dir, "events")


def validated_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return validated_table(spark, sf_dir, "embeddings")
