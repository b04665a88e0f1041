"""Write-time admission gating (sources/validated.py).

Pins the SCALE.md §12 contract: the gate runs once at ingest into a
clean store + quarantine side output (S6 pattern), queries scan the
clean store, and the store invalidates itself when the raw table is
rewritten or the gate version changes.
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from securities_data_pipeline_spark.sources import validated as V


@pytest.fixture()
def scratch(tmp_path, monkeypatch):
    """Isolated sf_dir with a small pathological events table, and an
    isolated clean root so tests never share store state."""
    monkeypatch.setenv("SPARK_GRAFT_CLEAN_DIR", str(tmp_path / "clean"))
    return str(tmp_path)


def _write_events(spark, sf_dir, rows):
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event string, value double"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "events.parquet")
    )


GOOD = [
    (1, "2024-01-01 00:00:00", "view", 1.0),
    (2, "2024-01-02 00:00:00", "error", None),  # NULL metric is legit
]
BAD = [
    (3, None, "view", 1.0),  # NULL event time
    (4, "2200-01-01 00:00:00", "view", 1.0),  # watermark poison
    (5, "2024-01-03 00:00:00", "view", math.nan),  # NaN metric
    (6, "2024-01-04 00:00:00", "view", 1.0e9),  # out-of-bound metric
]


def _rows(spark, rows):
    import datetime as dt

    def conv(r):
        ts = (
            dt.datetime.fromisoformat(r[1]).replace(tzinfo=dt.timezone.utc)
            if r[1]
            else None
        )
        return (r[0], ts, r[2], r[3])

    return [conv(r) for r in rows]


def test_clean_store_splits_and_quarantines(spark, scratch):
    _write_events(spark, scratch, _rows(spark, GOOD + BAD))
    clean = V.validated_events(spark, scratch)
    assert sorted(r.user_id for r in clean.collect()) == [1, 2]
    quar = V.quarantined_table(spark, scratch, "events")
    assert sorted(r.user_id for r in quar.collect()) == [3, 4, 5, 6]
    # store materialized on disk exactly once
    dest = V._store_dir(scratch, "events")
    assert os.path.isdir(os.path.join(dest, "clean"))
    assert os.path.isdir(os.path.join(dest, "quarantine"))


def test_store_invalidates_on_raw_rewrite(spark, scratch):
    _write_events(spark, scratch, _rows(spark, GOOD))
    assert V.validated_events(spark, scratch).count() == 2
    old_key = V._store_key(scratch, "events")
    # rewrite the raw table (the fuzz harnesses do this between runs)
    _write_events(spark, scratch, _rows(spark, GOOD + BAD + BAD))
    new_key = V._store_key(scratch, "events")
    assert new_key != old_key
    assert V.validated_events(spark, scratch).count() == 2  # gate holds


def test_read_mode_matches_write_mode(spark, scratch):
    """The clean store holds exactly the rows the per-read gate (the
    store's fallback) admits from the raw table."""
    from securities_data_pipeline_spark.sources.tables import table

    _write_events(spark, scratch, _rows(spark, GOOD + BAD))
    w = {tuple(r) for r in V.validated_events(spark, scratch).collect()}
    per_read = table(spark, scratch, "events").where(V._gate_column("events"))
    r = {tuple(r) for r in per_read.collect()}
    assert w == r and len(w) == len(GOOD)


def test_unwritable_clean_root_falls_back(spark, scratch, monkeypatch):
    _write_events(spark, scratch, _rows(spark, GOOD + BAD))
    monkeypatch.setenv(
        "SPARK_GRAFT_CLEAN_DIR", "/proc/definitely/not/writable"
    )
    df = V.validated_events(spark, scratch)
    assert sorted(r.user_id for r in df.collect()) == [1, 2]


def test_embeddings_store_gates_vectors(spark, scratch):
    rows = [
        (0, [1.0] * 64, 0),  # good
        (1, None, 0),  # NULL
        (2, [0.0] * 64, 0),  # zero vector
        (3, [1.0] * 3, 0),  # wrong dim
        (4, [math.inf] + [1.0] * 63, 0),  # inf component
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(scratch, "embeddings.parquet")
    )
    clean = V.validated_embeddings(spark, scratch)
    assert [r.vec_id for r in clean.collect()] == [0]
    quar = V.quarantined_table(spark, scratch, "embeddings")
    assert sorted(r.vec_id for r in quar.collect()) == [1, 2, 3, 4]


def test_ticks_residual_on_clean_store(spark, scratch):
    # a NULL-value event passes event_ok (error events carry no metric)
    # but must not reach the securities tick feed
    _write_events(
        spark,
        scratch,
        _rows(spark, GOOD + [(7, "2024-01-05 00:00:00", "tick", -3.0)]),
    )
    from securities_data_pipeline_spark.functions.gates import ticks

    t = ticks(spark, scratch)
    assert [r.user_id for r in t.collect()] == [1]  # null metric + negative dropped


def test_concurrent_materialize_race_first_writer_wins(spark, scratch):
    """Two sessions materializing the same store race benignly: the
    loser's atomic rename fails, it discards its staging dir and reads
    the winner's store."""
    _write_events(spark, scratch, _rows(spark, GOOD))
    # winner commits first
    assert V.validated_events(spark, scratch).count() == 2
    dest = V._store_dir(scratch, "events")
    # loser: call _materialize directly against the existing dest —
    # must not raise, must not corrupt the committed store
    V._materialize(spark, scratch, "events", dest)
    assert V.validated_events(spark, scratch).count() == 2
    # and no staging litter left behind
    parent = os.path.dirname(dest)
    assert not [d for d in os.listdir(parent) if ".tmp." in d]


def test_store_gc_bounds_clean_root(spark, scratch, monkeypatch):
    """Raw rewrites mint new store keys; the GC keeps only the most
    recent few per table so the clean root cannot grow forever.
    Grace age 0 here: this test is ABOUT the max_keep bound, and every
    store it creates is seconds old (the grace-window behavior is
    pinned separately below)."""
    monkeypatch.setattr(V, "GRACE_SEC", 0)
    for i in range(7):
        _write_events(
            spark, scratch, _rows(spark, GOOD + GOOD[:1] * i)
        )
        assert V.validated_events(spark, scratch).count() >= 2
    root = V.clean_root()
    stores = [d for d in os.listdir(root) if d.startswith("events-")]
    assert len(stores) <= 5  # max_keep=4 + the live one
    # the live store still reads fine after GC of its siblings
    assert V.validated_events(spark, scratch).count() >= 2


def test_gc_grace_spares_young_siblings(spark, scratch):
    """ADVICE r7: a just-superseded store may still back a concurrent
    session's LAZY DataFrame (parquet resolves files at action time),
    so default GC must NOT prune seconds-old siblings — only the
    grace-aged ones. Proven end-to-end: a reader plan built against
    the old store still collects correctly after the rewrite."""
    _write_events(spark, scratch, _rows(spark, GOOD))
    old_reader = V.validated_events(spark, scratch)  # lazy, old store
    for i in range(6):  # mint 6 more store keys under default grace
        _write_events(spark, scratch, _rows(spark, GOOD + GOOD[:1] * (i + 1)))
        assert V.validated_events(spark, scratch).count() >= 2
    root = V.clean_root()
    stores = [d for d in os.listdir(root) if d.startswith("events-")]
    assert len(stores) == 7  # nothing young was pruned
    # the in-flight reader over the superseded store still works
    assert old_reader.count() == 2


def test_foreign_uid_store_not_trusted(spark, scratch, monkeypatch):
    """ADVICE r7 (medium): a pre-existing store this uid does not own
    (another user pre-created the computable key under a shared root)
    must never be read as validated rows — the per-read gate runs
    instead, so a poisoned store cannot leak unvalidated data."""
    _write_events(spark, scratch, _rows(spark, GOOD + BAD))
    assert V.validated_events(spark, scratch).count() == 2  # materialize
    dest = V._store_dir(scratch, "events")
    # poison the committed store with unvalidated (BAD-inclusive) rows
    import shutil as _sh

    _sh.rmtree(os.path.join(dest, "clean"))
    spark.createDataFrame(
        _rows(spark, GOOD + BAD),
        "user_id long, ts timestamp, event string, value double",
    ).coalesce(1).write.parquet(os.path.join(dest, "clean"))
    # same uid: the (poisoned) store is trusted — demonstrates the
    # attack surface the ownership check closes
    assert V.validated_events(spark, scratch).count() == 6
    # foreign uid: distrusted, per-read gate re-applies
    monkeypatch.setattr(V, "_owned_by_me", lambda path: False)
    assert sorted(
        r.user_id for r in V.validated_events(spark, scratch).collect()
    ) == [1, 2]
    # quarantine side follows the same trust rule (complement on the fly)
    quar = V.quarantined_table(spark, scratch, "events")
    assert sorted(r.user_id for r in quar.collect()) == [3, 4, 5, 6]


def test_default_clean_root_is_per_uid(monkeypatch):
    """The default root must not be a world-shared fixed path."""
    monkeypatch.delenv("SPARK_GRAFT_CLEAN_DIR", raising=False)
    root = V.clean_root()
    assert root != "/tmp/sdp_clean"
    if hasattr(os, "getuid"):
        assert str(os.getuid()) in os.path.basename(root)


def test_spark_side_materialize_failure_falls_back(spark, scratch, monkeypatch):
    """ADVICE r7: a NON-OSError failure inside materialization (the
    Py4JJavaError / AnalysisException class — task-level disk full,
    unreachable clean root through the Hadoop FS layer) must degrade
    to the per-read gate, not fail the query."""
    _write_events(spark, scratch, _rows(spark, GOOD + BAD))

    def boom(spark_, sf_dir, name, dest):
        raise RuntimeError("simulated Py4JJavaError: executor lost")

    monkeypatch.setattr(V, "_materialize", boom)
    df = V.validated_events(spark, scratch)
    assert sorted(r.user_id for r in df.collect()) == [1, 2]


def test_failed_materialize_removes_staging(spark, scratch, monkeypatch):
    """A write that dies at ACTION time (real Spark task failure, not a
    monkeypatched stand-in) must not leave a half-written staging dir
    behind — cleanup runs on the failure path, not only after rename."""
    _write_events(spark, scratch, _rows(spark, GOOD))
    real_table = V.table

    def poisoned_table(spark_, sf_dir, name):
        df = real_table(spark_, sf_dir, name)
        # assert_true(false) throws inside the write job's tasks
        return df.withColumn(
            "value", F.when(F.assert_true(F.lit(False)).isNull(), df.value)
        )

    monkeypatch.setattr(V, "table", poisoned_table)
    dest = V._store_dir(scratch, "events")
    with pytest.raises(Exception):
        V._materialize(spark, scratch, "events", dest)
    root = V.clean_root()
    assert not [d for d in os.listdir(root) if ".tmp." in d]
    assert not os.path.isdir(dest)


def test_concurrent_materialization_one_winner_no_torn_reads(spark, scratch):
    """VERDICT r7 #7: two sessions materializing the same (table,
    gate-version) key SIMULTANEOUSLY on a shared filesystem. Threads
    here stand in for sessions — the commit protocol under test is
    purely filesystem-level (call-unique staging dir + atomic rename),
    identical across threads, processes, and hosts sharing a POSIX
    namespace. Both racers must return exactly the gated rows (zero
    torn reads), exactly one committed store must exist, and no
    staging litter may survive."""
    import threading

    _write_events(spark, scratch, _rows(spark, GOOD + BAD))
    barrier = threading.Barrier(2)
    results: dict[int, object] = {}

    def racer(i):
        barrier.wait()
        try:
            results[i] = sorted(
                r.user_id
                for r in V.validated_events(spark, scratch).collect()
            )
        except Exception as ex:  # pragma: no cover - failure detail
            results[i] = ex

    threads = [threading.Thread(target=racer, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert results[0] == [1, 2], results[0]
    assert results[1] == [1, 2], results[1]
    root = V.clean_root()
    stores = [d for d in os.listdir(root) if d.startswith("events-")]
    assert len(stores) == 1  # exactly one winner
    assert not [d for d in os.listdir(root) if ".tmp." in d]
    # the committed store is complete: clean AND quarantine halves
    dest = os.path.join(root, stores[0])
    assert os.path.isdir(os.path.join(dest, "clean"))
    assert os.path.isdir(os.path.join(dest, "quarantine"))


def test_gc_hard_cap_prunes_runaway_root_within_grace(tmp_path, monkeypatch):
    """ADVICE r8: the grace window must not be unconditional — a
    harness rewriting its raw table every few seconds mints a fresh
    store key per rewrite and would otherwise grow the root unboundedly
    for a full grace hour. Past 4*max_keep committed siblings the
    oldest are pruned on the short _HARD_CAP_GRACE_SEC leash instead
    of the full hour (but never with zero grace — ADVICE r9, pinned by
    test_gc_hard_cap_keeps_minimal_grace below). Pure-filesystem test:
    stores are synthesized dirs, GC is called directly with the
    default grace (1h), stores aged 1-30s so the capped tail is past
    the minimal leash."""
    root = tmp_path / "clean"
    monkeypatch.setenv("SPARK_GRAFT_CLEAN_DIR", str(root))
    root.mkdir()
    import time as _t

    dirs = []
    for i in range(30):
        d = root / f"events-k{i:02d}"
        (d / "clean").mkdir(parents=True)
        # stagger mtimes so "newest" is well-defined (newest = last)
        past = _t.time() - (30 - i)
        os.utime(d, (past, past))
        dirs.append(d)
    keep = str(dirs[-1])
    V._gc_stale_stores("events", keep=keep)
    left = sorted(d for d in os.listdir(root) if d.startswith("events-"))
    # keep + max_keep graced + (hard_cap - max_keep) young-but-capped
    # survivors = at most 4*max_keep + 1 = 17
    assert len(left) <= 17, left
    assert os.path.basename(keep) in left
    # the survivors are the NEWEST ones — the pruned tail is the oldest
    assert "events-k00" not in left and "events-k05" not in left
    assert "events-k29" in left and "events-k28" in left


def test_gc_hard_cap_keeps_minimal_grace(tmp_path, monkeypatch):
    """ADVICE r9: past the hard cap deletion must NOT be unconditional
    — a lazy DataFrame over an old store resolves parquet files at
    action time, so even capped tail entries keep the minimal
    _HARD_CAP_GRACE_SEC age bound. Synthesizes a runaway root whose
    tail entries are all YOUNGER than the minimal grace: none may be
    pruned, however far past the hard cap the root has grown."""
    root = tmp_path / "clean"
    monkeypatch.setenv("SPARK_GRAFT_CLEAN_DIR", str(root))
    root.mkdir()
    import time as _t

    now = _t.time()
    for i in range(30):
        d = root / f"events-k{i:02d}"
        (d / "clean").mkdir(parents=True)
        # all stores younger than the minimal grace (fractions of a
        # second apart so "newest" stays well-defined)
        past = now - (30 - i) * (V._HARD_CAP_GRACE_SEC / 120.0)
        os.utime(d, (past, past))
    keep = str(root / "events-k29")
    V._gc_stale_stores("events", keep=keep)
    left = [d for d in os.listdir(root) if d.startswith("events-")]
    assert len(left) == 30, sorted(left)


def test_gc_staging_alive_by_subtree_mtime(tmp_path, monkeypatch):
    """ADVICE r8: a staging dir's top-level mtime does not advance
    while Spark writes parquet into clean/ and quarantine/ SUBdirs, so
    abandonment must be judged by the newest mtime anywhere in the
    tree. A staging whose top dir is grace-old but whose part file is
    fresh (an in-flight long materialization) must survive GC; one
    whose whole tree is old must be reaped."""
    root = tmp_path / "clean"
    monkeypatch.setenv("SPARK_GRAFT_CLEAN_DIR", str(root))
    monkeypatch.setattr(V, "GRACE_SEC", 3600)
    root.mkdir()
    import time as _t

    old = _t.time() - 7200
    # in-flight: top-level dir old, but a part file written just now
    live = root / "events-kaaa.tmp.123.456.0"
    (live / "clean").mkdir(parents=True)
    (live / "clean" / "part-00000.parquet").write_bytes(b"x")
    os.utime(live / "clean", (old, old))
    os.utime(live, (old, old))  # top dir looks abandoned...
    # ...but the part file is fresh (default now mtime) — keep it
    # abandoned: every path in the tree is grace-old
    dead = root / "events-kbbb.tmp.789.012.0"
    (dead / "clean").mkdir(parents=True)
    (dead / "clean" / "part-00000.parquet").write_bytes(b"x")
    for p in [dead / "clean" / "part-00000.parquet", dead / "clean", dead]:
        os.utime(p, (old, old))
    keep = root / "events-kccc"
    (keep / "clean").mkdir(parents=True)
    V._gc_stale_stores("events", keep=str(keep))
    left = os.listdir(root)
    assert live.name in left, "in-flight staging must survive GC"
    assert dead.name not in left, "fully-aged staging must be reaped"
