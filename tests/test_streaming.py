"""Structured Streaming: availableNow rollups, stateful dedup,
watermarked late-data handling, foreachBatch merge ingestion."""

import datetime as dt
import os
import shutil

import pytest
from pyspark.sql import functions as F

from securities_data_pipeline_spark.sources.tables import stream_table, table
from securities_data_pipeline_spark.streaming.ingest import (
    events_stream,
    run_to_memory,
    s_stream_daily_rollup,
    stream_merge_into,
)

SF = "/root/testdata/sf0.001"


def test_daily_rollup_matches_batch(spark):
    got = {
        (str(r.day), r.event_type): (r.n_events, r.sum_value)
        for r in s_stream_daily_rollup(spark, SF).collect()
    }

    exp = {
        (str(r.day), r.event_type): (r.n_events, r.sum_value)
        for r in table(spark, SF, "events")
        .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .collect()
    }
    assert got == exp


@pytest.mark.parametrize("name", ["events", "documents", "embeddings"])
def test_stream_table_reads_file_and_directory_landings(spark, tmp_path, name):
    """The stream scan reads both landing layouts to the batch scan's
    rows: a single ``<name>.parquet`` file beside a sibling table (the
    glob filter must not sweep the sibling in) and a ``<name>.parquet/``
    directory of part files (where that glob filter would match none)."""
    import pyarrow.parquet as pq

    src = os.path.join(SF, f"{name}.parquet")
    file_dir = tmp_path / "file"
    file_dir.mkdir()
    shutil.copyfile(src, file_dir / f"{name}.parquet")
    shutil.copyfile(os.path.join(SF, "region.parquet"), file_dir / "region.parquet")
    dir_dir = tmp_path / "dir"
    parts = dir_dir / f"{name}.parquet"
    parts.mkdir(parents=True)
    arrow = pq.read_table(src)
    half = arrow.num_rows // 2
    pq.write_table(arrow.slice(0, half), parts / "part-00000.parquet")
    pq.write_table(arrow.slice(half), parts / "part-00001.parquet")

    for landing in (str(file_dir), str(dir_dir)):
        got = run_to_memory(stream_table(spark, landing, name), "append").collect()
        want = table(spark, landing, name).collect()
        assert len(got) == len(want) == arrow.num_rows, landing
        assert sorted(map(tuple, got)) == sorted(map(tuple, want)), landing


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps the first of two replays
    arriving within the watermark interval."""
    src = str(tmp_path / "landing")
    os.makedirs(src)
    rows = [
        (1, dt.datetime(2024, 1, 1, 10, 0), "click"),
        (1, dt.datetime(2024, 1, 1, 10, 30), "click"),  # replay within watermark
        (2, dt.datetime(2024, 1, 1, 11, 0), "view"),
    ]
    spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string").write.parquet(
        src + "/batch1.parquet"
    )
    stream = spark.readStream.schema("event_id long, ts timestamp, event_type string").parquet(
        src + "/*"
    )
    deduped = stream.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(["event_id"])
    out = run_to_memory(deduped, "append")
    got = sorted((r.event_id, r.event_type) for r in out.collect())
    assert got == [(1, "click"), (2, "view")]


def test_foreach_batch_merge_idempotent_replay(spark, tmp_path):
    """Replaying the stream must not duplicate rows (PK merge sink —
    the streaming analog of the reference's idempotent load tests)."""
    path = str(tmp_path / "events_table")
    stream = events_stream(spark, SF).select("event_id", "ts", "user_id", "event_type", "value")
    stream_merge_into(spark, stream, path, keys=["event_id"])
    n1 = spark.read.parquet(path).count()
    # replay the whole stream into the same table
    stream_merge_into(spark, events_stream(spark, SF).select("event_id", "ts", "user_id", "event_type", "value"), path, keys=["event_id"])
    n2 = spark.read.parquet(path).count()
    assert n1 == n2 == 1000  # sf0.001 events table size, unchanged by replay


def test_stream_join_attrib_matches_batch(spark):
    from securities_data_pipeline_spark.streaming.ingest import s_stream_join_attrib
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    got = {tuple(r) for r in s_stream_join_attrib(spark, sf).collect()}
    ev = table(spark, sf, "events")
    views = ev.where("event_type = 'view'").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts")
    )
    buys = ev.where("event_type = 'purchase'").select(
        F.col("user_id").alias("b_user"), F.col("ts").alias("buy_ts"), "value"
    )
    want = {
        tuple(r)
        for r in views.join(
            buys,
            (F.col("v_user") == F.col("b_user"))
            & (F.col("buy_ts") >= F.col("view_ts"))
            & (F.col("buy_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select(F.col("v_user").alias("user_id"), "view_ts", "buy_ts", "value")
        .collect()
    }
    assert got == want


def test_stream_enrich_static_matches_batch(spark):
    from securities_data_pipeline_spark.streaming.ingest import s_stream_enrich_static

    got = {
        (str(r.day), r.c_mktsegment): (r.n_events, r.sum_value)
        for r in s_stream_enrich_static(spark, SF).collect()
    }
    ev, cust = table(spark, SF, "events"), table(spark, SF, "customer")
    exp = {
        (str(r.day), r.c_mktsegment): (r.n_events, r.sum_value)
        for r in ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
        .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .collect()
    }
    assert got == exp


def test_stream_enrich_static_join_is_stateless_broadcast(spark):
    """The static dimension must ride a broadcast: no shuffle of the
    stream for the join, and no stream-stream join state."""
    from securities_data_pipeline_spark.streaming.ingest import events_stream

    ev = events_stream(spark, SF)
    cust = table(spark, SF, "customer").select("c_custkey", "c_mktsegment")
    joined = ev.join(F.broadcast(cust), ev.user_id == F.col("c_custkey"))
    # optimized/executed plans require writeStream.start(); the analyzed
    # logical plan is inspectable pre-start and carries the hint
    plan = joined._jdf.queryExecution().analyzed().toString()
    assert "StreamingRelation" in plan
    assert "broadcast" in plan.lower()


def test_rate_source_rollup_deterministic(spark):
    """§2.9 rate source: rate-micro-batch through the shared watermark
    + tumbling-window rollup must yield a wall-clock-free result — an
    exact function of (rows_per_batch, n_batches)."""
    from securities_data_pipeline_spark.streaming.ingest import rate_stream_rollup

    out = {
        (r.win_start.isoformat(), r.event_type): (r.n_events, r.sum_value)
        for r in rate_stream_rollup(spark, rows_per_batch=20, n_batches=1).collect()
    }
    # batch 0: values 0..19 at epoch 0; % 3 → type0 {0,3,..,18} (7 vals,
    # sum 63), type1 {1,4,..,19} (7, sum 70), type2 {2,5,..,17} (6, sum 57)
    assert out == {
        ("1970-01-01T00:00:00", 0): (7, 63),
        ("1970-01-01T00:00:00", 1): (7, 70),
        ("1970-01-01T00:00:00", 2): (6, 57),
    }


def test_rate_source_multi_batch_windows(spark):
    """Multi-batch run: each batch lands in its own 10s window; the
    horizon cut makes the result independent of how many extra batches
    raced in before stop()."""
    from securities_data_pipeline_spark.streaming.ingest import rate_stream_rollup

    rows = rate_stream_rollup(spark, rows_per_batch=6, n_batches=3).collect()
    by_win = {}
    for r in rows:
        by_win.setdefault(r.win_start.isoformat(), []).append(r)
    assert set(by_win) == {
        "1970-01-01T00:00:00",
        "1970-01-01T00:00:10",
        "1970-01-01T00:00:20",
    }
    # batch 1: values 6..11 → type0 {6,9} type1 {7,10} type2 {8,11}
    w1 = {r.event_type: (r.n_events, r.sum_value) for r in by_win["1970-01-01T00:00:10"]}
    assert w1 == {0: (2, 15), 1: (2, 17), 2: (2, 19)}


def test_foreach_batch_warehouse_merge_idempotent(spark):
    """S8's streaming face: foreachBatch → JDBC stage-then-merge.
    Replaying the whole stream into the DuckDB stand-in warehouse
    leaves the table unchanged (PK merge, same idempotency contract as
    the lake sink)."""
    import duckdb

    from securities_data_pipeline_spark.streaming.ingest import (
        stream_merge_into_warehouse,
    )
    from securities_data_pipeline_spark.warehouse import JdbcMergeSink

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events_dw (event_id BIGINT, user_id BIGINT, "
        "event_type VARCHAR, value DOUBLE)"
    )

    def stager(df, stage_table):
        pdf = df.toPandas()
        con.register("_stage_pdf", pdf)
        con.execute(
            f'CREATE OR REPLACE TABLE "{stage_table}" AS SELECT * FROM _stage_pdf'
        )

    sink = JdbcMergeSink(
        url="jdbc:duckdb://in-process",
        connection_factory=lambda: con,
        stager=stager,
    )
    cols = ["event_id", "user_id", "event_type", "value"]
    stream_merge_into_warehouse(
        events_stream(spark, SF).select(*cols), sink, "events_dw", ["event_id"]
    )
    n1 = con.execute("SELECT COUNT(*) FROM events_dw").fetchone()[0]
    stream_merge_into_warehouse(
        events_stream(spark, SF).select(*cols), sink, "events_dw", ["event_id"]
    )
    n2 = con.execute("SELECT COUNT(*) FROM events_dw").fetchone()[0]
    assert n1 == n2 == 1000


def test_checkpoint_restart_processes_each_file_once(spark, tmp_path):
    """Durability contract: with a persistent checkpointLocation, a
    restarted AvailableNow query resumes from committed offsets — files
    ingested before the restart are never reprocessed (no duplicates),
    new files are picked up exactly once."""
    import shutil

    src = str(tmp_path / "landing")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    import os

    os.makedirs(src)
    events = f"{SF}/events.parquet"
    shutil.copy(events, f"{src}/batch1.parquet")

    schema = spark.read.parquet(events).schema

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = spark.read.parquet(sink).count()
    assert n1 == 1000  # sf0.001 events rows
    # "restart": a fresh query against the same checkpoint; batch1 is
    # already committed, batch2 is new
    shutil.copy(events, f"{src}/batch2.parquet")
    run_once()
    n2 = spark.read.parquet(sink).count()
    assert n2 == 2000  # batch2 ingested once; batch1 NOT reprocessed
    # idempotent no-op restart: nothing new → nothing written
    run_once()
    assert spark.read.parquet(sink).count() == 2000


def test_stream_outer_join_emits_unmatched_views(spark):
    """Left-outer interval join: every inner-join row present, plus
    null-padded unmatched views whose match window closed before the
    global watermark — and no unmatched view younger than that."""
    from securities_data_pipeline_spark.streaming.ingest import (
        s_stream_join_attrib,
        s_stream_join_attrib_outer,
    )

    sf = "/root/testdata/sf0.001"
    inner = {tuple(map(str, r)) for r in s_stream_join_attrib(spark, sf).collect()}
    outer = s_stream_join_attrib_outer(spark, sf).collect()
    matched = {tuple(map(str, r)) for r in outer if r.buy_ts is not None}
    assert matched == inner
    unmatched = [r for r in outer if r.buy_ts is None]
    assert unmatched, "sf0.001 must yield some un-converted views"
    assert all(r.value is None for r in unmatched)


def test_transform_with_state_topk(spark):
    """Spark 4 transformWithStateInPandas surface — activates wherever
    protobuf (its state-server protocol dep) installs; environment-
    blocked in this container like delta-spark."""
    import pytest

    from securities_data_pipeline_spark.streaming.ingest import HAVE_TWS_DEPS

    if not HAVE_TWS_DEPS:
        pytest.skip("protobuf unavailable: transformWithState cannot run here")
    from securities_data_pipeline_spark.streaming.ingest import (
        s_stream_topk_transform_state,
    )

    out = {r.user_id: r for r in s_stream_topk_transform_state(
        spark, "/root/testdata/sf0.001"
    ).collect()}
    assert out, "stateful top-k produced no rows"
    some = next(iter(out.values()))
    assert some.top1 is not None and some.n_events >= 1


def test_topk_state_fallback_matches_batch(spark):
    """The registered s_stream_topk_transform_state runs everywhere:
    the applyInPandasWithState v1 twin where protobuf is absent, the
    transformWithState v2 path where present. Either way the final
    per-user (count, top-3) must equal the batch answer."""
    from pyspark.sql import functions as F

    from securities_data_pipeline_spark.streaming.ingest import (
        s_stream_topk_transform_state,
    )

    sf = "/root/testdata/sf0.001"
    out = {r.user_id: r for r in s_stream_topk_transform_state(spark, sf).collect()}
    assert out, "stateful top-k produced no rows"
    ev = spark.read.parquet(f"{sf}/events.parquet")
    batch = {
        r.user_id: r
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.max("value"), 6).alias("top1"),
        )
        .collect()
    }
    assert set(out) == set(batch)
    for uid, r in out.items():
        assert r.n_events == batch[uid].n_events, uid
        assert abs(r.top1 - batch[uid].top1) < 1e-6, uid


def test_stream_full_outer_join_covers_both_sides(spark):
    """Full-outer interval join: inner rows preserved, plus null-padded
    unmatched rows on BOTH sides (un-converted views and
    un-attributed purchases)."""
    from securities_data_pipeline_spark.streaming.ingest import (
        s_stream_join_attrib,
        s_stream_join_attrib_full,
    )

    sf = "/root/testdata/sf0.001"
    inner = {tuple(map(str, r)) for r in s_stream_join_attrib(spark, sf).collect()}
    full = s_stream_join_attrib_full(spark, sf).collect()
    matched = {tuple(map(str, r)) for r in full if r.view_ts is not None and r.buy_ts is not None}
    assert matched == inner
    orphan_views = [r for r in full if r.buy_ts is None]
    orphan_buys = [r for r in full if r.view_ts is None]
    assert orphan_views and orphan_buys, "both eviction paths must emit"
    assert all(r.value is None for r in orphan_views)
    assert all(r.value is not None for r in orphan_buys)


def test_ram_checkpoint_gated_on_local_master(spark, monkeypatch):
    """ADVICE r4: driver-local /dev/shm is not visible to executors on
    a real cluster — the tmpfs default must apply only when
    spark.master is local; an explicit SPARK_GRAFT_STREAM_CKPT always
    wins."""
    from securities_data_pipeline_spark.streaming import ingest

    class _FakeSC:
        def __init__(self, master):
            self.master = master

    class _FakeSpark:
        def __init__(self, master):
            self.sparkContext = _FakeSC(master)

    monkeypatch.delenv("SPARK_GRAFT_STREAM_CKPT", raising=False)
    # non-local master: no tmpfs default (Spark default behavior)
    assert ingest._ram_checkpoint_dir(_FakeSpark("spark://host:7077"), "t1") is None
    assert ingest._ram_checkpoint_dir(_FakeSpark("yarn"), "t2") is None
    # local master: tmpfs default when /dev/shm is usable
    import os as _os

    local = ingest._ram_checkpoint_dir(_FakeSpark("local[4]"), "t3")
    if _os.path.isdir("/dev/shm") and _os.access("/dev/shm", _os.W_OK):
        assert local is not None and local.startswith("/dev/shm/")
    else:
        assert local is None
    # explicit env wins regardless of master
    monkeypatch.setenv("SPARK_GRAFT_STREAM_CKPT", str(spark.conf.get("spark.sql.warehouse.dir")).removeprefix("file:"))
    got = ingest._ram_checkpoint_dir(_FakeSpark("spark://host:7077"), "t4")
    assert got is not None and "sdp_stream_ckpt" in got


def test_stream_dedup_vs_corpus_matches_batch(spark):
    """The streaming incremental dedup must agree exactly with its
    batch twin — arrival order is the only difference."""
    from securities_data_pipeline_spark.operators.dedup import dedup_incremental
    from securities_data_pipeline_spark.streaming.ingest import (
        s_stream_dedup_vs_corpus,
    )

    sf = "/root/testdata/sf0.001"
    batch = {
        r.new_id: (r.best_match, r.n_candidates)
        for r in dedup_incremental(spark, sf).collect()
    }
    stream = {
        r.new_id: (r.best_match, r.n_candidates)
        for r in s_stream_dedup_vs_corpus(spark, sf).collect()
    }
    assert stream == batch


def test_stream_ivf_assign_matches_batch_assign_buckets(spark):
    """The streaming index maintainer runs the batch kernel: on the
    vec_id % 10 == 7 slice it yields exactly assign_buckets' rows, with
    csim the batch cosine to the chosen centroid."""
    from securities_data_pipeline_spark.operators.similarity import (
        _centroid_filter,
        assign_buckets,
        cosine,
        emb_table,
    )
    from securities_data_pipeline_spark.streaming.ingest import (
        s_stream_ivf_assign,
    )

    emb = emb_table(spark, SF)
    cents = emb.where(_centroid_filter()).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    batch = sorted(
        tuple(r)
        for r in assign_buckets(emb)
        .where(F.col("vec_id") % 10 == 7)
        .join(cents, "centroid_id")
        .select("vec_id", "centroid_id", cosine("cvec", "embedding").alias("csim"))
        .collect()
    )
    stream = sorted(
        tuple(r)
        for r in s_stream_ivf_assign(spark, SF)
        .select("vec_id", "centroid_id", "csim")
        .collect()
    )
    assert len({cid for _, cid, _ in batch}) > 1
    assert stream == batch


def test_dedup_vs_corpus_restart_no_dup_pairs_no_lost_docs(spark, tmp_path):
    """Exactly-once evidence for the incremental-dedup ingest face
    (VERDICT r6 item 6): the new-docs stream arrives in two files, the
    query is killed twice — once cleanly between files and once
    MID-BATCH (sink written, offset commit deleted — the crash window
    where a replay actually happens) — and after resume the candidate-
    pair table must contain every expected pair EXACTLY once: no pair
    emitted twice (the merge sink absorbs the replay), no new-doc
    lost (committed offsets resume, never skip)."""
    import shutil

    from securities_data_pipeline_spark.load import merge_upsert
    from securities_data_pipeline_spark.operators.dedup import (
        INCR_NEW_MOD,
        INCR_NEW_REM,
        LSH_BANDS,
        banded_signatures,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    is_new = F.pmod(F.col("doc_id"), F.lit(INCR_NEW_MOD)) == INCR_NEW_REM
    new_docs = docs.where(is_new).cache()
    corpus = docs.where(~is_new)

    landing = str(tmp_path / "landing")
    sink_path = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    def land(df, fname):
        """Write df as ONE parquet file directly under the landing dir
        (the stream source does not recurse into Spark's per-write
        output directories)."""
        stage = str(tmp_path / f"_stage_{fname}")
        df.coalesce(1).write.parquet(stage)
        part = next(
            f for f in os.listdir(stage) if f.endswith(".parquet")
        )
        shutil.move(f"{stage}/{part}", f"{landing}/{fname}")
        shutil.rmtree(stage)

    # the new batch arrives as two files: file1 now, file2 after a kill
    ids = sorted(r.doc_id for r in new_docs.select("doc_id").collect())
    cut = ids[len(ids) // 2]
    land(new_docs.where(F.col("doc_id") <= cut), "f1.parquet")

    corp_banded = banded_signatures(minhash_signatures(corpus), LSH_BANDS).select(
        F.col("doc_id").alias("corpus_id"), "band", "key"
    )

    def run_once():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(landing)
        )
        pairs = (
            banded_signatures(minhash_signatures(stream), LSH_BANDS)
            .select(F.col("doc_id").alias("new_id"), "band", "key")
            .join(F.broadcast(corp_banded), ["band", "key"])
            .select("new_id", "corpus_id")
        )

        def sink(batch_df, _bid):
            merge_upsert(
                spark, batch_df, sink_path, ["new_id", "corpus_id"]
            )

        q = (
            pairs.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # ingest file1, then the query stops (clean kill)
    n1 = spark.read.parquet(sink_path).count()
    assert n1 > 0

    # MID-BATCH crash simulation: the sink write landed but the offset
    # commit did not — delete the newest commit marker and restart;
    # Spark replays the batch into the sink, and the PK merge must
    # absorb the replay (pair count unchanged)
    commits = sorted(
        f for f in os.listdir(f"{ckpt}/commits") if not f.startswith(".")
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    # the local ChecksumFileSystem keeps a .N.crc sibling; if it
    # survives, the replayed commit's atomic-create collides with it
    # and Spark misreads the collision as a concurrent query
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    run_once()
    assert spark.read.parquet(sink_path).count() == n1

    # resume with new data: file2 lands, restart picks it up once
    land(new_docs.where(F.col("doc_id") > cut), "f2.parquet")
    run_once()

    got = {
        (r.new_id, r.corpus_id)
        for r in spark.read.parquet(sink_path).collect()
    }
    # ground truth: the batch plan over the full new slice
    new_banded = banded_signatures(minhash_signatures(new_docs), LSH_BANDS).select(
        F.col("doc_id").alias("new_id"), "band", "key"
    )
    expected = {
        (r.new_id, r.corpus_id)
        for r in new_banded.join(corp_banded, ["band", "key"])
        .select("new_id", "corpus_id")
        .distinct()
        .collect()
    }
    assert got == expected  # nothing lost, nothing fabricated
    # and exactly once: the parquet table has no duplicate pair rows
    total_rows = spark.read.parquet(sink_path).count()
    assert total_rows == len(expected)
    new_docs.unpersist()


def test_stream_mm_features_garbage_midstream_restart_exactly_once(spark, tmp_path):
    """VERDICT r7 item 5: the streaming multimodal face under the
    media fuzz classes + a mid-batch kill. Binary media rows arrive in
    three files; file2 carries the full garbage set (NULL payload,
    NULL meta, empty, 1-byte, invalid UTF-8, embedded NULs). The
    foreachBatch sink splits each micro-batch into a features store
    (decodable rows) and a quarantine store (NULL-payload rows — the
    S6 error channel), both PK-merged. The query is killed MID-BATCH
    on the garbage-bearing micro-batch (sink written, offset commit
    deleted — the real crash window) and must absorb the replay:
    after resume + a third file, the features store equals the batch
    twin over all decodable rows exactly once, and the quarantine
    store holds each corrupt doc exactly once."""
    import shutil

    from securities_data_pipeline_spark.load import merge_upsert
    from securities_data_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_features,
    )

    landing = str(tmp_path / "landing")
    feat_path = str(tmp_path / "features")
    quar_path = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    meta = {"width": 1, "height": 1, "sample_rate": None, "n_frames": None}
    good1 = [(i, "image/png", f"payload {i}".encode(), meta) for i in range(10)]
    garbage = [
        (100, "image/png", None, None),  # NULL payload -> quarantine
        (101, "image/png", b"", meta),  # empty: decodable (0 bytes)
        (102, "audio/wav", b"\xff", None),  # NULL meta mid-stream
        (103, "image/jpeg", b"\xc3\x28" * 40, None),  # invalid UTF-8
        (104, "video/mp4", b"\x00" * 193, None),  # embedded NULs
        (105, "image/png", None, None),  # second quarantined row
    ]
    good2 = [(i, "image/png", f"late {i}".encode(), meta) for i in range(200, 205)]

    def land(rows, fname):
        stage = str(tmp_path / f"_stage_{fname}")
        spark.createDataFrame(rows, MEDIA_SCHEMA).coalesce(1).write.parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        shutil.move(f"{stage}/{part}", f"{landing}/{fname}")
        shutil.rmtree(stage)

    def run_once():
        stream = (
            spark.readStream.schema(MEDIA_SCHEMA)
            .option("pathGlobFilter", "*.parquet")
            .parquet(landing)
        )
        feats = extract_features(stream)

        def sink(batch_df, _bid):
            batch_df = batch_df.localCheckpoint()  # split reads it twice
            merge_upsert(
                spark,
                batch_df.where(F.col("feature").isNotNull()).withColumn(
                    "feature", F.col("feature").cast("array<double>")
                ),
                feat_path,
                ["doc_id"],
            )
            merge_upsert(
                spark,
                batch_df.where(F.col("feature").isNull()).select(
                    "doc_id", "media_type", "n_bytes"
                ),
                quar_path,
                ["doc_id"],
            )

        q = (
            feats.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    land(good1, "f1.parquet")
    run_once()
    assert spark.read.parquet(feat_path).count() == 10

    # the garbage-bearing micro-batch, then a MID-BATCH crash: sinks
    # written, offset commit deleted
    land(garbage, "f2.parquet")
    run_once()
    n_feat = spark.read.parquet(feat_path).count()
    n_quar = spark.read.parquet(quar_path).count()
    assert n_quar == 2  # the two NULL-payload rows, nothing else
    commits = sorted(
        f for f in os.listdir(f"{ckpt}/commits") if not f.startswith(".")
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    run_once()  # replays the garbage batch into both sinks
    assert spark.read.parquet(feat_path).count() == n_feat
    assert spark.read.parquet(quar_path).count() == n_quar

    # resume with new data — picked up exactly once
    land(good2, "f3.parquet")
    run_once()

    # ground truth: the batch twin over every landed row
    all_rows = spark.createDataFrame(good1 + garbage + good2, MEDIA_SCHEMA)
    batch = extract_features(all_rows)
    expected_feat = {
        (r.doc_id, r.n_bytes, tuple(r.feature))
        for r in batch.where(F.col("feature").isNotNull()).collect()
    }
    got_feat = {
        (r.doc_id, r.n_bytes, tuple(r.feature))
        for r in spark.read.parquet(feat_path).collect()
    }
    assert got_feat == expected_feat  # nothing lost, fabricated, or doubled
    assert spark.read.parquet(feat_path).count() == len(expected_feat)
    got_quar = {r.doc_id for r in spark.read.parquet(quar_path).collect()}
    assert got_quar == {100, 105}
    assert spark.read.parquet(quar_path).count() == 2


def test_stateful_state_survives_restart_and_midbatch_replay(spark, tmp_path):
    """State-store recovery evidence for the applyInPandasWithState
    face: per-user running (count, sum) state must (a) survive a clean
    restart — a second file's events increment ON TOP of the first
    file's accumulated state, not from zero — and (b) absorb a
    MID-BATCH replay (offset commit deleted after the sink write): the
    replayed batch must re-run against the state version it originally
    saw, not the post-batch version, or counts double."""
    import shutil

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from securities_data_pipeline_spark.load import merge_upsert

    landing = str(tmp_path / "landing")
    sink_path = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    schema = "user_id long, value double"

    def land(rows, fname):
        stage = str(tmp_path / f"_stage_{fname}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        shutil.move(f"{stage}/{part}", f"{landing}/{fname}")
        shutil.rmtree(stage)

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [total]}
        )

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(landing)
        )
        stats = stream.groupBy("user_id").applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, sum_value double",
            stateStructType="n long, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

        def sink(batch_df, _bid):
            merge_upsert(spark, batch_df, sink_path, ["user_id"])

        q = (
            stats.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    land([(1, 1.0), (1, 2.0), (2, 8.0)], "f1.parquet")
    run_once()
    got1 = {r.user_id: (r.n_events, r.sum_value)
            for r in spark.read.parquet(sink_path).collect()}
    assert got1 == {1: (2, 3.0), 2: (1, 8.0)}

    # MID-BATCH replay: sink written, offset commit deleted — the
    # replay must load the state version from BEFORE the batch
    commits = sorted(
        f for f in os.listdir(f"{ckpt}/commits") if not f.startswith(".")
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    run_once()
    got_replay = {r.user_id: (r.n_events, r.sum_value)
                  for r in spark.read.parquet(sink_path).collect()}
    assert got_replay == got1  # state did NOT double-count the replay

    # clean restart with new data: state increments on top
    land([(1, 4.0), (3, 5.0)], "f2.parquet")
    run_once()
    got2 = {r.user_id: (r.n_events, r.sum_value)
            for r in spark.read.parquet(sink_path).collect()}
    assert got2 == {1: (3, 7.0), 2: (1, 8.0), 3: (1, 5.0)}


def test_chained_daily_weekly_restart_emits_each_week_once(spark, tmp_path):
    """Restart face #4: CHAINED stateful window aggregates (daily →
    weekly, Spark 3.5+ append-mode chaining). Two stages of
    watermark-bounded window state must survive a clean restart AND a
    mid-batch replay: weeks finalized before the kill must not
    re-emit doubled, weeks spanning the kill must finalize exactly
    once after resume, and the final sink must equal the batch twin
    (same F.window chain, weeks with end <= max ts) over all files."""
    import shutil

    from securities_data_pipeline_spark.load import merge_upsert

    landing = str(tmp_path / "landing")
    sink_path = str(tmp_path / "weekly")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    schema = "ts timestamp, event_type string"

    def land(rows, fname):
        stage = str(tmp_path / f"_stage_{fname}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        shutil.move(f"{stage}/{part}", f"{landing}/{fname}")
        shutil.rmtree(stage)

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(landing)
        )
        daily = (
            stream.withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "1 day").alias("day_w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        weekly = daily.groupBy(
            F.window(F.col("day_w"), "7 days").alias("week_w"), "event_type"
        ).agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_days"),
        )
        flat = weekly.select(
            F.to_date(F.col("week_w.start")).alias("week_start"),
            "event_type",
            "n_events",
            "n_days",
        )

        def sink(batch_df, _bid):
            merge_upsert(
                spark, batch_df, sink_path, ["week_start", "event_type"]
            )

        q = (
            flat.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def day(d, h=12):
        return dt.datetime(2024, 1, d, h, 0)

    # file1: a full epoch-aligned week of views + the start of the next
    f1 = [(day(4 + i), "view") for i in range(7)] + [(day(11), "click")]
    # file2: more of week 2, then a far-future sentinel that finalizes
    # every real week (its own week never finalizes and must not emit)
    f2 = [(day(12), "click"), (day(13), "view"),
          (dt.datetime(2024, 2, 15, 12, 0), "sentinel")]

    land(f1, "f1.parquet")
    run_once()
    # MID-BATCH crash: sink written, offset commit deleted
    commits = sorted(
        f for f in os.listdir(f"{ckpt}/commits") if not f.startswith(".")
    )
    if commits:  # replay the newest committed batch
        os.remove(f"{ckpt}/commits/{commits[-1]}")
        crc = f"{ckpt}/commits/.{commits[-1]}.crc"
        if os.path.exists(crc):
            os.remove(crc)
    run_once()
    mid = (
        spark.read.parquet(sink_path).count()
        if os.path.isdir(sink_path)
        else 0
    )

    land(f2, "f2.parquet")
    run_once()

    got = {
        (str(r.week_start), r.event_type): (r.n_events, r.n_days)
        for r in spark.read.parquet(sink_path).collect()
    }
    # batch twin: the same chained F.window over the full static union
    all_df = spark.createDataFrame(f1 + f2, schema)
    mx = all_df.agg(F.max("ts")).collect()[0][0]
    weekly_b = (
        all_df.groupBy(F.window("ts", "1 day").alias("day_w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .groupBy(F.window(F.col("day_w"), "7 days").alias("week_w"), "event_type")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_days"),
        )
    )
    expected = {
        (str(r.week_w.start.date()), r.event_type): (r.n_events, r.n_days)
        for r in weekly_b.collect()
        if r.week_w.end <= mx
    }
    assert got == expected  # exactly the finalized weeks, each once
    assert expected, "test data produced no finalized weeks"
    assert "sentinel" not in {k[1] for k in got}  # open week never emits
    # and the replayed batch did not double anything mid-run
    assert mid <= len(expected)


def test_stream_k_anonymity_state_survives_restart_and_replay(spark, tmp_path):
    """Restart proof for the streaming privacy face: the per-user
    (type, count) signature state behind s_stream_k_anonymity must
    (a) survive a clean restart — a second file's events deepen the
    count buckets accumulated from the first file, not restart them —
    and (b) absorb a MID-BATCH replay (offset commit deleted after the
    sink write) without double-counting, or every signature drifts one
    power-of-two bucket high. Final per-user signatures must equal the
    batch signature computation over everything landed.

    Exercises the PRODUCTION update function
    (``ingest.k_anonymity_state_update``), not an inline copy — so the
    proof fails if the production state logic drifts (ADVICE r10)."""
    import shutil

    from pyspark.sql.streaming.state import GroupStateTimeout

    from securities_data_pipeline_spark.load import merge_upsert
    from securities_data_pipeline_spark.streaming.ingest import (
        k_anonymity_state_update,
    )

    landing = str(tmp_path / "landing")
    sink_path = str(tmp_path / "sigs")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    schema = "user_id long, event_type string"

    def land(rows, fname):
        stage = str(tmp_path / f"_stage_{fname}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        shutil.move(f"{stage}/{part}", f"{landing}/{fname}")
        shutil.rmtree(stage)

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(landing)
        )
        sigs = stream.groupBy("user_id").applyInPandasWithState(
            k_anonymity_state_update,
            outputStructType="user_id long, n_events long, signature string",
            stateStructType="types array<string>, counts array<long>",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

        def sink(batch_df, _bid):
            merge_upsert(spark, batch_df, sink_path, ["user_id"])

        q = (
            sigs.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # u1: 2 views (bucket 2); u2: 1 view 1 click (buckets 1|1)
    land([(1, "view"), (1, "view"), (2, "view"), (2, "click")], "f1.parquet")
    run_once()
    got1 = {r.user_id: r.signature
            for r in spark.read.parquet(sink_path).collect()}
    assert got1 == {1: "view:2", 2: "click:1|view:1"}

    # MID-BATCH replay: sink written, offset commit deleted — replay
    # must re-run against the PRE-batch state or counts double and u1
    # jumps to view:4
    commits = sorted(
        f for f in os.listdir(f"{ckpt}/commits") if not f.startswith(".")
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    run_once()
    got_replay = {r.user_id: r.signature
                  for r in spark.read.parquet(sink_path).collect()}
    assert got_replay == got1

    # clean restart: u1 gains 2 more views (bucket 2->4), u2 one click
    # (click bucket 1->2), u3 appears with a NULL type -> sentinel
    land([(1, "view"), (1, "view"), (2, "click"), (3, None)], "f2.parquet")
    run_once()
    got2 = {r.user_id: r.signature
            for r in spark.read.parquet(sink_path).collect()}
    assert got2 == {1: "view:4", 2: "click:2|view:1", 3: "(null):1"}


def test_stream_t_closeness_state_survives_restart_and_replay(spark, tmp_path):
    """Restart proof for the streaming t-closeness face: the per-user
    (type, count) state behind s_stream_t_closeness must (a) survive a
    clean restart — the SENSITIVE attribute (dominant type under the
    batch tiebreak: count first, then type) must reflect ACCUMULATED
    counts, not the last batch's (u1's second file flips a count tie
    whose correct winner differs from the last-batch-only answer) —
    and (b) absorb a MID-BATCH replay (offset commit deleted after the
    sink write) without double-counting, which would both deepen the
    signature bucket and flip the tie the wrong way.

    Exercises the PRODUCTION update function
    (``ingest.t_closeness_state_update``), not an inline copy — so the
    proof fails if the production state logic drifts (ADVICE r10)."""
    import shutil

    from pyspark.sql.streaming.state import GroupStateTimeout

    from securities_data_pipeline_spark.load import merge_upsert
    from securities_data_pipeline_spark.streaming.ingest import (
        t_closeness_state_update,
    )

    landing = str(tmp_path / "landing")
    sink_path = str(tmp_path / "sens")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    schema = "user_id long, event_type string"

    def land(rows, fname):
        stage = str(tmp_path / f"_stage_{fname}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        shutil.move(f"{stage}/{part}", f"{landing}/{fname}")
        shutil.rmtree(stage)

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(landing)
        )
        sens = stream.groupBy("user_id").applyInPandasWithState(
            t_closeness_state_update,
            outputStructType=(
                "user_id long, n_events long, signature string, "
                "sensitive string"
            ),
            stateStructType="types array<string>, counts array<long>",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

        def sink(batch_df, _bid):
            merge_upsert(spark, batch_df, sink_path, ["user_id"])

        q = (
            sens.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # u1: 2 views (sensitive view); u2: 1 view 1 click (count tie ->
    # max type -> view)
    land([(1, "view"), (1, "view"), (2, "view"), (2, "click")], "f1.parquet")
    run_once()
    got1 = {r.user_id: (r.signature, r.sensitive)
            for r in spark.read.parquet(sink_path).collect()}
    assert got1 == {1: ("view:2", "view"),
                    2: ("click:1|view:1", "view")}

    # MID-BATCH replay: sink written, offset commit deleted — replay
    # must re-run against the PRE-batch state or u1 jumps to view:4
    commits = sorted(
        f for f in os.listdir(f"{ckpt}/commits") if not f.startswith(".")
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    run_once()
    got_replay = {r.user_id: (r.signature, r.sensitive)
                  for r in spark.read.parquet(sink_path).collect()}
    assert got_replay == got1

    # clean restart: u1 gains 2 CLICKS -> accumulated counts tie
    # (view 2, click 2) and the batch tiebreak picks 'view'; a state
    # reset would instead answer 'click' (last batch only). u2 gains a
    # click (click 2 > view 1 -> 'click'); u3 appears with NULL type.
    land([(1, "click"), (1, "click"), (2, "click"), (3, None)], "f2.parquet")
    run_once()
    got2 = {r.user_id: (r.signature, r.sensitive)
            for r in spark.read.parquet(sink_path).collect()}
    assert got2 == {1: ("click:2|view:2", "view"),
                    2: ("click:2|view:1", "click"),
                    3: ("(null):1", "(null)")}


def test_stream_mm_card_restart_and_replay_merge_sink(spark, tmp_path):
    """Restart proof for the streaming dataset card — the family's
    SEVENTH state class (foreachBatch merge into PK-keyed card state).
    Exercises the PRODUCTION functions (mm_card_stream_meta,
    mm_card_sink via run_mm_card_stream, mm_card_from_state), never an
    inline copy. Proves: (a) hand-computed card on the first file;
    (b) a MID-BATCH replay (offset commit deleted after the sink
    merges landed) is absorbed — the digest registry re-merges the
    same PKs and the bucket partial overwrites its own
    (modality, bucket, batch_id) row instead of double-counting;
    (c) a clean restart accumulates: a cross-file duplicate payload
    raises n_docs but NOT the distinct count, and the median bucket
    moves with the accumulated histogram."""
    import shutil

    from securities_data_pipeline_spark.streaming.ingest import (
        mm_card_from_state,
        mm_card_stream_meta,
        run_mm_card_stream,
    )

    landing = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    schema = "doc_id long, text string"

    def land(rows_, fname):
        stage = str(tmp_path / f"_stage_{fname}")
        spark.createDataFrame(rows_, schema).coalesce(1).write.parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        shutil.move(f"{stage}/{part}", f"{landing}/{fname}")
        shutil.rmtree(stage)

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(landing)
        )
        run_mm_card_stream(spark, mm_card_stream_meta(stream), state, ckpt)

    def card():
        (row,) = mm_card_from_state(spark, state).collect()
        return (
            row.media_type, row.n_docs, row.n_distinct_payloads,
            row.dup_ratio, row.total_bytes, row.min_bytes, row.max_bytes,
            row.median_bucket_lo,
        )

    # f1: sizes 1,2,2 bytes ('bb' duplicated) -> buckets {1:1, 2:2};
    # n=3, lower-median rank 2 -> cum(1)=1 < 2, cum(2)=3 >= 2 -> bucket 2
    land([(1, "a"), (2, "bb"), (3, "bb")], "f1.parquet")
    run_once()
    assert card() == ("text/plain", 3, 2, round(1 / 3, 6), 5, 1, 2, 2)

    # MID-BATCH replay: both merges landed, offset commit deleted —
    # a non-idempotent sink would double every bucket count
    commits = sorted(
        f for f in os.listdir(f"{ckpt}/commits") if not f.startswith(".")
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    run_once()
    assert card() == ("text/plain", 3, 2, round(1 / 3, 6), 5, 1, 2, 2)

    # clean restart: 'bb' again (cross-file dup: n_docs +1, distinct
    # unchanged), 'ccc' (3 bytes -> bucket 2), '0123456789' (10 bytes
    # -> bucket 8). Accumulated sizes 1,2,2,2,3,10: n=6, rank 3 ->
    # buckets {1:1, 2:4, 8:1}, cum(2)=5 >= 3 -> median bucket 2
    land([(4, "bb"), (5, "ccc"), (6, "0123456789")], "f2.parquet")
    run_once()
    assert card() == ("text/plain", 6, 4, round(2 / 6, 6), 20, 1, 10, 2)
