"""Merge-sink semantics: idempotent PK upsert, update-wins, replace
(reference: py_pipeline/load.py + tests/load_test.py:92-157,207-265)."""

import datetime as dt
import re

import pytest

from securities_data_pipeline_spark.load import dedupe_on_keys, load_fx_symbols, load_prices

D = dt.date
PRICE_SCHEMA = (
    "date_stamp date, symbol string, open double, high double, low double, close double, volume long"
)


def _prices(spark, rows):
    return spark.createDataFrame(rows, PRICE_SCHEMA)


def _read(spark, path):
    return {
        (r.date_stamp, r.symbol): r for r in spark.read.parquet(path).collect()
    }


def test_initial_load_then_idempotent_remerge(spark, tmp_path):
    path = str(tmp_path / "prices")
    batch = _prices(
        spark,
        [
            (D(2025, 1, 1), "AAA", 1.0, 1.0, 1.0, 1.0, 10),
            (D(2025, 1, 1), "BBB", 2.0, 2.0, 2.0, 2.0, 20),
        ],
    )
    load_prices(spark, batch, path)
    assert len(_read(spark, path)) == 2
    # re-loading the identical batch leaves the table unchanged
    load_prices(spark, batch, path)
    out = _read(spark, path)
    assert len(out) == 2
    assert out[(D(2025, 1, 1), "AAA")].close == 1.0


def test_update_wins_and_new_rows_insert(spark, tmp_path):
    path = str(tmp_path / "prices")
    initial = _prices(
        spark,
        [
            (D(2025, 1, 1), "AAA", 1.0, 1.0, 1.0, 1.0, 10),
            (D(2025, 1, 1), "BBB", 2.0, 2.0, 2.0, 2.0, 20),
        ],
    )
    load_prices(spark, initial, path)
    update = _prices(
        spark,
        [
            (D(2025, 1, 1), "AAA", 9.0, 9.0, 9.0, 9.0, 90),  # PK match → update
            (D(2025, 1, 2), "AAA", 3.0, 3.0, 3.0, 3.0, 30),  # new partition → insert
        ],
    )
    load_prices(spark, update, path)
    out = _read(spark, path)
    assert len(out) == 3
    assert out[(D(2025, 1, 1), "AAA")].close == 9.0
    assert out[(D(2025, 1, 1), "BBB")].close == 2.0  # untouched survivor
    assert out[(D(2025, 1, 2), "AAA")].close == 3.0


def test_merge_does_not_touch_other_partitions(spark, tmp_path):
    """Dynamic partition overwrite: a batch for day 2 must leave day 1
    rows intact without rewriting them."""
    path = str(tmp_path / "prices")
    load_prices(spark, _prices(spark, [(D(2025, 1, 1), "AAA", 1.0, 1.0, 1.0, 1.0, 10)]), path)
    load_prices(spark, _prices(spark, [(D(2025, 1, 2), "BBB", 2.0, 2.0, 2.0, 2.0, 20)]), path)
    out = _read(spark, path)
    assert len(out) == 2
    assert out[(D(2025, 1, 1), "AAA")].volume == 10


def test_case_variant_batch_column_maps_onto_existing(spark, tmp_path):
    """A batch spelling an existing column with different case ('Close'
    vs 'close') must merge INTO that column — not trigger a schema-
    evolving rewrite that adds a case-distinct duplicate splitting
    later reads across the two (matches the warehouse sink's
    case-folded evolve_statements)."""
    from securities_data_pipeline_spark.load import merge_upsert

    path = str(tmp_path / "prices")
    merge_upsert(
        spark,
        spark.createDataFrame([("AAA", 1.0)], "symbol string, close double"),
        path,
        keys=["symbol"],
    )
    merge_upsert(
        spark,
        spark.createDataFrame(
            [("AAA", 9.0), ("BBB", 2.0)], "symbol string, Close double"
        ),
        path,
        keys=["symbol"],
    )
    out = spark.read.parquet(path)
    assert [c.lower() for c in out.columns].count("close") == 1
    got = {r.symbol: r.close for r in out.collect()}
    assert got == {"AAA": 9.0, "BBB": 2.0}


def test_incoming_duplicate_pks_are_deduped(spark):
    """dlt tolerates in-batch duplicate PKs; MERGE must see exactly one
    row per key (SURVEY §7 risk #4) — kept deterministically."""
    df = _prices(
        spark,
        [
            (D(2025, 1, 1), "AAA", 1.0, 1.0, 1.0, 1.0, 10),
            (D(2025, 1, 1), "AAA", 2.0, 2.0, 2.0, 2.0, 20),
        ],
    )
    out = dedupe_on_keys(df, ["date_stamp", "symbol"]).collect()
    assert len(out) == 1
    assert out[0].close == 2.0  # deterministic: max by remaining cols


def test_fx_symbols_replace(spark, tmp_path):
    path = str(tmp_path / "fx_symbols")
    load_fx_symbols(spark, spark.createDataFrame([("EURUSD=X",), ("JPY=X",)], "symbol string"), path)
    load_fx_symbols(spark, spark.createDataFrame([("GBPUSD=X",)], "symbol string"), path)
    got = {r.symbol for r in spark.read.parquet(path).collect()}
    assert got == {"GBPUSD=X"}  # replace, not merge (load.py:52-53)


# ---------------------------------------------------------------------------
# S8: JDBC warehouse sink (warehouse.py) — stage-then-merge semantics run
# against an in-process DuckDB standing in for Postgres (same DML dialect);
# the reference's dlt→DW path is py_pipeline/load.py:89-150.


def _duckdb_warehouse(spark):
    import duckdb

    con = duckdb.connect()

    def stager(df, stage_table):
        # test transport for df.write.jdbc: materialize the batch and
        # overwrite the stage table (driver-side is fine at test scale)
        pdf = df.toPandas()
        con.register("_stage_pdf", pdf)
        con.execute(f'CREATE OR REPLACE TABLE "{stage_table}" AS SELECT * FROM _stage_pdf')

    from securities_data_pipeline_spark.warehouse import JdbcMergeSink

    sink = JdbcMergeSink(
        url="jdbc:duckdb://in-process",
        connection_factory=lambda: con,
        stager=stager,
    )
    return con, sink


def test_jdbc_merge_upsert_and_idempotency(spark):
    con, sink = _duckdb_warehouse(spark)
    con.execute(
        "CREATE TABLE prices (date_stamp DATE, symbol VARCHAR, close DOUBLE)"
    )
    b1 = spark.createDataFrame(
        [(D(2025, 1, 1), "AAA", 1.0), (D(2025, 1, 1), "BBB", 2.0)],
        "date_stamp date, symbol string, close double",
    )
    sink.write(b1, "prices", ["date_stamp", "symbol"])
    b2 = spark.createDataFrame(
        [(D(2025, 1, 1), "AAA", 9.0), (D(2025, 1, 2), "AAA", 3.0)],
        "date_stamp date, symbol string, close double",
    )
    stmts = sink.write(b2, "prices", ["date_stamp", "symbol"])
    assert len(stmts) == 2 and stmts[0].startswith("DELETE FROM")
    out = {
        (r[0], r[1]): r[2]
        for r in con.execute("SELECT date_stamp, symbol, close FROM prices").fetchall()
    }
    assert len(out) == 3
    assert out[(D(2025, 1, 1), "AAA")] == 9.0  # PK match → updated
    assert out[(D(2025, 1, 1), "BBB")] == 2.0  # untouched
    assert out[(D(2025, 1, 2), "AAA")] == 3.0  # new PK → inserted
    # idempotent re-merge of the same batch changes nothing
    sink.write(b2, "prices", ["date_stamp", "symbol"])
    assert con.execute("SELECT COUNT(*) FROM prices").fetchone()[0] == 3


def test_jdbc_replace_disposition_and_batch_dedup(spark):
    con, sink = _duckdb_warehouse(spark)
    con.execute("CREATE TABLE fx (symbol VARCHAR, rate DOUBLE)")
    con.execute("INSERT INTO fx VALUES ('OLD', 0.5)")
    # duplicate PKs inside one batch are deduped before staging
    # (dlt tolerates them; reference tests/load_test.py:120-141)
    batch = spark.createDataFrame(
        [("EUR", 1.1), ("EUR", 1.2), ("JPY", 0.007)], "symbol string, rate double"
    )
    sink.write(batch, "fx", ["symbol"], mode="replace")
    out = dict(con.execute("SELECT symbol, rate FROM fx").fetchall())
    assert "OLD" not in out and len(out) == 2
    assert out["EUR"] == 1.2  # deterministic dedup keeps max-by-others row


def test_ansi_merge_statement_shape():
    from securities_data_pipeline_spark.warehouse import merge_statements

    stmts = merge_statements(
        "prices", "prices__stage", ["date_stamp", "symbol"],
        ["date_stamp", "symbol", "close"], dialect="ansi",
    )
    assert len(stmts) == 1
    m = stmts[0]
    assert m.startswith('MERGE INTO "prices" AS t USING "prices__stage" AS s ON ')
    assert 't."date_stamp" = s."date_stamp" AND t."symbol" = s."symbol"' in m
    assert 'WHEN MATCHED THEN UPDATE SET t."close" = s."close"' in m
    assert 'WHEN NOT MATCHED THEN INSERT ("date_stamp", "symbol", "close")' in m


def test_ansi_merge_nulls_target_only_columns():
    """Dialect parity (dlt = full-row replacement): when the batch has
    fewer columns than the target, portable DELETE+INSERT nulls the
    target-only columns structurally; the ansi MERGE must null them
    EXPLICITLY or the two dialects keep different surviving data."""
    from securities_data_pipeline_spark.warehouse import merge_statements

    stmts = merge_statements(
        "prices", "prices__stage", ["symbol"],
        ["symbol", "close"], dialect="ansi", null_cols=["adj_close", "volume"],
    )
    m = stmts[0]
    assert 'UPDATE SET t."close" = s."close", t."adj_close" = NULL, t."volume" = NULL' in m
    # portable ignores null_cols (DELETE+INSERT already replaces rows)
    stmts = merge_statements(
        "prices", "prices__stage", ["symbol"],
        ["symbol", "close"], dialect="portable", null_cols=["adj_close"],
    )
    assert all("adj_close" not in s for s in stmts)


def test_jdbc_merge_narrow_batch_nulls_target_only_columns(spark):
    """End-to-end (portable/DuckDB): a matched row merged from a batch
    missing a target column comes out with that column NULL — the
    semantic the ansi MERGE's explicit NULL sets mirror."""
    con, sink = _duckdb_warehouse(spark)
    sink.columns_of = lambda t: {
        r[0] for r in con.execute(
            f"SELECT column_name FROM information_schema.columns WHERE table_name = '{t}'"
        ).fetchall()
    }
    con.execute("CREATE TABLE prices (symbol VARCHAR, close DOUBLE, volume BIGINT)")
    con.execute("INSERT INTO prices VALUES ('AAA', 1.0, 100), ('BBB', 2.0, 200)")
    batch = spark.createDataFrame([("AAA", 9.0)], "symbol string, close double")
    stmts = sink.write(batch, "prices", ["symbol"])
    assert all("ALTER TABLE" not in s for s in stmts)  # nothing to evolve
    out = {r[0]: (r[1], r[2]) for r in con.execute("SELECT * FROM prices").fetchall()}
    assert out["AAA"] == (9.0, None)  # matched → replaced wholesale
    assert out["BBB"] == (2.0, 200)  # untouched


def test_jdbc_sink_works_with_cursor_only_connection(spark):
    """psycopg2-shaped driver: the connection object has NO execute();
    all statements must go through cursor().execute()."""
    con, sink = _duckdb_warehouse(spark)

    class CursorOnly:
        # DBAPI 2.0 strict: cursors share the connection's transaction
        def cursor(self):
            return con

        def commit(self):
            try:
                con.commit()
            except Exception:
                pass

    sink.connection_factory = CursorOnly
    con.execute("CREATE TABLE fx (symbol VARCHAR, rate DOUBLE)")
    b = spark.createDataFrame([("EUR", 1.1)], "symbol string, rate double")
    sink.write(b, "fx", ["symbol"])
    sink.write(
        spark.createDataFrame([("EUR", 1.3), ("JPY", 0.007)], "symbol string, rate double"),
        "fx", ["symbol"],
    )
    assert dict(con.execute("SELECT symbol, rate FROM fx").fetchall()) == {
        "EUR": 1.3, "JPY": 0.007,
    }


def test_jdbc_sink_commits_stage_drop_on_failure(spark):
    """Failure path: the stage-table DROP in the finally block must be
    followed by a driver-level commit() (autocommit-off drivers would
    otherwise leak one stage table per failed merge)."""
    from securities_data_pipeline_spark.warehouse import JdbcMergeSink

    calls: list[str] = []

    class FailingCon:
        def execute(self, sql):
            calls.append(sql)
            if sql.startswith("DELETE FROM"):
                raise RuntimeError("warehouse rejected the merge")

        def commit(self):
            calls.append("<commit>")

    sink = JdbcMergeSink(
        url="jdbc:x://", connection_factory=FailingCon, stager=lambda df, t: None
    )
    import pytest as _pytest

    df = spark.createDataFrame([("EUR", 1.1)], "symbol string, rate double")
    with _pytest.raises(RuntimeError, match="rejected"):
        sink.write(df, "prices", ["symbol"])
    drop_idx = next(i for i, c in enumerate(calls) if c.startswith("DROP TABLE"))
    assert "<commit>" in calls[drop_idx + 1:], "commit must follow the DROP"
    assert any(c == "ROLLBACK" for c in calls[:drop_idx])


def test_default_stager_builds_jdbc_write(spark, monkeypatch):
    """Production transport: the default stager must issue a
    format('jdbc') overwrite save with url + dbtable options (no JDBC
    driver in this container, so intercept at the writer)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from securities_data_pipeline_spark import warehouse

    calls = {"format": None, "options": {}, "mode": None, "saved": False}

    def rec_format(self, source):
        calls["format"] = source
        return self

    def rec_option(self, key, value):
        calls["options"][key] = str(value)
        return self

    def rec_options(self, **opts):
        calls["options"].update({k: str(v) for k, v in opts.items()})
        return self

    def rec_mode(self, m):
        calls["mode"] = m
        return self

    def rec_save(self, path=None):
        calls["saved"] = True

    for name, fn in [
        ("format", rec_format), ("option", rec_option),
        ("options", rec_options), ("mode", rec_mode), ("save", rec_save),
    ]:
        monkeypatch.setattr(DataFrameWriter, name, fn)
    df = spark.createDataFrame([("EUR", 1.1)], "symbol string, rate double")
    stage = warehouse._default_stager(
        "jdbc:postgresql://dw:5432/sec", {"user": "loader", "numPartitions": "8"}
    )
    stage(df, "fx__stage")
    assert calls == {
        "format": "jdbc",
        "options": {
            "url": "jdbc:postgresql://dw:5432/sec",
            # QUOTED: creation must preserve exact case so the merge
            # DML's quote_ident reference (and the DROP) find the
            # stage on case-folding engines
            "dbtable": '"fx__stage"',
            "user": "loader",
            "numPartitions": "8",
        },
        "mode": "overwrite",
        "saved": True,
    }


# ---------------------------------------------------------------------------
# S7 Delta upgrade path: delta-spark is NOT installed in this container
# (no network, no vendoring), so the real DeltaTable.merge cannot run
# here — that environment blocker is documented in load.py's module
# docstring. These tests prove the upgrade path anyway: the call-shape
# test drives merge_upsert through the _delta_merge branch against a
# recording double, and the real-engine test auto-activates on any
# cluster where `import delta` succeeds.


def test_delta_merge_branch_call_shape(spark, tmp_path, monkeypatch):
    from securities_data_pipeline_spark import load as load_mod

    events = []

    class FakeMergeBuilder:
        def whenMatchedUpdateAll(self):
            events.append("matched_update_all")
            return self

        def whenNotMatchedInsertAll(self):
            events.append("not_matched_insert_all")
            return self

        def execute(self):
            events.append("execute")

    class FakeDeltaTable:
        @staticmethod
        def forPath(spark_, path_):
            events.append(("for_path", path_))
            return FakeDeltaTable()

        def alias(self, a):
            events.append(("alias", a))
            return self

        def merge(self, src, cond):
            events.append(("merge", cond))
            return FakeMergeBuilder()

    path = str(tmp_path / "delta_prices")
    seed = _prices(spark, [(D(2025, 1, 1), "AAA", 1.0, 1.0, 1.0, 1.0, 10)])
    load_prices(spark, seed, path)  # creates the parquet table
    import os

    os.makedirs(os.path.join(path, "_delta_log"))  # mark as Delta
    monkeypatch.setattr(load_mod, "HAVE_DELTA", True)
    monkeypatch.setattr(load_mod, "DeltaTable", FakeDeltaTable, raising=False)

    batch = _prices(spark, [(D(2025, 1, 1), "AAA", 9.0, 9.0, 9.0, 9.0, 90)])
    load_prices(spark, batch, path)
    assert ("for_path", path) in events
    assert ("merge", "t.date_stamp = s.date_stamp AND t.symbol = s.symbol") in events
    assert events[-3:] == ["matched_update_all", "not_matched_insert_all", "execute"]


def test_delta_real_merge_when_available(spark, tmp_path):
    import pytest

    from securities_data_pipeline_spark.load import HAVE_DELTA

    if not HAVE_DELTA:
        pytest.skip("delta-spark not installed in this container (documented blocker)")
    path = str(tmp_path / "delta_real")
    seed = _prices(spark, [(D(2025, 1, 1), "AAA", 1.0, 1.0, 1.0, 1.0, 10)])
    seed.write.format("delta").save(path)
    batch = _prices(
        spark,
        [
            (D(2025, 1, 1), "AAA", 9.0, 9.0, 9.0, 9.0, 90),
            (D(2025, 1, 2), "BBB", 2.0, 2.0, 2.0, 2.0, 20),
        ],
    )
    from securities_data_pipeline_spark.load import merge_upsert

    merge_upsert(spark, batch, path, ["date_stamp", "symbol"])
    out = {
        (r.date_stamp, r.symbol): r
        for r in spark.read.format("delta").load(path).collect()
    }
    assert len(out) == 2  # AAA@1/1 updated in place, BBB@1/2 inserted
    assert out[(D(2025, 1, 1), "AAA")].close == 9.0


# ---------------------------------------------------------------------------
# schema evolution (dlt-parity: merge auto-evolves the table)


def test_parquet_merge_schema_evolution_partitioned(spark, tmp_path):
    """A batch carrying a never-seen column evolves the table: old rows
    read null for it, new rows carry it, and the partitioned layout
    survives the one-time full rewrite."""
    path = str(tmp_path / "prices")
    load_prices(spark, _prices(spark, [(D(2025, 1, 1), "AAA", 1.0, 1.0, 1.0, 1.0, 10)]), path)
    evolved = spark.createDataFrame(
        [(D(2025, 1, 2), "AAA", 2.0, 2.0, 2.0, 2.0, 20, "NASDAQ")],
        PRICE_SCHEMA + ", exchange string",
    )
    from securities_data_pipeline_spark.load import merge_upsert

    merge_upsert(
        spark, evolved, path, ["date_stamp", "symbol"], partition_by=("date_stamp",)
    )
    out = _read(spark, path)
    assert len(out) == 2
    assert out[(D(2025, 1, 2), "AAA")].exchange == "NASDAQ"
    assert out[(D(2025, 1, 1), "AAA")].exchange is None  # old row evolved to null
    import os

    assert any(d.startswith("date_stamp=") for d in os.listdir(path))  # still partitioned
    # and a later non-evolving merge keeps the evolved column intact
    load_prices(spark, _prices(spark, [(D(2025, 1, 3), "BBB", 3.0, 3.0, 3.0, 3.0, 30)]), path)
    out2 = _read(spark, path)
    assert out2[(D(2025, 1, 2), "AAA")].exchange == "NASDAQ"
    assert out2[(D(2025, 1, 3), "BBB")].exchange is None


def test_jdbc_merge_schema_evolution(spark):
    con, sink = _duckdb_warehouse(spark)
    con.execute("CREATE TABLE prices (date_stamp DATE, symbol VARCHAR, close DOUBLE)")
    sink.columns_of = lambda t: {
        r[0]
        for r in con.execute(
            "SELECT column_name FROM information_schema.columns WHERE table_name = ?",
            [t],
        ).fetchall()
    }
    b1 = spark.createDataFrame(
        [(D(2025, 1, 1), "AAA", 1.0)], "date_stamp date, symbol string, close double"
    )
    sink.write(b1, "prices", ["date_stamp", "symbol"])
    b2 = spark.createDataFrame(
        [(D(2025, 1, 2), "AAA", 2.0, 100)],
        "date_stamp date, symbol string, close double, volume long",
    )
    stmts = sink.write(b2, "prices", ["date_stamp", "symbol"])
    assert any(s.startswith('ALTER TABLE "prices" ADD COLUMN "volume" BIGINT') for s in stmts)
    rows = {
        (r[0], r[1]): (r[2], r[3])
        for r in con.execute("SELECT date_stamp, symbol, close, volume FROM prices").fetchall()
    }
    assert rows[(D(2025, 1, 2), "AAA")] == (2.0, 100)
    assert rows[(D(2025, 1, 1), "AAA")] == (1.0, None)  # evolved to null


def test_jdbc_case_variant_batch_column_maps_onto_existing(spark):
    """The warehouse twin of test_case_variant_batch_column_maps_onto_existing:
    a batch 'Close' merges into the table's 'close' with no ALTER TABLE,
    and the DML names the table's spelling (a case-sensitive warehouse
    would reject a quoted "Close")."""
    con, sink = _duckdb_warehouse(spark)
    con.execute("CREATE TABLE prices (symbol VARCHAR, close DOUBLE)")
    con.execute("INSERT INTO prices VALUES ('AAA', 1.0)")
    sink.columns_of = lambda t: {
        r[0]
        for r in con.execute(
            "SELECT column_name FROM information_schema.columns WHERE table_name = ?",
            [t],
        ).fetchall()
    }
    batch = spark.createDataFrame(
        [("AAA", 9.0), ("BBB", 2.0)], "symbol string, Close double"
    )
    stmts = sink.write(batch, "prices", ["symbol"])
    assert all("ALTER TABLE" not in s for s in stmts)
    assert all('"Close"' not in s for s in stmts)
    assert [c[0] for c in con.execute("DESCRIBE prices").fetchall()] == ["symbol", "close"]
    assert dict(con.execute("SELECT symbol, close FROM prices").fetchall()) == {
        "AAA": 9.0,
        "BBB": 2.0,
    }


def test_evolve_statements_types_and_case():
    """Review pins: decimal evolves to DECIMAL(p,s) DDL (VARCHAR would
    type-mismatch the staged NUMERIC), case-variant batch columns match
    existing warehouse columns instead of spawning duplicates."""
    from pyspark.sql import types as T

    from securities_data_pipeline_spark.warehouse import evolve_statements

    class FakeDf:  # only .schema.fields is consulted
        schema = T.StructType(
            [
                T.StructField("Volume", T.LongType()),
                T.StructField("fee", T.DecimalType(18, 2)),
                T.StructField("tags", T.ArrayType(T.StringType())),
            ]
        )

    stmts = evolve_statements(FakeDf(), "prices", {"volume", "close"})
    assert stmts == [
        'ALTER TABLE "prices" ADD COLUMN "fee" DECIMAL(18,2)',
        'ALTER TABLE "prices" ADD COLUMN "tags" VARCHAR',
    ]


def test_partitioned_lake_read_prunes_partitions(spark, tmp_path):
    """The 100 TB scan lever: a date-filtered read over the
    date-partitioned price lake must prune at the PARTITION level —
    the physical plan carries the predicate in PartitionFilters, and
    only the matching partition's files are listed as inputs."""
    path = str(tmp_path / "prices")
    rows = [
        (D(2025, 1, d), s, 1.0, 1.0, 1.0, 1.0, 10)
        for d in (1, 2, 3)
        for s in ("AAA", "BBB")
    ]
    load_prices(spark, _prices(spark, rows), path)

    from pyspark.sql import functions as F

    df = spark.read.parquet(path).where(F.col("date_stamp") == D(2025, 1, 2))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "date_stamp" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], "date predicate must reach PartitionFilters"
    # inputFiles() reports the relation's full listing (pre-pruning);
    # the execution metric is the truth. Compare against the ACTUAL
    # file counts on disk — the writer's task layout (AQE coalescing,
    # shuffle partition count) decides files-per-partition, and the
    # pruning claim is "only day-2's files", not "exactly one file"
    import glob

    assert {r.symbol for r in df.collect()} == {"AAA", "BBB"}
    scan = df._jdf.queryExecution().executedPlan().collectLeaves().head()
    n_files = scan.metrics().apply("numFiles").value()
    day2_files = len(glob.glob(f"{path}/date_stamp=2025-01-02/*.parquet"))
    all_files = len(glob.glob(f"{path}/date_stamp=*/*.parquet"))
    assert n_files == day2_files, (n_files, day2_files)
    assert n_files < all_files, "scan read files outside the pruned partition"


def test_merge_preserves_null_partition_survivors(spark, tmp_path):
    """isin() never matches NULL: without the explicit isNull arm a
    merge into the null partition silently DELETED the target's other
    null-partition rows."""
    from securities_data_pipeline_spark.load import merge_upsert

    path = str(tmp_path / "nulpart")
    base = spark.createDataFrame(
        [(None, "A", 1.0), ("2024-01-01", "C", 3.0)],
        "date_stamp string, symbol string, close double",
    )
    merge_upsert(spark, base, path, ["date_stamp", "symbol"],
                 partition_by=("date_stamp",))
    batch = spark.createDataFrame(
        [(None, "B", 2.0)], "date_stamp string, symbol string, close double"
    )
    merge_upsert(spark, batch, path, ["date_stamp", "symbol"],
                 partition_by=("date_stamp",))
    rows = {(r.symbol): r.close for r in spark.read.parquet(path).collect()}
    assert rows == {"A": 1.0, "B": 2.0, "C": 3.0}


def test_transform_prices_empty_input_yields_long_schema(spark, tmp_path):
    """An empty vendor fetch (header rows only) must be a no-op with the
    LONG schema that load_prices partitions by."""
    from securities_data_pipeline_spark.functions.cleaning import transform_prices
    from securities_data_pipeline_spark.sources.wide_csv import read_wide_price_csv
    from tests.conftest import yf_frame

    path = str(tmp_path / "empty_fetch.csv")
    yf_frame([], {("Open", "EURUSD=X"): [], ("Close", "EURUSD=X"): []}).to_csv(path)
    out = transform_prices(read_wide_price_csv(spark, path), "fx")
    assert out.columns == [
        "date_stamp", "symbol", "open", "high", "low", "close", "volume"
    ]
    assert out.count() == 0


def test_price_fetch_partial_batch_failure_quarantines_not_aborts(spark):
    """One failing batch yields zero rows (its symbols surface via
    failed_symbols) while other batches still load — the reference's
    YF_ERRORS semantics, not a whole-job abort."""
    import pandas as pd

    from securities_data_pipeline_spark.sources.adapters import (
        failed_symbols,
        price_history_source,
    )

    def downloader(symbols, start, end):
        if "BAD" in symbols:
            raise RuntimeError("vendor 429")
        dates = pd.to_datetime(["2025-01-01"])
        fields = ["Open", "High", "Low", "Close", "Volume"]
        cols = pd.MultiIndex.from_product([fields, symbols], names=["Price", "Ticker"])
        data = {(f, s): [1.0] for f in fields for s in symbols}
        return pd.DataFrame(data, index=dates, columns=cols).rename_axis("Date")

    symbols = ["AAA", "BBB", "BAD", "CCC"]
    bars = price_history_source(
        spark, symbols=symbols, downloader=downloader, batch_size=1
    )
    got = {r.symbol for r in bars.collect()}
    # failure granularity is the BATCH (repartition is hash-based, so
    # healthy symbols sharing BAD's partition drop with it): the job
    # must not abort, BAD must never load, other batches still land,
    # and every casualty surfaces through failed_symbols
    assert "BAD" not in got and got
    failed = {r.symbol for r in failed_symbols(spark, symbols, bars).collect()}
    assert "BAD" in failed and failed == set(symbols) - got


def test_failed_overwrite_preserves_recovery_stage(spark, tmp_path, monkeypatch):
    """ADVICE r4 (medium): a mid-overwrite failure must LEAVE the stage
    directory — static overwrite clears the target before writing, so
    after a crash the stage is the only surviving copy of the table.
    The raised error names the stage path so an operator can restore."""
    from securities_data_pipeline_spark import load as load_mod
    from securities_data_pipeline_spark.load import _stage_path, merge_upsert

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string").write.parquet(path)

    real_stage = load_mod._stage_merged

    class _FailingWrite:
        """Proxies the staged DataFrame but raises on .write — the
        stage parquet is already durably on disk at that point, which
        is exactly the crash window the guarantee covers."""

        def __init__(self, df):
            self._df = df

        def __getattr__(self, name):
            if name == "write":
                raise OSError("disk full (simulated)")
            return getattr(self._df, name)

    monkeypatch.setattr(
        load_mod, "_stage_merged",
        lambda sp, merged, p: _FailingWrite(real_stage(sp, merged, p)),
    )
    incoming = spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="__merge_stage"):
        merge_upsert(spark, incoming, path, keys=["k"])
    # the stage survived and holds the complete merged result
    staged = {(r.k, r.v) for r in spark.read.parquet(_stage_path(path)).collect()}
    assert staged == {(1, "a"), (2, "B"), (3, "c")}



@pytest.mark.parametrize("partition_by", [("date_stamp",), ()], ids=["partitioned", "unpartitioned"])
def test_failed_target_write_keeps_stage_with_merged_rows(spark, tmp_path, monkeypatch, partition_by):
    """The one staged overwrite in merge_upsert serves both the
    partition-pruned merge and the full rewrite: when the target write
    itself raises, the error names the stage and the stage holds every
    merged row (for the pruned merge: every row of the touched
    partitions)."""
    from pyspark.sql import DataFrameWriter

    from securities_data_pipeline_spark.load import _stage_path, merge_upsert

    path = str(tmp_path / "prices")
    keys = ["date_stamp", "symbol"]
    d1, d2 = D(2025, 1, 1), D(2025, 1, 2)
    merge_upsert(
        spark,
        _prices(spark, [(d, s, 1.0, 1.0, 1.0, 1.0, 10) for d in (d1, d2) for s in ("AAA", "BBB")]),
        path,
        keys,
        partition_by=partition_by,
    )

    real_parquet = DataFrameWriter.parquet

    def parquet(self, target, *args, **kwargs):
        if target == path:
            raise OSError("disk full (simulated)")
        return real_parquet(self, target, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    incoming = _prices(
        spark,
        [(d1, "BBB", 2.0, 2.0, 2.0, 2.0, 20), (d1, "CCC", 3.0, 3.0, 3.0, 3.0, 30)],
    )
    with pytest.raises(RuntimeError, match=re.escape(_stage_path(path))):
        merge_upsert(spark, incoming, path, keys, partition_by=partition_by)
    monkeypatch.undo()

    want = {(d1, "AAA", 1.0), (d1, "BBB", 2.0), (d1, "CCC", 3.0)}
    if not partition_by:  # full rewrite: untouched dates are merged rows too
        want |= {(d2, "AAA", 1.0), (d2, "BBB", 1.0)}
    staged = {
        (r.date_stamp, r.symbol, r.close)
        for r in spark.read.parquet(_stage_path(path)).collect()
    }
    assert staged == want

def test_jdbc_sink_validates_before_staging_and_reuses_connection(spark):
    """A bad mode must fail BEFORE the distributed stage write (no
    stage table to leak), and the sink holds ONE warehouse connection
    across batches (a foreachBatch stream would otherwise open one per
    micro-batch and exhaust max_connections)."""
    con, sink = _duckdb_warehouse(spark)
    con.execute('CREATE TABLE t (id BIGINT PRIMARY KEY, v BIGINT)')
    calls = {"n": 0}
    real_factory = sink.connection_factory

    def counting_factory():
        calls["n"] += 1
        return real_factory()

    import pytest as _pytest

    sink.connection_factory = counting_factory
    df = spark.createDataFrame([(1, 10)], "id long, v long")
    with _pytest.raises(ValueError):
        sink.write(df, "t", ["id"], mode="repalce")  # typo'd on purpose
    stages = con.execute(
        "SELECT table_name FROM information_schema.tables WHERE table_name LIKE 't__stage%'"
    ).fetchall()
    assert stages == []  # validation ran before any staging
    sink.write(df, "t", ["id"])
    sink.write(spark.createDataFrame([(2, 20)], "id long, v long"), "t", ["id"])
    assert calls["n"] == 1  # one connection reused across batches
    assert con.execute("SELECT COUNT(*) FROM t").fetchone()[0] == 2
    sink.close()
    sink.close()  # idempotent


def test_cron_next_fire_handles_leap_day(spark):
    """'0 0 29 2 *' from March 2026 is 2028-02-29 — ~2 years out, far
    past the old one-year minute scan; impossible dates still raise."""
    import datetime as dt

    import pytest as _pytest

    from securities_data_pipeline_spark.orchestration import cron_next_fire

    nxt = cron_next_fire("0 0 29 2 *", dt.datetime(2026, 3, 1))
    assert nxt == dt.datetime(2028, 2, 29, 0, 0)
    with _pytest.raises(ValueError, match="never fires"):
        cron_next_fire("0 0 31 4 *", dt.datetime(2026, 1, 1))  # Apr 31
