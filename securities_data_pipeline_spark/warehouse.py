"""JDBC warehouse merge sink — the dlt→Postgres/Snowflake load path
on Spark (SURVEY §2 S8).

Reference semantics (py_pipeline/load.py:89-150): ``load_to_dw`` runs a
dlt pipeline against Postgres/Snowflake with ``write_disposition`` of
``merge`` (upsert on the primary key) or ``replace`` (full refresh).
dlt implements merge by staging the batch into a temp table and
issuing warehouse-side DML; this module does the same with Spark
primitives:

1. **Stage** the (PK-deduped) batch into ``<table>__stage`` via
   ``df.write.jdbc`` — the only distributed step: executors stream
   rows to the warehouse in parallel (``numPartitions``/``batchsize``
   are the knobs; the warehouse ingest rate is the bottleneck, not
   Spark).
2. **Merge** with driver-issued DML over the staged rows inside ONE
   explicit transaction (``BEGIN TRANSACTION`` … ``COMMIT``, with
   ``ROLLBACK`` + re-raise on failure, plus a DBAPI ``commit()`` when
   the connection exposes one — psycopg-style drivers default
   autocommit off): ``DELETE … USING`` + ``INSERT`` (portable:
   Postgres/DuckDB), or a single ANSI ``MERGE INTO`` (Snowflake/
   BigQuery/SQL Server). Row volume never flows through the driver —
   the statements reference only warehouse-side tables. The stage
   table name carries a per-call random suffix (concurrent writers to
   one target never clobber each other's staged rows) and is dropped
   after the merge.

Scale: the merge DML is O(batch ⋈ table-index) inside the warehouse,
identical to what dlt emits. Spark's role ends at the parallel stage
write, so a 1000-executor cluster loads at warehouse line rate.

Testing (this container has no JDBC driver/network): the stage step
and the driver connection are injectable — ``tests/test_load.py``
stages into an in-process DuckDB and runs the very same generated DML,
asserting upsert/replace/idempotency semantics against the reference's
load-test expectations (tests/load_test.py:92-157). The production
defaults (``df.write.jdbc`` + DBAPI connection) are exercised by a
call-shape test with a monkeypatched writer.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Protocol

from pyspark.sql import DataFrame

from securities_data_pipeline_spark.load import dedupe_on_keys, match_target_casing


class DbapiConnection(Protocol):  # driver-side warehouse connection
    def execute(self, sql: str): ...


def _exec(con, sql: str):
    """Run one statement on either DBAPI shape: connection-level
    ``execute`` (duckdb, psycopg3) or strict DBAPI 2.0 cursor-level
    only (psycopg2 — its connection object has no ``execute``)."""
    if hasattr(con, "execute"):
        return con.execute(sql)
    return con.cursor().execute(sql)


def quote_ident(name: str) -> str:
    """Defensively quote an SQL identifier (double-quote, doubled)."""
    if not name or any(ch in name for ch in "\x00\n\r"):
        raise ValueError(f"bad identifier: {name!r}")
    return '"' + name.replace('"', '""') + '"'


def merge_statements(
    table: str,
    stage: str,
    keys: list[str],
    cols: list[str],
    *,
    mode: str = "merge",
    dialect: str = "portable",
    null_cols: list[str] | None = None,
) -> list[str]:
    """DML to fold the staged batch into ``table``, keyed on ``keys``.

    ``portable`` (Postgres/DuckDB/Redshift): DELETE…USING + INSERT —
    two statements, one transaction, no MERGE support required.
    ``ansi`` (Snowflake/BigQuery/SQL Server): single MERGE INTO.
    ``replace`` mode empties the table first (FX-symbols disposition,
    reference load.py:108-110) regardless of dialect.

    ``null_cols``: target-only columns (present in the warehouse table,
    absent from the batch — the post-schema-evolution case). Matched
    rows REPLACE wholesale (dlt parity): the portable DELETE+INSERT
    nulls them structurally, and the ansi MERGE must do so explicitly
    (``UPDATE SET t.col = NULL``) or the two dialects would keep
    different surviving data for the same call.
    """
    t, s = quote_ident(table), quote_ident(stage)
    collist = ", ".join(quote_ident(c) for c in cols)
    if mode == "replace":
        return [f"DELETE FROM {t}", f"INSERT INTO {t} ({collist}) SELECT {collist} FROM {s}"]
    if mode != "merge":
        raise ValueError(f"unknown disposition: {mode}")
    on = " AND ".join(f"t.{quote_ident(k)} = s.{quote_ident(k)}" for k in keys)
    if dialect == "portable":
        return [
            f"DELETE FROM {t} AS t USING {s} AS s WHERE {on}",
            f"INSERT INTO {t} ({collist}) SELECT {collist} FROM {s}",
        ]
    if dialect == "ansi":
        sets = ", ".join(
            [f"t.{quote_ident(c)} = s.{quote_ident(c)}" for c in cols if c not in keys]
            + [f"t.{quote_ident(c)} = NULL" for c in (null_cols or [])]
        )
        svals = ", ".join(f"s.{quote_ident(c)}" for c in cols)
        matched = f"WHEN MATCHED THEN UPDATE SET {sets} " if sets else ""
        return [
            f"MERGE INTO {t} AS t USING {s} AS s ON {on} "
            f"{matched}"
            f"WHEN NOT MATCHED THEN INSERT ({collist}) VALUES ({svals})"
        ]
    raise ValueError(f"unknown dialect: {dialect}")


#: Spark simpleString dtype → warehouse DDL type, for evolved columns
_SQL_TYPES = {
    "bigint": "BIGINT",
    "int": "INTEGER",
    "smallint": "SMALLINT",
    # tinyint must map to a numeric DDL type: Spark's JDBC writer
    # stages ByteType as a small integer, and a VARCHAR fallback here
    # would make the merge INSERT type-mismatch the staged column —
    # the exact failure the decimal passthrough below exists to avoid
    "tinyint": "SMALLINT",
    "double": "DOUBLE PRECISION",
    "float": "REAL",
    "string": "VARCHAR",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
}


def evolve_statements(df: DataFrame, table: str, existing_cols: set[str]) -> list[str]:
    """dlt-parity schema evolution DDL: one ``ALTER TABLE … ADD COLUMN``
    per batch column the warehouse table lacks (existing rows read
    NULL, exactly like dlt's auto-evolving merge).

    Existence is checked case-insensitively (information_schema
    reports fold-cased names; a case-variant batch column must MATCH,
    not spawn a case-distinct duplicate the merge would silently
    split writes across). ``decimal(p,s)`` simpleStrings are valid
    DDL on every targeted warehouse and pass through verbatim — a
    VARCHAR fallback there would type-mismatch the staged NUMERIC
    column and fail the merge INSERT; only genuinely unmappable types
    (arrays, structs) fall back to VARCHAR, dlt's lossless-but-ugly
    default."""
    existing_folded = {c.casefold() for c in existing_cols}
    out = []
    for f in df.schema.fields:
        if f.name.casefold() in existing_folded:
            continue
        simple = f.dataType.simpleString()
        if simple.startswith("decimal("):
            ddl = simple.upper()
        else:
            ddl = _SQL_TYPES.get(simple, "VARCHAR")
        out.append(
            f"ALTER TABLE {quote_ident(table)} "
            f"ADD COLUMN {quote_ident(f.name)} {ddl}"
        )
    return out


def _default_stager(url: str, options: dict[str, str]) -> Callable[[DataFrame, str], None]:
    def stage(df: DataFrame, stage_table: str) -> None:
        (
            df.write.format("jdbc")
            .option("url", url)
            # QUOTED: the merge DML references the stage via
            # quote_ident (case-exact). An unquoted dbtable would let
            # the engine case-fold the created name (Postgres → lower,
            # Oracle → upper), so a mixed-case target like 'Prices'
            # would stage a table the quoted DML can't find — failing
            # the merge AND leaking the stage (the quoted DROP misses
            # it too). Custom stagers must create the name case-exactly
            # for the same reason.
            .option("dbtable", quote_ident(stage_table))
            .options(**options)
            .mode("overwrite")
            .save()
        )

    return stage


@dataclass
class JdbcMergeSink:
    """S8 sink: stage-then-merge into a JDBC warehouse.

    ``stager(df, stage_table)`` performs the distributed write
    (default: ``df.write.jdbc`` against ``url``);
    ``connection_factory()`` yields the driver-side DBAPI connection
    that issues the merge DML. Both are injectable so tests (and
    exotic warehouses) can swap transports without touching merge
    semantics.
    """

    url: str
    connection_factory: Callable[[], DbapiConnection]
    dialect: str = "portable"
    jdbc_options: dict[str, str] = field(default_factory=dict)
    stager: Callable[[DataFrame, str], None] | None = None
    #: warehouse introspection hook: table name → current column set
    #: (e.g. an information_schema query). When provided, write()
    #: auto-evolves the target with ALTER TABLE ADD COLUMN for batch
    #: columns the table lacks — dlt's auto-evolving merge semantics.
    columns_of: Callable[[str], set[str]] | None = None
    #: cached driver-side connection: the factory is called once and
    #: the connection reused across write() calls (a foreachBatch
    #: stream would otherwise open one warehouse connection per
    #: micro-batch and never close any — max_connections exhaustion).
    #: Dropped on merge failure so the next batch reconnects; call
    #: ``close()`` when retiring the sink.
    _con: DbapiConnection | None = field(default=None, init=False, repr=False)

    def _connection(self) -> DbapiConnection:
        if self._con is None:
            self._con = self.connection_factory()
        return self._con

    def _drop_connection(self) -> None:
        con, self._con = self._con, None
        if con is not None and hasattr(con, "close"):
            try:
                con.close()
            except Exception:
                pass  # already dead — that's why we're dropping it

    def close(self) -> None:
        """Release the cached warehouse connection (idempotent)."""
        self._drop_connection()

    def write(
        self,
        df: DataFrame,
        table: str,
        keys: list[str],
        *,
        mode: str = "merge",
    ) -> list[str]:
        """Upsert ``df`` into warehouse ``table``; returns the DML it
        ran (for logging/audit). Incoming batch is PK-deduped first —
        dlt tolerates intra-batch duplicate PKs and so do we
        (reference tests/load_test.py:120-141).

        The merge DML runs in one explicit transaction: either both
        the DELETE and the INSERT land or neither does (a crash
        between them must not leave the target missing its PK-matched
        rows), and drivers that default autocommit off get an explicit
        driver-level ``commit()`` so the batch actually persists."""
        import uuid

        incoming = dedupe_on_keys(df, keys)
        ddl: list[str] = []
        target_only: list[str] = []
        if self.columns_of is not None:
            existing = self.columns_of(table)
            # before staging: the merge DML quotes batch names verbatim
            incoming = match_target_casing(incoming, existing)
            ddl = evolve_statements(incoming, table, existing)
            # columns the warehouse has but this batch lacks: matched
            # rows replace wholesale under both dialects, so the ansi
            # MERGE nulls these explicitly (see merge_statements)
            batch_folded = {c.casefold() for c in incoming.columns}
            target_only = sorted(
                c for c in existing if c.casefold() not in batch_folded
            )
        stage_table = f"{table}__stage_{uuid.uuid4().hex[:8]}"
        # build the DML and obtain the connection BEFORE the
        # distributed stage write: a bad mode/dialect or a failing
        # factory then raises with no stage table to leak
        stmts = ddl + merge_statements(
            table,
            stage_table,
            keys,
            incoming.columns,
            mode=mode,
            dialect=self.dialect,
            null_cols=target_only,
        )
        con = self._connection()
        stage = self.stager or _default_stager(self.url, self.jdbc_options)
        stage(incoming, stage_table)
        failed = False
        try:
            _exec(con, "BEGIN TRANSACTION")
            for stmt in stmts:
                _exec(con, stmt)
            _exec(con, "COMMIT")
        except Exception:
            failed = True
            try:
                _exec(con, "ROLLBACK")
            except Exception:
                pass  # connection may already be dead; original error wins
            raise
        finally:
            try:
                _exec(con, f"DROP TABLE IF EXISTS {quote_ident(stage_table)}")
            except Exception:
                pass  # stale stage is an audit artifact, not a data bug
            # the driver-level commit lives in the finally so the DROP
            # persists on the FAILURE path too (autocommit-off drivers
            # would otherwise leak a stage table per failed merge)
            if hasattr(con, "commit"):
                try:
                    con.commit()
                except Exception:
                    pass  # engines where COMMIT already closed the txn
            if failed:
                # AFTER the stage DROP (which needs the live con):
                # discard the possibly-wedged connection so the next
                # micro-batch reconnects fresh
                self._drop_connection()
        return stmts
