"""Admission gates for the events and embeddings tables — the
quarantine predicates a 100 TB ingest runs before anything time-,
value- or distance-sensitive touches the data (adversarial fuzz,
``tools/fuzz_events.py`` and ``tools/fuzz_embeddings.py``). Every gate
has a Spark ``Column`` form and a byte-identical DuckDB ``SQL_*_OK``
twin, and this module is the one place both are defined.

Why this exists: the clean testdata never contains a NULL event time,
a NaN/±inf/1e308 metric, or a year-2200 timestamp — a real
clickstream/tick feed contains all of them, and the first fuzz run
showed what each one does to an ungated engine:

- **NULL event time** flips window frames between engines (Spark sorts
  NULLS FIRST ascending, DuckDB NULLS LAST), silently shifting every
  ffill/lag/session/SCD2 result (w1/w4/w5/m_scd2 all diverged).
- **NaN/±inf/1e308 values** abort whole queries on Spark's ANSI
  decimal casts (`NUMERIC_VALUE_OUT_OF_RANGE`, `DIVIDE_BY_ZERO` — the
  entire securities family crashed) or poison regressions into ±inf
  whose sort position is engine-dependent (g_user_trend).
- **Far-future timestamps** poison streaming watermarks: one year-2200
  event advances the watermark past every honest window, and the whole
  stream's output is dropped as late.

Three contracts, each applied IDENTICALLY to the Spark scan and the
DuckDB oracle (``guard_table_sql`` rewrites oracle SQL at registration
so the predicate can never drift per-query):

- ``event_ok`` — event time present and inside [1990, 2100); metric
  ``value`` either NULL (legitimate: 'error' events carry no metric)
  or finite with |v| ≤ 1e6. Used by the window/session/trend family.
- ``tick_ok`` — stricter price-tick gate for the securities family:
  event time as above AND value a strictly positive finite price
  ≤ 1e6. The bound sits far inside every documented quantization
  bound (cents in DECIMAL(12,2), EWMA cents×ppb < 2^63 needs
  price < ~4.6e6 — securities_demo.py overflow note), so a gated
  scan can never hit the loud-overflow path.
- ``embedding_ok`` — the vector gate for the similarity, dedup and
  curation families: exactly ``EMB_DIM`` finite, bounded components,
  at least one of them non-zero.

Queries that are garbage-proof by construction (pure equality joins,
COUNT-only rollups, regex scans — j_asof*, g_funnel, t_pii_scan, w8)
stay ungated on purpose: the fuzz suite passes them raw, and that
robustness is part of their contract.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

EVENT_TS_MIN = "1990-01-01"
EVENT_TS_MAX = "2100-01-01"
#: any per-event metric beyond ±1e6 is corrupt upstream data; the
#: bound also keeps every DECIMAL(18,4) per-row cast and int64 cents
#: product in the engine comfortably in range
EVENT_VALUE_MAX_ABS = 1.0e6


def event_time_ok(ts: Column | None = None) -> Column:
    """Event time present and inside the sane ingest range — NULL
    event times have no order (engines disagree on where they sort)
    and out-of-range ones poison watermarks."""
    ts = F.col("ts") if ts is None else ts
    return (
        ts.isNotNull()
        & (ts >= F.lit(EVENT_TS_MIN).cast("timestamp"))
        & (ts < F.lit(EVENT_TS_MAX).cast("timestamp"))
    )


def event_ok() -> Column:
    """The generic events admission contract: sane event time, and the
    metric either absent or finite-and-bounded."""
    v = F.col("value")
    return event_time_ok() & (
        v.isNull() | (~F.isnan(v) & (F.abs(v) <= F.lit(EVENT_VALUE_MAX_ABS)))
    )


def tick_ok() -> Column:
    """The securities-family admission contract: a tick is an event
    whose value is a strictly positive finite price."""
    v = F.col("value")
    return (
        event_time_ok()
        & v.isNotNull()
        & ~F.isnan(v)
        & (v > F.lit(0.0))
        & (v <= F.lit(EVENT_VALUE_MAX_ABS))
    )


SQL_EVENT_OK = (
    f"ts IS NOT NULL AND ts >= TIMESTAMP '{EVENT_TS_MIN}'"
    f" AND ts < TIMESTAMP '{EVENT_TS_MAX}'"
    f" AND (value IS NULL OR (NOT isnan(value)"
    f" AND abs(value) <= {EVENT_VALUE_MAX_ABS}))"
)

SQL_TICK_OK = (
    f"ts IS NOT NULL AND ts >= TIMESTAMP '{EVENT_TS_MIN}'"
    f" AND ts < TIMESTAMP '{EVENT_TS_MAX}'"
    f" AND value IS NOT NULL AND NOT isnan(value)"
    f" AND value > 0 AND value <= {EVENT_VALUE_MAX_ABS}"
)


EMB_DIM = 64
#: embedding sanity gate bound: real text/image embeddings are
#: unit-ish; any component beyond ±1e6 is corrupt data (fp16 overflow,
#: a bug upstream), and magnitudes that large overflow the decimal
#: quantizations downstream (centroid distance Decimal(27,10)).
EMB_MAX_ABS = 1.0e6


def embedding_ok(col: Column) -> Column:
    """The similarity family's admission contract, shared by every
    sim_*/dedup_embedding_*/semdedup query (adversarial-vector fuzz,
    tools/fuzz_embeddings.py): valid ⇔ non-NULL, exactly ``EMB_DIM``
    components, every component finite with |x| ≤ ``EMB_MAX_ABS``, and
    at least one non-zero component. Without the gate a SINGLE bad
    vector in the corpus kills the whole job or poisons every ranking:
    a zero vector makes the cosine denominator 0 (ANSI
    DIVIDE_BY_ZERO abort), a NaN/±inf component turns dot products
    into NaN whose sort position is engine-dependent, a 1e30
    magnitude overflows the Decimal(27,10) distance quantization, a
    NULL/short/long array crashes driver-side codebook training
    (``ZeroDivisionError``/``TypeError`` — all observed in the first
    fuzz run). At 100 TB this filter is the quarantine step an
    embedding store runs at ingest; it is codegen'd array logic with
    zero shuffle, and the DuckDB oracles apply the byte-identical
    predicate (``guard_table_sql(sql, "embeddings", SQL_EMB_OK)``)."""
    finite = F.forall(
        col, lambda x: ~F.isnan(x) & (F.abs(x) <= F.lit(float(EMB_MAX_ABS)))
    )
    nonzero = F.exists(col, lambda x: x != F.lit(0.0))
    return col.isNotNull() & (F.size(col) == EMB_DIM) & finite & nonzero


SQL_EMB_OK = (
    f"embedding IS NOT NULL AND len(embedding) = {EMB_DIM}"
    f" AND list_aggregate(list_transform(embedding,"
    f" x -> NOT isnan(x) AND abs(x) <= {EMB_MAX_ABS}), 'bool_and')"
    f" AND len(list_filter(embedding, x -> x <> 0)) > 0"
)


def events_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events scan through ``event_ok`` — the only way the gated
    window/session/trend queries read the table.  Since round 7 this
    reads the write-time validated clean store (sources/validated.py):
    the gate runs once at ingest, not on every scan, per SCALE.md §12.
    """
    from securities_data_pipeline_spark.sources.validated import (
        validated_events,
    )

    return validated_events(spark, sf_dir)


def ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events scan through ``tick_ok`` — the securities family's
    price-tick feed.  Reads the ``event_ok`` clean store and applies
    only the residual tick predicate (tick_ok ⟹ event_ok: surviving
    non-NULL values are already finite and ≤ the bound, so the residue
    is just ``value IS NOT NULL AND value > 0``)."""
    from securities_data_pipeline_spark.sources.validated import (
        validated_events,
    )

    v = F.col("value")
    return validated_events(spark, sf_dir).where(v.isNotNull() & (v > 0.0))


def guard_table_sql(sql: str, table_name: str, pred: str) -> str:
    """Rewrite an oracle so every ``FROM/JOIN <table_name>`` reference
    goes through a gated CTE with WHERE ``pred`` — applied at
    registration so the SQL side of a gate can never drift per-query."""
    cte_name = f"__{table_name[:4]}_gated"
    body = re.sub(rf"\b(FROM|JOIN)\s+{table_name}\b", rf"\1 {cte_name}", sql)
    cte = f"{cte_name} AS (SELECT * FROM {table_name} WHERE {pred})"
    stripped = body.lstrip()
    lead = body[: len(body) - len(stripped)]
    if stripped.upper().startswith("WITH RECURSIVE"):
        n = len("WITH RECURSIVE")
        return f"{lead}WITH RECURSIVE {cte},{stripped[n:]}"
    if stripped.upper().startswith("WITH"):
        return f"{lead}WITH {cte},{stripped[4:]}"
    return f"{lead}WITH {cte}\n{stripped}"


def guard_events_sql(sql: str, pred: str = SQL_EVENT_OK) -> str:
    return guard_table_sql(sql, "events", pred)


def guard_ticks_sql(sql: str) -> str:
    return guard_table_sql(sql, "events", SQL_TICK_OK)
