"""CI pin of the adversarial-events fuzz (tools/fuzz_events.py).

The full fuzzer sweeps every events-reading query over a pathological
events table plus the clean sf0.001 dimensions; that's a multi-minute
tool run. This test pins a small slice — one query per formerly
failing/crashing root cause — so a regression in any of the admission
gates (functions/gates.py) fails CI, not the next fuzz run.

Representative queries:
- ``w1_ffill`` — NULL event time sorted NULLS FIRST (Spark) vs NULLS
  LAST (DuckDB), silently shifting every "previous row".
- ``w7_interval_range`` — one 1e308/±inf value aborted the whole query
  at the ANSI DECIMAL cast.
- ``g_user_trend`` — a ±inf value drove ``regr_slope`` to ±inf with
  engine-dependent downstream ordering.
- ``sec_vwap`` — the securities tick gate (strictly positive bounded
  price); ungated, NaN/±inf killed the cents quantization.
- ``f_json_extract`` — malformed/empty props: lenient NULL extraction
  on Spark vs a hard DuckDB JSON error without the ``json_valid``
  oracle guard.
- ``f_variant_parse`` — ``try_parse_json`` quarantine vs FAILFAST on
  a '{broken' / duplicate-key row.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest

from tests.conftest import oracle_rows
from tools.fuzz_events import gen_events

QUERIES = [
    "w1_ffill",
    "w7_interval_range",
    "g_user_trend",
    "sec_vwap",
    "f_json_extract",
    "f_variant_parse",
]

CLEAN_DIR = os.environ.get("SPARK_GRAFT_FUZZ_CLEAN", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def fuzz_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    scratch = str(tmp_path_factory.mktemp("fuzz_events"))
    rows = gen_events(300, 13)
    cols = list(zip(*rows))
    tbl = pa.table(
        {
            "event_id": pa.array(cols[0], pa.int64()),
            "ts": pa.array(cols[1], pa.timestamp("us")),
            "user_id": pa.array(cols[2], pa.int64()),
            "event_type": pa.array(cols[3], pa.string()),
            "value": pa.array(cols[4], pa.float64()),
            "props": pa.array(cols[5], pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(scratch, "events.parquet"))
    for t in ("orders", "customer"):
        shutil.copy(
            os.path.join(CLEAN_DIR, f"{t}.parquet"),
            os.path.join(scratch, f"{t}.parquet"),
        )
    return scratch


@pytest.mark.parametrize("name", QUERIES)
def test_adversarial_events_match_oracle(spark, fuzz_dir, name, capsys):
    con = duckdb.connect()
    for t in ("events", "orders", "customer"):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{os.path.join(fuzz_dir, t + '.parquet')}'"
        )
    assert oracle_rows(spark, con, name, fuzz_dir, capsys) > 0


def test_corpus_contains_pathological_classes(spark, fuzz_dir):
    from pyspark.sql import functions as F

    from securities_data_pipeline_spark.sources.tables import table

    ev = table(spark, fuzz_dir, "events")
    stats = ev.agg(
        F.sum(F.when(F.col("ts").isNull(), 1).otherwise(0)).alias("null_ts"),
        F.sum(F.when(F.isnan("value"), 1).otherwise(0)).alias("nans"),
        F.sum(F.when(F.abs("value") > 1.0e6, 1).otherwise(0)).alias("huge"),
        F.sum(
            F.when(F.col("ts") >= F.lit("2100-01-01").cast("timestamp"), 1).otherwise(0)
        ).alias("future"),
        F.sum(
            F.when(F.col("props").isin("", "{broken", '{"dup": 1, "dup": 2}'), 1)
            .otherwise(0)
        ).alias("bad_json"),
    ).first()
    assert stats.null_ts > 0 and stats.nans > 0 and stats.huge > 0
    assert stats.future > 0 and stats.bad_json > 0


def test_gate_keeps_every_clean_event(spark):
    """On the driver's clean testdata the admission gates are identity
    filters — nothing is quarantined, so every gated query's clean
    result is unchanged by gating."""
    from securities_data_pipeline_spark.functions.gates import event_ok, tick_ok
    from securities_data_pipeline_spark.sources.tables import table

    ev = table(spark, CLEAN_DIR, "events")
    n = ev.count()
    assert ev.where(event_ok()).count() == n
    assert ev.where(tick_ok()).count() == n
