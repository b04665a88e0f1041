"""Adversarial events fuzz: the third fuzz axis (documents =
fuzz_oracle.py, embeddings = fuzz_embeddings.py). The fixed testdata's
events table is clean — every ts present, every value a sane float,
every props string valid JSON, no (user, ts) ties. A real clickstream /
tick feed at 100 TB violates all of that in the first minute. This
harness generates a deterministic pathological ``events`` table (NULL
keys/timestamps, NaN/±inf/1e308/-0.0 values, malformed & adversarial
JSON, epoch-extreme timestamps, exact (user_id, ts) tie bursts, dense
1 Hz users and single-event users), copies the clean sf0.001 dimension
tables beside it so joins still resolve, and runs every events-reading
registered query through the SAME Spark-vs-DuckDB comparison as the
main gate. A query that is oracle-exact on clean ticks but diverges on
garbage (NULLS FIRST/LAST window drift, NaN sort position, ANSI cast
abort on inf, JSON-error asymmetry) fails HERE first, not in
production.

Usage: python tools/fuzz_events.py [n_events] [seed] [scratch_root]
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import sys

sys.path.insert(0, ".")

# registered queries whose input surface includes events.parquet;
# dimension tables are the clean sf0.001 copies, so the adversarial
# axis is events alone
EVENT_QUERIES = [
    "w1_ffill",
    "w4_session_windows",
    "w5_lead_lag",
    "w7_interval_range",
    "w8_pattern_match",
    "f_json_extract",
    "f_variant_parse",
    "t_pii_scan",
    "g_user_trend",
    "g_user_trend_udf",
    "g_weighted_mean_udaf",
    "g_cohort_retention",
    "g_funnel_conversion",
    "j_asof_latest_order",
    "j_asof_next_order",
    "j_asof_tolerance_purchase",
    "j_range_band",
    "j_range_bin",
    "m_scd2_intervals",
    "m_cdc_apply",
    "a_k_anonymity",
    "a_l_diversity",  # r8: homogeneity-attack stage of the privacy audit
    "a_t_closeness",  # r9: skewness-attack stage (TV distance to global)
    "s_stream_k_anonymity",  # r9: streaming privacy face (signature state)
    "s_stream_t_closeness",  # r10: streaming skewness-attack face (TV distance)
    "w10_conversion_cohorts",  # r9: cohort funnel latency, exact median
    "m_quarantine_report",  # r9: gate-audit counts must absorb garbage by definition
    "a_markov_transition",  # r9: sequence bigrams under ties/null types
    "w11_peak_concurrency",  # r9: sweep-line under tie bursts
    "s_stream_quarantine_rate",  # r9: streaming gate audit on garbage
    "j_asof_nearest_order",  # r9: nearest mode under ts ties/garbage
    "sec_max_drawdown",  # r9: running-peak ratio on adversarial ticks
    "w9_user_streaks",  # r8: gaps-and-islands on pathological event times
    "sec_stg_ffill",
    "sec_calendar_spine",
    "sec_weekly_bars",
    "sec_vwap",
    "sec_ewma",
    "sec_macd",
    "sec_bollinger",
    "sec_atr",
    "sec_stochastic",
    "sec_rsi",
    "sec_sma_crossover",
    "sec_drawdown",
    "sec_rolling_vol",
    "sec_rolling_beta",
    "sec_sharpe",
    "sec_sortino",  # r8: downside moment gated on the quantized return
    # streaming faces: watermark semantics against NULL/extreme event
    # times must agree with the batch oracle
    "s_stream_daily_rollup",
    "s_stream_session_rollup",
    "s_stream_dedup_within_watermark",
]

_EVENT_TYPES = ["view", "click", "purchase", "trade", "quote", ""]
_BAD_TYPES = ["   ", "类型", "έvent", "t" * 1_000, "line\nbreak"]
_BAD_PROPS = [
    None,
    "",
    "{broken",
    "[]",
    "null",
    '{"k": NaN}',
    '{"утф": {"nested": {"deep": [1, 2, {"x": null}]}}}',
    '{"dup": 1, "dup": 2}',
    '{"big": ' + "9" * 400 + "}",
    '{"s": "' + "x" * 10_000 + '"}',
    '{"k": "abc"}',  # extraction path: non-numeric field must TRY_CAST→NULL
    '{"k": 7}',  # extraction path: valid field inside a garbage batch
]
_BAD_VALUES = [
    None,
    float("nan"),
    float("inf"),
    float("-inf"),
    1.0e308,
    -1.0e9,
    -0.0,
    1e-320,  # subnormal
]
_TS_EXTREMES = [
    dt.datetime(1900, 1, 1, 0, 0, 0),
    dt.datetime(2200, 12, 31, 23, 59, 59),
]


def gen_events(n: int, seed: int):
    """Deterministic pathological event rows.

    Shape mirrors testdata events.parquet:
    (event_id, ts, user_id, event_type, value, props); ts is NTZ so
    the parquet lands as isAdjustedToUTC=false like the driver's data.
    """
    rng = random.Random(seed)
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = []
    eid = 0

    def emit(ts, uid, etype, value, props):
        nonlocal eid
        rows.append((eid, ts, uid, etype, value, props))
        eid += 1

    # ~60% normal-ish rows: real work for windows/sessions/joins
    for i in range(int(n * 0.6)):
        emit(
            base + dt.timedelta(seconds=rng.randint(0, 7 * 86_400)),
            rng.randint(1, 40),
            rng.choice(_EVENT_TYPES[:5]),
            round(rng.uniform(0.5, 500.0), 4),
            '{"page": %d, "ok": true}' % rng.randint(1, 9),
        )

    budget = n - len(rows)
    per_class = max(2, budget // 12)

    for _ in range(per_class):  # NULL event-time
        emit(None, rng.randint(1, 40), "view", 1.0, '{"page": 1}')
    for _ in range(per_class):  # NULL user key
        emit(base + dt.timedelta(seconds=rng.randint(0, 86_400)), None,
             "click", 2.0, "{}")
    for _ in range(per_class):  # NULL event_type
        emit(base + dt.timedelta(seconds=rng.randint(0, 86_400)),
             rng.randint(1, 40), None, 3.0, "{}")
    for v in _BAD_VALUES * (per_class // len(_BAD_VALUES) + 1):
        emit(base + dt.timedelta(seconds=rng.randint(0, 86_400)),
             rng.randint(1, 40), "trade", v, "{}")
    for p in _BAD_PROPS * (per_class // len(_BAD_PROPS) + 1):
        emit(base + dt.timedelta(seconds=rng.randint(0, 86_400)),
             rng.randint(1, 40), "view", 4.0, p)
    for t in _BAD_TYPES * (per_class // len(_BAD_TYPES) + 1):
        emit(base + dt.timedelta(seconds=rng.randint(0, 86_400)),
             rng.randint(1, 40), t, 5.0, "{}")
    for ts in _TS_EXTREMES * (per_class // 2 + 1):
        emit(ts, rng.randint(1, 40), "view", 6.0, "{}")
    # exact (user, ts) tie burst: any missing deterministic tie-break
    # in a window spec shows up as engine-order divergence here
    tie_ts = base + dt.timedelta(hours=1)
    for _ in range(per_class * 2):
        emit(tie_ts, 7, rng.choice(_EVENT_TYPES[:5]),
             rng.choice([1.0, 2.0, 3.0]), '{"tie": true}')
    # dense 1 Hz user: a single unbroken session spanning gaps < any
    # sane session timeout, plus a one-event user
    for k in range(per_class * 2):
        emit(base + dt.timedelta(seconds=k), 999, "view", 0.25, "{}")
    emit(base, 1000, "purchase", 9.99, '{"single": 1}')

    rng.shuffle(rows)  # physical order must not matter
    return rows


def main() -> int:
    import duckdb

    from tools.check_oracle import compare, report
    from securities_data_pipeline_spark.session import get_spark
    from securities_data_pipeline_spark.sources.tables import TABLE_NAMES

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 600
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 11
    scratch_root = sys.argv[3] if len(sys.argv) > 3 else "/tmp"
    clean_dir = os.environ.get("SPARK_GRAFT_FUZZ_CLEAN", "/root/testdata/sf0.001")
    scratch = os.path.join(scratch_root, "sdp_fuzz_events")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch, exist_ok=True)

    spark = get_spark("events-fuzz")
    # write ONE parquet FILE named events.parquet (pyarrow, NTZ µs
    # timestamps — isAdjustedToUTC=false like the driver's testdata):
    # the streaming source matches the file by name via pathGlobFilter,
    # so a directory-style Spark write would stream zero rows
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = gen_events(n, seed)
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
    path = os.path.join(scratch, "events.parquet")
    pq.write_table(tbl, path)

    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    for t in TABLE_NAMES:
        if t == "events":
            continue
        src = os.path.join(clean_dir, f"{t}.parquet")
        shutil.copy(src, os.path.join(scratch, f"{t}.parquet"))
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{scratch}/{t}.parquet'")

    status = report(*compare(spark, con, EVENT_QUERIES, scratch))
    shutil.rmtree(scratch, ignore_errors=True)
    return status


if __name__ == "__main__":
    raise SystemExit(main())
