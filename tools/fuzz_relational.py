"""Adversarial relational fuzz: the fourth fuzz axis (documents →
fuzz_oracle.py, embeddings → fuzz_embeddings.py, events →
fuzz_events.py). The TPC-H-shaped fact tables are spec-constrained —
every key NOT NULL, prices positive 2-dp cents, discounts in [0, 0.1]
— and the ~50 relational queries (joins, windows, subqueries,
grouping sets) assume it. A real lake's landing zone does not: this
harness injects NULL keys/dates, NaN/±inf/1e300 prices, negative
quantities, out-of-range discounts, year-1700/9999 dates, non-2dp
prices, and duplicate primary keys with conflicting payloads into
orders+lineitem.

Unlike the events axis (where per-query gates are the answer), the
relational answer is the INGEST pipeline the engine already ships:
the S6 error-channel quarantine (`checks.quarantine_split`, the
pandera-equivalent of the reference's validate step) plus the merge
path's deterministic intra-batch PK dedup (load.py semantics). The
harness drives raw garbage through that pipeline, asserts every
garbage class lands in quarantine with the right violation tag and
every clean/legit-nasty row survives, then runs the full relational
query surface Spark-vs-DuckDB on the validated output — which still
contains the legit-but-nasty rows (date ties across orderkeys,
boundary dates, empty-string flags) that probe tie-break and group-key
edge cases the clean testdata never does.

Usage: python tools/fuzz_relational.py [seed] [scratch_root]
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import sys

sys.path.insert(0, ".")

RELATIONAL_QUERIES = [
    # TPC-H 22
    "q1_pricing_summary", "q2_min_acctbal_supplier", "q3_top_revenue_orders",
    "q4_order_priority", "q5_nation_revenue", "q6_banded_revenue",
    "q7_nation_volume", "q8_market_share", "q9_profit_by_nation",
    "q10_returned_items", "q11_important_parts", "q12_priority_shipping",
    "q13_customer_distribution", "q14_promo_revenue", "q15_top_supplier",
    "q16_supplier_count", "q17_small_qty_revenue",
    "q18_large_volume_customer", "q19_disjunctive_revenue",
    "q20_excess_suppliers", "q21_waiting_suppliers",
    "q22_global_sales_opportunity",
    # subqueries / windows / joins / sets
    "sq_exists_discount", "sq_small_qty_revenue", "sq_large_orders",
    "sq_rich_inactive_customers",
    "w2_moving_avg", "w3_topn_per_group", "w6_rank_surface",
    "j1_anti_join", "j2_semi_join", "j3_full_outer",
    "u2_union_dim", "u5_intersect", "u6_except",
    # aggregates / rollups / samples / scalar surfaces
    "a1_distinct", "a3_null_counts", "a4_duplicate_keys",
    "a5_multi_distinct", "a6_approx_distinct", "a7_percentiles",
    "a8_corr_moments", "a9_approx_percentile",
    "agg_rollup", "agg_cube", "agg_grouping_sets", "agg_salted_sum",
    "f_month_rollup", "f_scalar_recode", "f_sql_udf_revenue",
    "f_pivot_segments", "f_unpivot_measures",
    "p5_null_recode", "p8_deterministic_sample", "p9_bernoulli_sample",
    "s5_scan_prune", "m_incremental_rollup", "m_zorder_cluster",
    "m_partition_skew_report",  # r8: ratio math on degenerate partitions
    "g_topn_per_group_scalable",
    "a_k_map",  # r11: population-vs-release QI classes (NULL QI parts)
]

DATE_MIN = dt.datetime(1970, 1, 1)
DATE_MAX = dt.datetime(2100, 1, 1)


def _orders_rows(clean, rng):
    """clean rows + legit-nasty (pass the gate) + garbage (quarantined).

    Returns (rows, n_expected_valid)."""
    rows = [tuple(r) for r in clean]
    next_key = max(r[0] for r in rows) + 1

    legit = []
    base = rows[0]
    # date-tie burst: same customer, same date, distinct orderkeys —
    # probes every window tie-break
    for i in range(8):
        legit.append((next_key + i, base[1], "O", 100.00 + i,
                      dt.datetime(1996, 6, 6), "3-MEDIUM"))
    next_key += 8
    # boundary dates + empty-string enum
    legit.append((next_key, base[1], "", 55.25, DATE_MIN, "5-LOW"))
    legit.append((next_key + 1, base[1], "F", 55.25,
                  dt.datetime(2099, 12, 31), "5-LOW"))
    next_key += 2

    garbage = []
    g = lambda *r: garbage.append(tuple(r))  # noqa: E731
    g(None, base[1], "O", 10.0, dt.datetime(1996, 1, 1), "3-MEDIUM")  # NULL PK
    g(next_key, None, "O", 10.0, dt.datetime(1996, 1, 1), "3-MEDIUM")  # NULL FK
    g(next_key + 1, base[1], "O", 10.0, None, "3-MEDIUM")  # NULL date
    g(next_key + 2, base[1], "O", float("nan"), dt.datetime(1996, 1, 1), "1-URGENT")
    g(next_key + 3, base[1], "O", float("inf"), dt.datetime(1996, 1, 1), "1-URGENT")
    g(next_key + 4, base[1], "O", 1.0e300, dt.datetime(1996, 1, 1), "1-URGENT")
    g(next_key + 5, base[1], "O", -44.10, dt.datetime(1996, 1, 1), "1-URGENT")
    g(next_key + 6, base[1], "O", 12.345678, dt.datetime(1996, 1, 1), "1-URGENT")  # not 2dp
    g(next_key + 7, base[1], "O", 10.0, dt.datetime(1700, 1, 1), "2-HIGH")
    g(next_key + 8, base[1], "O", 10.0, dt.datetime(9999, 1, 1), "2-HIGH")
    g(next_key + 9, base[1], None, 10.0, dt.datetime(1996, 1, 1), "2-HIGH")  # NULL status
    g(next_key + 10, base[1], "O", 10.0, dt.datetime(1996, 1, 1), None)  # NULL priority
    # duplicate PK, conflicting payload — must be deduped deterministically
    dup_src = rows[rng.randrange(len(rows))]
    g(dup_src[0], dup_src[1], dup_src[2], round(dup_src[3] + 11.11, 2),
      dup_src[4], dup_src[5])

    out = rows + legit + garbage
    rng.shuffle(out)
    return out, len(rows) + len(legit)


def _lineitem_rows(clean, rng):
    rows = [tuple(r) for r in clean]
    base = rows[0]
    okey = max(r[0] for r in rows) + 1

    legit = []
    # shipdate tie burst across linenumbers (window tie-break probe)
    for i in range(6):
        legit.append((okey, base[1], base[2], i + 1, 5.00, 500.00, 0.05,
                      0.02, "N", "O", dt.datetime(1996, 6, 6)))
    # boundary discount/tax and empty flags
    legit.append((okey + 1, base[1], base[2], 1, 1.00, 100.00, 0.0, 0.0,
                  "", "", DATE_MIN))
    legit.append((okey + 1, base[1], base[2], 2, 1.00, 100.00, 1.0, 1.0,
                  "R", "F", dt.datetime(2099, 12, 31)))

    garbage = []
    g = lambda *r: garbage.append(tuple(r))  # noqa: E731
    d96 = dt.datetime(1996, 1, 1)
    g(None, base[1], base[2], 1, 1.0, 100.0, 0.05, 0.02, "N", "O", d96)
    g(okey + 2, None, base[2], 1, 1.0, 100.0, 0.05, 0.02, "N", "O", d96)
    g(okey + 2, base[1], None, 2, 1.0, 100.0, 0.05, 0.02, "N", "O", d96)
    g(okey + 2, base[1], base[2], None, 1.0, 100.0, 0.05, 0.02, "N", "O", d96)
    g(okey + 3, base[1], base[2], 1, None, 100.0, 0.05, 0.02, "N", "O", d96)
    g(okey + 3, base[1], base[2], 2, -3.0, 100.0, 0.05, 0.02, "N", "O", d96)
    g(okey + 3, base[1], base[2], 3, 1.0e12, 100.0, 0.05, 0.02, "N", "O", d96)
    g(okey + 4, base[1], base[2], 1, 1.0, float("nan"), 0.05, 0.02, "N", "O", d96)
    g(okey + 4, base[1], base[2], 2, 1.0, float("-inf"), 0.05, 0.02, "N", "O", d96)
    g(okey + 4, base[1], base[2], 3, 1.0, 1.0e300, 0.05, 0.02, "N", "O", d96)
    g(okey + 4, base[1], base[2], 4, 1.0, -100.0, 0.05, 0.02, "N", "O", d96)
    g(okey + 4, base[1], base[2], 5, 1.0, 99.999, 0.05, 0.02, "N", "O", d96)  # not 2dp
    g(okey + 5, base[1], base[2], 1, 1.0, 100.0, 1.5, 0.02, "N", "O", d96)
    g(okey + 5, base[1], base[2], 2, 1.0, 100.0, -0.1, 0.02, "N", "O", d96)
    g(okey + 5, base[1], base[2], 3, 1.0, 100.0, 0.05, None, "N", "O", d96)
    g(okey + 6, base[1], base[2], 1, 1.0, 100.0, 0.05, 0.02, None, "O", d96)
    g(okey + 6, base[1], base[2], 2, 1.0, 100.0, 0.05, 0.02, "N", None, d96)
    g(okey + 6, base[1], base[2], 3, 1.0, 100.0, 0.05, 0.02, "N", "O", None)
    g(okey + 7, base[1], base[2], 1, 1.0, 100.0, 0.05, 0.02, "N", "O",
      dt.datetime(1700, 1, 1))
    # a same-grain near-duplicate row is LEGIT for lineitem: the
    # synthetic table has no unique key — (orderkey, linenumber) is
    # only ~77% distinct in the clean data — so the grain is the full
    # row and repeated grains are facts, not violations
    dup = rows[rng.randrange(len(rows))]
    legit.append((dup[0], dup[1], dup[2], dup[3], dup[4],
                  round(dup[5] + 7.77, 2), dup[6], dup[7], dup[8], dup[9],
                  dup[10]))

    out = rows + legit + garbage
    rng.shuffle(out)
    return out, len(rows) + len(legit)


def validated_facts(spark, raw_dir: str, out_dir: str):
    """The S6 ingest pipeline: quarantine_split on the spec contract,
    then the merge path's deterministic intra-batch PK dedup. Returns
    {table: (n_valid, n_quarantined, violation_tags)}."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from securities_data_pipeline_spark.checks import quarantine_split

    def two_dp(c):
        # prices are cents by spec: exact at 2 decimals
        return F.col(c) == F.round(F.col(c), 2)

    def finite_pos(c, hi):
        return (
            F.col(c).isNotNull()
            & ~F.isnan(F.col(c))
            & (F.col(c) > 0)
            & (F.col(c) <= F.lit(float(hi)))
        )

    def date_ok(c):
        return (
            F.col(c).isNotNull()
            & (F.col(c) >= F.lit("1970-01-01").cast("timestamp"))
            & (F.col(c) < F.lit("2100-01-01").cast("timestamp"))
        )

    contracts = {
        "orders": (
            {
                "pk_not_null": F.col("o_orderkey").isNotNull(),
                "fk_not_null": F.col("o_custkey").isNotNull(),
                "date_in_range": date_ok("o_orderdate"),
                "price_sane": finite_pos("o_totalprice", 1e9) & two_dp("o_totalprice"),
                "status_not_null": F.col("o_orderstatus").isNotNull(),
                "priority_not_null": F.col("o_orderpriority").isNotNull(),
            },
            ["o_orderkey"],
        ),
        "lineitem": (
            {
                "keys_not_null": F.col("l_orderkey").isNotNull()
                & F.col("l_partkey").isNotNull()
                & F.col("l_suppkey").isNotNull()
                & F.col("l_linenumber").isNotNull(),
                "qty_sane": finite_pos("l_quantity", 1e6),
                "price_sane": finite_pos("l_extendedprice", 1e9)
                & two_dp("l_extendedprice"),
                "discount_in_unit": F.col("l_discount").isNotNull()
                & ~F.isnan("l_discount")
                & F.col("l_discount").between(0.0, 1.0),
                "tax_in_unit": F.col("l_tax").isNotNull()
                & ~F.isnan("l_tax")
                & F.col("l_tax").between(0.0, 1.0),
                "flags_not_null": F.col("l_returnflag").isNotNull()
                & F.col("l_linestatus").isNotNull(),
                "date_in_range": date_ok("l_shipdate"),
            },
            # no PK dedup: the synthetic lineitem's grain is the full
            # row (see the near-duplicate note in _lineitem_rows)
            None,
        ),
    }

    report = {}
    for name, (preds, pk) in contracts.items():
        raw = spark.read.parquet(os.path.join(raw_dir, f"{name}.parquet"))
        valid, quarantined = quarantine_split(raw, preds)
        if pk:
            # merge-path intra-batch PK dedup: deterministic keep-first
            # over a total order (all columns; valid rows are fully
            # non-null so the order is total) — load.py's upsert
            # semantics
            order_cols = [c for c in valid.columns if c not in pk]
            w = Window.partitionBy(*pk).orderBy(
                *[F.col(c).asc() for c in order_cols]
            )
            deduped = (
                valid.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .drop("__rn")
            )
        else:
            deduped = valid
        deduped.coalesce(2).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )
        tags = sorted(
            r[0]
            for r in quarantined.select(F.explode("__violations")).distinct().collect()
        )
        report[name] = (deduped.count(), quarantined.count(), tags)
    return report


def main() -> int:
    import duckdb
    import pyarrow.parquet as pq

    from tools.check_oracle import compare, report
    from securities_data_pipeline_spark.session import get_spark
    from securities_data_pipeline_spark.sources.tables import TABLE_NAMES

    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 17
    scratch_root = sys.argv[2] if len(sys.argv) > 2 else "/tmp"
    clean_dir = os.environ.get("SPARK_GRAFT_FUZZ_CLEAN", "/root/testdata/sf0.001")
    raw_dir = os.path.join(scratch_root, "sdp_fuzz_rel_raw")
    out_dir = os.path.join(scratch_root, "sdp_fuzz_rel")
    for d in (raw_dir, out_dir):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d, exist_ok=True)

    rng = random.Random(seed)
    import pyarrow as pa

    specs = {
        "orders": (_orders_rows, "o_orderkey BIGINT, o_custkey BIGINT,"
                   " o_orderstatus VARCHAR, o_totalprice DOUBLE,"
                   " o_orderdate TIMESTAMP, o_orderpriority VARCHAR"),
        "lineitem": (_lineitem_rows, None),
    }
    expected_valid = {}
    for name, (gen, _) in specs.items():
        clean_tbl = pq.read_table(os.path.join(clean_dir, f"{name}.parquet"))
        clean_rows = [
            tuple(col[i].as_py() for col in clean_tbl.columns)
            for i in range(clean_tbl.num_rows)
        ]
        rows, n_valid = gen(clean_rows, rng)
        expected_valid[name] = n_valid
        cols = list(zip(*rows))
        arrays = {}
        for i, field in enumerate(clean_tbl.schema):
            arrays[field.name] = pa.array(cols[i], field.type)
        pq.write_table(pa.table(arrays), os.path.join(raw_dir, f"{name}.parquet"))

    spark = get_spark("relational-fuzz")
    ingest = validated_facts(spark, raw_dir, out_dir)
    ok = True
    for name, (n_valid, n_quar, tags) in ingest.items():
        want = expected_valid[name]
        line = f"{name}: valid={n_valid} (want {want}) quarantined={n_quar} tags={tags}"
        if n_valid != want or n_quar == 0:
            ok = False
            line = "INGEST FAIL " + line
        print(line)
    if not ok:
        return 1

    con = duckdb.connect()
    for t in TABLE_NAMES:
        if t in specs:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM '{out_dir}/{t}.parquet/*.parquet'"
            )
        else:
            src = os.path.join(clean_dir, f"{t}.parquet")
            shutil.copy(src, os.path.join(out_dir, f"{t}.parquet"))
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{out_dir}/{t}.parquet'")

    status = report(*compare(spark, con, RELATIONAL_QUERIES, out_dir))
    for d in (raw_dir, out_dir):
        shutil.rmtree(d, ignore_errors=True)
    return status


if __name__ == "__main__":
    raise SystemExit(main())
