"""Physical-plan audit: the scale-engineering gate.

Correctness says a query returns the right rows; this tool asserts the
plan is one that *survives 100 TB*. For every registered query it
renders the formatted physical plan and checks:

- **No cartesian products** (`CartesianProduct`): a cross join on two
  big sides is a cluster-killer. Single-row broadcast scalars
  (`BroadcastNestedLoopJoin` with a one-row aggregate build side) are
  fine and allowlisted per query.
- **Python stays off the hot path**: Arrow/Pandas eval nodes and
  Python-row scans (the ``Scan ExistingRDD`` of a frame built by
  ``createDataFrame`` over a list: every job over it starts Python
  workers) are only allowed in queries whose whole point is the Pandas
  UDF surface.
- **Pushdown reaches the scan**: queries with a selective filter must
  show non-empty `PushedFilters` on the parquet scan.
- **Column pruning**: every scan's ReadSchema is reported (col count
  vs table width); scans reading every column of a wide table from a
  narrow query are bugs.

Output: a summary table + violation list to stdout and PLANS.md;
exit 1 on violations. Run: ``python tools/audit_plans.py [sf_dir]``.
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

# queries whose semantics REQUIRE Pandas/Arrow nodes
PY_OK = {
    "g_user_trend_udf",
    "g_weighted_mean_udaf",
    "udtf_token_positions",
    "sim_kmeans_assign",
    "sim_cluster_sample",  # rank window over the kmeans pandas-UDF assignment
    "mm_feature_extract",
    "mm_feature_knn",  # same Arrow decode stage as mm_feature_extract
    "mm_frame_sample",
    "mm_resize",
    "s_stream_user_stats_stateful",
    "s_stream_k_anonymity",  # applyInPandasWithState signature state IS the op
    "s_stream_t_closeness",  # same per-user state op + batch TV tail (r10)
    # custom stateful streaming processor (transformWithState v2 or its
    # applyInPandasWithState v1 twin) — the Python state op IS the point
    "s_stream_topk_transform_state",
    # per-partition Misra-Gries summary: imperative bounded-memory state,
    # the documented mapInPandas exception (textops.t_heavy_hitters)
    "t_heavy_hitters",
    # bounded per-partition top-N pre-aggregate (grouped.py) — the
    # mapInPandas stage IS the operator's point
    "g_topn_per_group_scalable",
    # greedy MMR selection is sequential in k by definition — it runs
    # per-query in applyInPandas over the pool×pool pair matrix (2500
    # rows/query), integers only; all float math stays JVM-side
    "sim_mmr_rerank",
}

# queries where a broadcast nested-loop join is the intended plan:
# the build side is tiny by construction (a one-row scalar aggregate,
# a handful of value bands, the k query vectors, or the IVF centroid
# list) and the fact side never shuffles — the correct 100 TB shape
# for non-equi joins against small inputs
BNLJ_OK = {
    "q11_important_parts",
    "t_quality_filter",
    "t_assemble_manifest",
    "sq_rich_inactive_customers",
    "dedup_embedding_cosine",
    "dedup_pagerank",  # one-row corpus-count crossJoin per iteration
    "j_range_band",
    "sim_bruteforce_topk",
    "sim_hard_negatives",  # same broadcast anchors x corpus exact tier
    "mm_feature_knn",  # broadcast decoded-query vectors x corpus, the exact tier
    "sim_range_search",  # broadcast queries × corpus scan, τ filter
    "sim_ivf_topk",
    "sim_ivf_recall",  # composes sim_ivf_topk and sim_bruteforce_topk
    "sim_lsh_recall",  # exact side is sim_bruteforce_topk (allowlisted)
    "sim_pq_recall",  # exact side is sim_bruteforce_topk (allowlisted)
    "sim_mmr_rerank",  # pool selection is the brute-force broadcast scan
    "t_idf_top_terms",
    "t_tfidf_doc_terms",  # same 1-row n_docs crossJoin as t_idf_top_terms
    "t_pmi_cooccurrence",  # same 1-row n_docs crossJoin as t_idf_top_terms
    "t_unigram_logprob",
    "t_bigram_logprob",  # same 1-row vocab-size crossJoin as the unigram op
    "t_dsir_weights",  # same 1-row normalizer crossJoin as the unigram op
    "sec_rolling_beta",
    "q22_global_sales_opportunity",  # 1-row positive-balance avg scalar
    "dedup_triangle_stats",  # 1-row wedge-total × 1-row triangle-count
    "a_t_closeness",  # class-k × tiny global value-distribution grid
    "s_stream_t_closeness",  # same grid tail over the final stream state (r10)
    "sim_ivf_retrain_recall",  # 1-row stat / K-row roster crossJoins (r10)
    "sim_pq_retrain_recall",  # 1-row stat crossJoins over the literal-ADC arms (r10)
    "t_bm25_topk",  # same 1-row (n_docs, total_dl) crossJoin as t_idf
    # 1-row top-merge broadcast over the vocabulary-sized word state +
    # the 1-row × 1-row doc/word metric crossJoin (r11)
    "t_bpe_apply",
    # 8-row probe grid × ≤8-row rank histograms (cumulative non-equi
    # join) + the 1-row denominator crossJoin; the exact tier is the
    # allowlisted sim_bruteforce_topk broadcast scan (r11)
    "sim_ivf_probe_curve",
}

# queries whose POINT is reading every column (data profiling)
FULL_WIDTH_OK = {"t_profile_columns"}

# queries that must show non-empty PushedFilters on a parquet scan
PUSHDOWN_REQUIRED = {"s5_scan_prune", "q1_pricing_summary", "q3_top_revenue_orders"}

TABLE_WIDTHS = {
    "region": 2,
    "nation": 3,
    "customer": 5,
    "supplier": 4,
    "part": 6,
    "orders": 6,
    "lineitem": 11,
    "events": 6,
    "documents": 5,
    "embeddings": 3,
}


# plan nodes that run Python: Arrow/Pandas evaluation, and the scan of a
# Python-row RDD (a list-built frame), which cold-starts workers too. That
# scan is a `Scan ExistingRDD` whose RDD was made by applySchemaToPythonRDD;
# a `materialize` checkpoint is a `Scan ExistingRDD` too, but of JVM rows
# made at localCheckpoint/checkpoint, so it is matched by creation site
PYTHON_NODES = (
    r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|BatchEvalPython"
    r"|applySchemaToPythonRDD"
)


def analyze(name: str, plan: str) -> dict:
    scans = []
    for m in re.finditer(
        r"Location: InMemoryFileIndex \[[^\]]*?/(\w+)\.parquet\].*?ReadSchema: struct<([^\n]*)>",
        plan,
        re.S,
    ):
        tbl = m.group(1)
        ncols = len([c for c in m.group(2).split(",") if ":" in c])
        scans.append((tbl, ncols))
    return {
        "name": name,
        "scans": scans,
        "shuffles": len(re.findall(r"\bExchange\b|\(\d+\) Exchange", plan)),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "python": len(re.findall(PYTHON_NODES, plan)),
        "codegen": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "pushed": bool(re.search(r"PushedFilters: \[[^\]]+\]", plan)),
    }


def violations(a: dict) -> list[str]:
    out = []
    if a["cartesian"]:
        out.append("CartesianProduct in plan")
    if a["bnlj"] and a["name"] not in BNLJ_OK:
        out.append("unexpected BroadcastNestedLoopJoin")
    if a["python"] and a["name"] not in PY_OK:
        out.append("Python node in a non-UDF query")
    if a["name"] in PUSHDOWN_REQUIRED and not a["pushed"]:
        out.append("no PushedFilters on a filter query")
    for tbl, ncols in a["scans"]:
        width = TABLE_WIDTHS.get(tbl)
        if (
            width
            and ncols >= width
            and tbl in ("lineitem", "documents")
            and a["name"] != "s9_wide_csv"
            and a["name"] not in FULL_WIDTH_OK
        ):
            out.append(f"full-width scan of {tbl} ({ncols} cols)")
    return out


def main() -> int:
    import __spark_entry__ as e
    from securities_data_pipeline_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("plan-audit")
    jvm = spark._sc._jvm

    rows, all_viol = [], []
    for name, fn in sorted(e.queries().items()):
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        except Exception as ex:
            rows.append({"name": name, "error": str(ex)[:120]})
            all_viol.append((name, f"explain failed: {ex}"))
            continue
        a = analyze(name, plan)
        a["viol"] = violations(a)
        rows.append(a)
        all_viol.extend((name, v) for v in a["viol"])

    lines = [
        "# PLANS — physical-plan audit",
        "",
        f"Audited at `{sf_dir}` by `tools/audit_plans.py`; regenerate after",
        "any plan-shaping change. Columns: parquet scans (table:cols-read),",
        "shuffle exchanges, broadcast-hash / sort-merge / nested-loop joins,",
        "Python nodes (eval and Python-row scans), whole-stage-codegen spans,",
        "scan pushdown.",
        "",
        "| query | scans | xchg | BHJ | SMJ | BNLJ | py | wscg | pushed | violations |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for a in rows:
        if "error" in a:
            lines.append(f"| {a['name']} | ERROR: {a['error']} | | | | | | | | |")
            continue
        scans = " ".join(f"{t}:{n}" for t, n in a["scans"]) or "—"
        lines.append(
            f"| {a['name']} | {scans} | {a['shuffles']} | {a['bhj']} | {a['smj']} "
            f"| {a['bnlj']} | {a['python']} | {a['codegen']} | {'y' if a['pushed'] else ''} "
            f"| {'; '.join(a['viol']) or ''} |"
        )
    lines += ["", f"**{len(all_viol)} violations**"]
    report = "\n".join(lines) + "\n"
    if not only:
        with open("PLANS.md", "w") as f:
            f.write(report)
    print(report)
    return 1 if all_viol else 0


if __name__ == "__main__":
    raise SystemExit(main())
