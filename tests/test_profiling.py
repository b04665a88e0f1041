"""Profiling + graph-census operators: semantic invariants at sf0.001.
Value parity vs DuckDB is covered by tools/check_oracle.py at sf0.01."""

from pyspark.sql import functions as F

from securities_data_pipeline_spark.operators.dedup import (
    dedup_triangle_stats,
    lsh_candidate_pairs,
)
from securities_data_pipeline_spark.operators.profiling import (
    t_len_percentiles,
    t_profile_columns,
)
from securities_data_pipeline_spark.sources.tables import table

SF = "/root/testdata/sf0.001"


def test_profile_covers_every_column_once(spark):
    rows = t_profile_columns(spark, SF).collect()
    docs = table(spark, SF, "documents")
    assert sorted(r.col_name for r in rows) == sorted(docs.columns)
    n = docs.count()
    for r in rows:
        assert r.n_rows == n
        assert 0 <= r.n_null <= n
        assert 1 <= r.n_distinct <= n - r.n_null
        # min/max must be actual values of the column
        vals = {
            str(v[0])
            for v in docs.select(r.col_name).where(
                F.col(r.col_name).isNotNull()
            ).collect()
        }
        assert r.min_repr in vals and r.max_repr in vals


def test_profile_distinct_matches_direct(spark):
    rows = {r.col_name: r for r in t_profile_columns(spark, SF).collect()}
    docs = table(spark, SF, "documents")
    for c in docs.columns:
        direct = docs.select(c).where(F.col(c).isNotNull()).distinct().count()
        assert rows[c].n_distinct == direct, c


def test_len_percentiles_are_order_statistics(spark):
    out = {r.lang: r for r in t_len_percentiles(spark, SF).collect()}
    docs = table(spark, SF, "documents").select("lang", "n_chars").collect()
    by_lang: dict[str, list[int]] = {}
    for r in docs:
        by_lang.setdefault(r.lang, []).append(r.n_chars)
    assert set(out) == set(by_lang)
    for lang, xs in by_lang.items():
        xs.sort()
        n = len(xs)
        r = out[lang]
        assert r.n_docs == n
        # nearest-rank: p-th percentile = value at rank ceil(p*n)
        assert r.p50 == xs[(n + 1) // 2 - 1]
        assert r.p90 == xs[(9 * n + 9) // 10 - 1]
        assert r.p99 == xs[(99 * n + 99) // 100 - 1]
        assert r.p50 <= r.p90 <= r.p99


def test_triangle_stats_invariants(spark):
    r = dedup_triangle_stats(spark, SF).collect()[0]
    # every triangle contains exactly 3 wedges
    assert 3 * r.n_triangles <= r.n_wedges
    if r.n_wedges:
        assert abs(r.transitivity - 3.0 * r.n_triangles / r.n_wedges) < 1e-12
        assert 0.0 <= r.transitivity <= 1.0
    else:
        assert r.transitivity is None


def test_triangle_count_matches_bruteforce(spark):
    """Exact triangle count vs a driver-side brute force over the
    (small at sf0.001) candidate-pair graph."""
    pairs = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(table(spark, SF, "documents")).collect()
    }
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    brute = (
        sum(
            1
            for a, b in pairs
            for c in adj[a] & adj[b]
        )
        // 3
    ) if pairs else 0
    # each triangle counted once per edge (3x), but only for c in the
    # intersection — each unordered triangle {a,b,c} is hit via its 3
    # edges, so divide by 3
    r = dedup_triangle_stats(spark, SF).collect()[0]
    assert r.n_triangles == brute
    wedges = sum(len(v) * (len(v) - 1) // 2 for v in adj.values())
    assert r.n_wedges == wedges


def test_incremental_matches_pairwise_restriction(spark):
    """dedup_incremental must equal the full pair set restricted to
    (new, corpus) pairs — same LSH geometry, asymmetric output."""
    from securities_data_pipeline_spark.operators.dedup import (
        INCR_NEW_MOD,
        INCR_NEW_REM,
        dedup_incremental,
        lsh_candidate_pairs,
    )

    pairs = lsh_candidate_pairs(table(spark, SF, "documents")).collect()
    want: dict[int, set[int]] = {}
    for r in pairs:
        for new, corp in ((r.doc_a, r.doc_b), (r.doc_b, r.doc_a)):
            if new % INCR_NEW_MOD == INCR_NEW_REM and corp % INCR_NEW_MOD != INCR_NEW_REM:
                want.setdefault(new, set()).add(corp)
    got = {r.new_id: r for r in dedup_incremental(spark, SF).collect()}
    assert set(got) == set(want)
    for nid, cands in want.items():
        assert got[nid].best_match == min(cands)
        assert got[nid].n_candidates == len(cands)


def test_mm_near_dedup_pairs_are_within_radius(spark):
    """Every emitted pair must be within HAMMING_MAX of the byte-gram
    sketch, and exact payload duplicates (if any) must always collide
    (distance 0 ≤ radius)."""
    from securities_data_pipeline_spark.operators.dedup import HAMMING_MAX
    from securities_data_pipeline_spark.operators.multimodal import mm_near_dedup

    rows = mm_near_dedup(spark, SF).collect()
    assert all(0 <= r.hamming <= HAMMING_MAX for r in rows)
    assert all(r.doc_a < r.doc_b for r in rows)
