"""BM25 retrieval + common-neighbors link prediction.

Value parity vs DuckDB is the oracle gate's job; these tests pin the
MATH independently: BM25 against a pure-Python re-computation from the
raw parquet, link prediction against a hand-built graph with known
answers.
"""

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from securities_data_pipeline_spark.operators.dedup import common_neighbor_links
from securities_data_pipeline_spark.operators.textops import (
    BM25_B,
    BM25_K1,
    BM25_QUERY_TERMS,
    BM25_TOPK,
    t_bm25_topk,
)

SF = "/root/testdata/sf0.001"


def _bm25_python(sf_dir: str) -> dict[str, float]:
    """Independent BM25 in plain Python over the same parquet — no
    Spark, no DuckDB, no shared code with the operator."""
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")[["doc_id", "text"]]
    toks = {
        r.doc_id: [w for w in str(r.text).strip().lower().split() if w != ""]
        for r in docs.itertuples()
        if r.text is not None
    }
    n_docs = len(toks)
    total_dl = sum(len(v) for v in toks.values())
    avgdl = total_dl / n_docs
    df = {
        t: sum(1 for v in toks.values() if t in v) for t in BM25_QUERY_TERMS
    }
    scores: dict[str, float] = {}
    for doc, words in toks.items():
        score_u = 0
        matched = False
        for t in BM25_QUERY_TERMS:
            tf = words.count(t)
            if tf == 0:
                continue
            matched = True
            idf = math.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
            contrib = (
                idf
                * tf
                * (BM25_K1 + 1.0)
                / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * len(words) / avgdl))
            )
            score_u += math.floor(contrib * 1_000_000.0 + 0.5)
        if matched:
            scores[doc] = score_u / 1_000_000.0
    return scores


def test_bm25_matches_pure_python(spark):
    got = {r.doc_id: (r.bm25, r.n_terms_matched) for r in t_bm25_topk(spark, SF).collect()}
    assert 0 < len(got) <= BM25_TOPK
    expected = _bm25_python(SF)
    top = sorted(expected.items(), key=lambda kv: (-kv[1], kv[0]))[: len(got)]
    assert {d for d, _ in top} == set(got)
    for doc, s in top:
        assert got[doc][0] == pytest.approx(s, abs=1e-9)
        assert 1 <= got[doc][1] <= len(BM25_QUERY_TERMS)


def test_bm25_output_is_rank_ordered(spark):
    out = t_bm25_topk(spark, SF).collect()
    keys = [(-r.bm25, r.doc_id) for r in out]
    assert keys == sorted(keys)


def test_quality_logreg_matches_pure_python(spark):
    """Re-run the exact GD scheme in plain Python over the raw parquet
    — independent of Spark AND DuckDB. Exactness means the trained
    weights must agree to the last micro-unit."""
    from securities_data_pipeline_spark.operators.curation import (
        LOGREG_ITERS,
        LOGREG_TARGET,
        _halfup_div,
        t_quality_logreg,
    )
    from securities_data_pipeline_spark.operators.textops import STOPWORDS

    docs = pd.read_parquet(f"{SF}/documents.parquet")[["text", "source"]]
    rows = []
    for r in docs.itertuples():
        if r.text is None:
            continue
        toks = str(r.text).strip().lower().split()
        # Spark's split on '' yields [''] — size 1; Python split yields []
        nt = len(toks) if toks else 1
        sw = sum(1 for t in toks if t in STOPWORDS)
        rows.append((1 if r.source == LOGREG_TARGET else 0, nt / 100.0, sw / (nt + 1)))
    n = len(rows)
    w = [0, 0, 0]
    for _ in range(LOGREG_ITERS):
        s = [0, 0, 0]
        for y, x1, x2 in rows:
            z = w[0] / 1e6 + w[1] / 1e6 * x1 + w[2] / 1e6 * x2
            r_ = y - 1.0 / (1.0 + math.exp(-z))
            for j, x in enumerate((1.0, x1, x2)):
                s[j] += math.floor(r_ * x * 1_000_000.0 + 0.5)
        for j in range(3):
            w[j] += _halfup_div(s[j], 2 * n)
    got = {r.feature: (r.weight, r.n_train) for r in t_quality_logreg(spark, SF).collect()}
    assert got == {
        "bias": (w[0] / 1e6, n),
        "tokens_per_100": (w[1] / 1e6, n),
        "stopword_ratio": (w[2] / 1e6, n),
    }


def test_common_neighbors_hand_graph(spark):
    # square with one diagonal: 1-2, 1-3, 2-3, 2-4, 3-4.
    # Only non-edge: (1,4) with common neighbors {2,3} -> cn=2;
    # deg(1)=2, deg(4)=2 -> jaccard = 2/(2+2-2) = 1.0
    edges = spark.createDataFrame(
        [("1", "2"), ("1", "3"), ("2", "3"), ("2", "4"), ("3", "4")],
        ["doc_a", "doc_b"],
    )
    out = common_neighbor_links(edges).collect()
    assert [(r.doc_a, r.doc_b, r.cn, r.jaccard) for r in out] == [("1", "4", 2, 1.0)]


def test_common_neighbors_excludes_existing_edges(spark):
    # triangle: every 2-path closes -> no predicted links at all
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], ["doc_a", "doc_b"]
    )
    assert common_neighbor_links(edges).count() == 0


def test_leakage_free_split_never_splits_a_cluster(spark):
    """The property t_split_leakage_free exists for: no near-dup
    component may span two splits (doc-level splits leak paraphrases
    across train/test; component-level ones cannot)."""
    from pyspark.sql import functions as F

    from securities_data_pipeline_spark.operators.dedup import (
        connected_components,
        lsh_candidate_pairs,
    )
    from securities_data_pipeline_spark.operators.sampling import (
        split_col,
        t_split_leakage_free,
    )
    from securities_data_pipeline_spark.sources.tables import table

    docs = table(spark, SF, "documents")
    labels = connected_components(
        lsh_candidate_pairs(docs), docs.select("doc_id")
    ).select("doc_id", "component", split_col(F.col("component").cast("string")).alias("split"))
    spans = (
        labels.groupBy("component")
        .agg(F.countDistinct("split").alias("n_splits"))
        .where(F.col("n_splits") > 1)
        .count()
    )
    assert spans == 0

    # and the manifest accounts for every doc and every cluster exactly once
    out = t_split_leakage_free(spark, SF).collect()
    assert sum(r.n_docs for r in out) == docs.count()
    n_components = labels.select("component").distinct().count()
    assert sum(r.n_clusters for r in out) == n_components


def test_common_neighbors_topk_cut_is_deterministic(spark):
    # star around h: every leaf pair is a non-edge with cn=1; the
    # top-k cut must take the lexicographically first pairs
    leaves = [str(i) for i in range(1, 8)]
    edges = spark.createDataFrame(
        [("h", x) if "h" < x else (x, "h") for x in leaves], ["doc_a", "doc_b"]
    )
    out = common_neighbor_links(edges, topk=5).collect()
    got = [(r.doc_a, r.doc_b) for r in out]
    import itertools

    expected = sorted(itertools.combinations(sorted(leaves), 2))[:5]
    assert got == [tuple(p) for p in expected]


def test_capped_common_neighbors_caps_hub_adjacency(spark):
    """VERDICT r7 #3: the hub's adjacency must truncate to its top
    max_nbrs neighbors BEFORE wedge expansion. Star around h with 7
    leaves, uniform priority: cap 2 keeps leaves '1','2' (tiebreak =
    nbr ascending), so the only wedge left is (1, h, 2) -> one
    predicted link, vs C(7,2)=21 uncapped."""
    from securities_data_pipeline_spark.operators.dedup import (
        common_neighbor_links_capped,
    )

    leaves = [str(i) for i in range(1, 8)]
    edges = spark.createDataFrame(
        [("h", x, 1) if "h" < x else (x, "h", 1) for x in leaves],
        ["doc_a", "doc_b", "priority"],
    )
    out = common_neighbor_links_capped(edges, max_nbrs=2).collect()
    assert [(r.doc_a, r.doc_b, r.cn) for r in out] == [("1", "2", 1)]
    # jaccard runs on the CAPPED graph: deg(1)=deg(2)=1 -> 1/(1+1-1)
    assert out[0].jaccard == 1.0


def test_scored_lsh_pairs_priority_is_per_slot_agreement(spark):
    """The packed-array agreement fold (optimization round 11) must
    equal a plain per-slot equality count recomputed in Python from
    the signature table — pins the array/zip_with form against the
    definition the 128-column CASE chain implemented."""
    from securities_data_pipeline_spark.operators.dedup import (
        N_MINHASH,
        minhash_signatures,
        scored_lsh_pairs,
    )
    from securities_data_pipeline_spark.sources.tables import table

    docs = table(spark, SF, "documents")
    sig = {
        r["doc_id"]: [r[f"mh{s}"] for s in range(N_MINHASH)]
        for r in minhash_signatures(docs).collect()
    }
    out = scored_lsh_pairs(docs).collect()
    assert out, "fixture corpus must produce at least one LSH pair"
    for r in out:
        want = sum(
            1
            for x, y in zip(sig[r.doc_a], sig[r.doc_b])
            if x is not None and y is not None and x == y
        )
        assert r.priority == want, (r.doc_a, r.doc_b, r.priority, want)


def test_capped_common_neighbors_priority_picks_survivors(spark):
    """Higher-priority (more similar) neighbors survive the cap; the
    tiebreak never overrides a real priority difference."""
    from securities_data_pipeline_spark.operators.dedup import (
        common_neighbor_links_capped,
    )

    # hub h: leaves 5,6 carry priority 9; leaves 1..4 priority 1
    edges = spark.createDataFrame(
        [("h", x, 9) for x in ("x5", "x6")]
        + [("h", x, 1) for x in ("x1", "x2", "x3", "x4")],
        ["doc_a", "doc_b", "priority"],
    )
    out = common_neighbor_links_capped(edges, max_nbrs=2).collect()
    assert [(r.doc_a, r.doc_b, r.cn) for r in out] == [("x5", "x6", 1)]


def test_capped_equals_exact_when_cap_exceeds_degrees(spark):
    """With max_nbrs >= max degree nothing is sacrificed: the capped
    tier must reproduce the exact tier bit-for-bit."""
    from securities_data_pipeline_spark.operators.dedup import (
        common_neighbor_links_capped,
    )

    # square with one diagonal (the exact tier's hand graph)
    raw = [("1", "2"), ("1", "3"), ("2", "3"), ("2", "4"), ("3", "4")]
    edges = spark.createDataFrame(raw, ["doc_a", "doc_b"])
    scored = spark.createDataFrame(
        [(a, b, 1) for a, b in raw], ["doc_a", "doc_b", "priority"]
    )
    exact = [
        (r.doc_a, r.doc_b, r.cn, r.jaccard)
        for r in common_neighbor_links(edges).collect()
    ]
    capped = [
        (r.doc_a, r.doc_b, r.cn, r.jaccard)
        for r in common_neighbor_links_capped(scored, max_nbrs=100).collect()
    ]
    assert capped == exact == [("1", "4", 2, 1.0)]


def test_capped_cn_never_exceeds_exact_cn(spark):
    """Property on a dense deterministic graph (the near-dup graph of
    the small test corpora is too sparse to exercise the cap — 0-1
    predicted links): the capped graph is a subgraph of the exact one,
    so for any pair present in both outputs the capped common-neighbor
    count can never exceed the exact count — the sacrifice only
    removes wedges, never invents them — and the capped jaccard
    denominator uses the CAPPED degrees."""
    from securities_data_pipeline_spark.operators.dedup import (
        common_neighbor_links,
        common_neighbor_links_capped,
    )

    n = 30
    raw = sorted(
        {
            (min(i, j), max(i, j))
            for i in range(n)
            for j in (i + 1, i + 2, i + 3, (i * 7 + 5) % n)
            if i != j
        }
    )
    edges = spark.createDataFrame(
        [(f"{a:02d}", f"{b:02d}") for a, b in raw], ["doc_a", "doc_b"]
    )
    scored = spark.createDataFrame(
        [(f"{a:02d}", f"{b:02d}", (a * b) % 7) for a, b in raw],
        ["doc_a", "doc_b", "priority"],
    )
    exact = {
        (r.doc_a, r.doc_b): r.cn
        for r in common_neighbor_links(edges, topk=10000).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.cn
        for r in common_neighbor_links_capped(
            scored, topk=10000, max_nbrs=2
        ).collect()
    }
    assert exact and capped, (len(exact), len(capped))
    assert len(capped) < len(exact)  # cap 2 on a degree>=4 graph bites
    for pair, cn in capped.items():
        assert pair in exact, f"capped invented non-edge {pair}"
        assert cn <= exact[pair], (pair, cn, exact[pair])


def test_banding_curve_est_dups_is_per_slot_agreement(spark):
    """The banding curve's packed-array agreement fold (optimization
    round 12 — the scored_lsh_pairs form applied to the calibration
    report) must equal a plain per-slot equality count recomputed in
    Python: for each geometry, n_est_dups = #candidate pairs whose
    signatures agree on >= CURVE_EST_MIN slots."""
    from securities_data_pipeline_spark.operators.dedup import (
        CURVE_EST_MIN,
        CURVE_GEOMETRIES,
        N_MINHASH,
        banded_signatures,
        bucket_pairs,
        dedup_banding_curve,
        minhash_signatures,
    )
    from securities_data_pipeline_spark.sources.tables import table

    docs = table(spark, SF, "documents")
    sigdf = minhash_signatures(docs)
    sig = {
        r["doc_id"]: [r[f"mh{s}"] for s in range(N_MINHASH)]
        for r in sigdf.collect()
    }
    got = {
        (r.bands, r.rows_per_band): (r.n_candidates, r.n_est_dups)
        for r in dedup_banding_curve(spark, SF).collect()
    }
    assert set(got) == set(CURVE_GEOMETRIES)
    for bands, rows_ in CURVE_GEOMETRIES:
        pairs = [
            (r.doc_a, r.doc_b)
            for r in bucket_pairs(banded_signatures(sigdf, bands)).collect()
        ]
        want_est = sum(
            1
            for a, b in pairs
            if sum(
                1
                for x, y in zip(sig[a], sig[b])
                if x is not None and y is not None and x == y
            )
            >= CURVE_EST_MIN
        )
        assert got[(bands, rows_)] == (len(pairs), want_est), (
            bands,
            rows_,
            got[(bands, rows_)],
            (len(pairs), want_est),
        )


@pytest.mark.parametrize(
    "query",
    [
        "dedup_components",  # component-loop round state
        "t_fluency_buckets",  # eager pin of range-partition ids
        "t_bpe_train",  # BPE word state under a driver round loop
        "t_quality_logreg",  # GD feature table scanned once per step
    ],
)
def test_materialize_reliable_mode_matches_default(spark, tmp_path, monkeypatch, query):
    """SPARK_GRAFT_MATERIALIZE=reliable must route every pin of the
    query through DataFrame.checkpoint into SPARK_GRAFT_CHECKPOINT_DIR —
    same rows as the default localCheckpoint path, checkpoint files
    actually written, and ONE checkpoint subdirectory however many pins
    the query makes (the directory is set once, not per call)."""
    import os

    from securities_data_pipeline_spark.registry import all_queries

    fn = all_queries()[query]

    def collect():
        return sorted((tuple(r) for r in fn(spark, SF).collect()), key=repr)

    want = collect()
    ckpt = str(tmp_path / "reliable_ckpt")
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "reliable")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ckpt)
    assert collect() == want
    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(ckpt)
        for f in fs
    ]
    assert files, f"reliable mode wrote no checkpoint files for {query}"
    assert len(os.listdir(ckpt)) == 1, os.listdir(ckpt)


def test_materialize_reliable_mode_requires_checkpoint_dir(spark, monkeypatch):
    """Reliable mode with no checkpoint directory fails at the pin, with
    an error naming the missing variable — not later inside Spark."""
    from securities_data_pipeline_spark.sources.tables import materialize

    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "reliable")
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CHECKPOINT_DIR"):
        spark.range(3).transform(materialize)
