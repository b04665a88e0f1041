"""Corpus-curation operators: repetition filtering, benchmark
decontamination, quantile quality gating, and k-means clustering.

The standard curation stages of a large-scale training-data pipeline
(BASELINE.json north star), beyond the sketch-dedup family in
``operators/dedup.py``:

- **Repetition filter** (Gopher-style): per-document duplicate-word
  fraction and top-bigram coverage; documents dominated by repeated
  n-grams are flagged. Two-level aggregate — (doc, bigram-hash) counts
  partial-combine map-side, then a per-doc max — so only 16-byte
  (doc_id, hash) pairs ever shuffle, never text.
- **Decontamination**: flags training documents sharing any word
  8-gram with a benchmark split (here: ``source = 'src0'``). The
  benchmark's distinct gram hashes broadcast (a benchmark is small by
  definition), so the 100 TB training side joins without shuffling its
  grams; the per-doc match count partial-aggregates map-side.
- **Quality gate**: keeps documents at or above the corpus median
  quality score. Exact ``percentile`` keeps the oracle bit-exact; at
  real scale swap for ``approx_percentile`` (same plan shape, bounded
  memory) — the threshold is a one-row broadcast either way.
- **k-means**: Lloyd's algorithm with deterministic seeding (the
  first ``K`` vectors), a fixed iteration count, and 6-dp rounding of
  centroids/distances so Spark and the SQL oracle agree bit-for-bit.
  Idiomatic Spark k-means: centroids live on the driver (k×d doubles),
  each iteration is ONE linear scan + a k-group element-wise average;
  the assignment kernel is an Arrow-vectorized pandas UDF (numpy
  batch×k×d broadcast), the blessed shape for custom numeric ops
  that Catalyst's built-ins can't express efficiently.

The reference has no curation surface (it is a securities ETL —
SURVEY §2.10); these extend the engine per the north star. Quality
scoring reuses ``operators/textops.py`` so both engines share one
definition.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from securities_data_pipeline_spark.functions.gates import SQL_EMB_OK, guard_table_sql
from securities_data_pipeline_spark.functions.hashing import (
    seeded_hash64,
    sql_stable_hash64,
    stable_hash64,
)
from securities_data_pipeline_spark.operators.textops import (
    _sql_quality,
    _sql_round6_ratio,
    _sql_words,
    quality_score,
    round6_ratio,
    words_col,
)
from securities_data_pipeline_spark.sources.tables import local_rows, materialize, spread, table

# ---------------------------------------------------------------------------
# repetition filter (Gopher-style duplicate-text heuristics)

DUP_WORD_MAX = 0.7  # flag when >70% of tokens are repeats
TOP_BIGRAM_MAX = 0.18  # flag when the top bigram covers >18% of tokens


def t_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition stats + flag.

    ``dup_word_frac`` = 1 − distinct/total tokens; ``top_bigram_frac``
    = tokens covered by the single most frequent bigram (count × 2 /
    n_tokens). Bigrams aggregate by 60-bit stable hash, not string —
    at 100 TB the only wide thing in this plan is the text scan
    itself.
    """
    docs = table(spark, sf_dir, "documents")
    # two consumers (stats + bigrams) of the tokenized scan — but NOT
    # materialized: the tokenized arrays are FATTER than the source
    # text, so materializing them writes more bytes than the second
    # scan+split recomputes (A/B at sf0.1: checkpoint 0.56s vs
    # recompute 0.32s, BASELINE.md r5). The two-consumer
    # materialization rule (PLANS.md) applies when the shared prefix
    # SHRINKS the data or burns real compute; a split on an
    # already-columnar string column does neither.
    # spread: the split runs twice (stats + bigrams), all per-row CPU
    # on what is otherwise one input partition (A/B sf0.1: 1.50->0.89 s)
    base = spread(docs).select("doc_id", words_col().alias("ws"))
    stats = base.select(
        "doc_id",
        F.size("ws").alias("n_tokens"),
        F.size(F.array_distinct("ws")).alias("n_unique"),
    )
    # NB: F.sequence(1, 0) is DESCENDING [1, 0] — a one-token document
    # (size-1 = 0) would then index element_at(ws, 0) and crash the
    # whole query with INVALID_ARRAY_INDEX; guard like _gram_hashes
    # does (the oracle's range(1, 1) is empty for the same doc)
    bigram_idx = F.when(
        F.size("ws") >= 2, F.sequence(F.lit(1), F.size("ws") - 1)
    ).otherwise(F.array().cast("array<int>"))
    bigrams = base.select(
        "doc_id",
        F.explode(
            F.transform(
                bigram_idx,
                lambda i: stable_hash64(
                    F.concat_ws(" ", F.element_at("ws", i), F.element_at("ws", i + 1))
                ),
            )
        ).alias("bh"),
    )
    top = (
        bigrams.groupBy("doc_id", "bh")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bi"))
    )
    # integer half-up rounding (round6_ratio) — round(double, 6) is
    # engine-divergent on 6-dp half-way boundaries
    dup_frac = round6_ratio(F.col("n_tokens") - F.col("n_unique"), F.col("n_tokens"))
    top_frac = round6_ratio(
        F.lit(2) * F.coalesce(F.col("top_bi"), F.lit(0)), F.col("n_tokens")
    )
    return (
        stats.join(top, "doc_id", "left")
        .select(
            "doc_id",
            dup_frac.alias("dup_word_frac"),
            top_frac.alias("top_bigram_frac"),
            (
                (dup_frac > F.lit(DUP_WORD_MAX)) | (top_frac > F.lit(TOP_BIGRAM_MAX))
            ).alias("repetitive"),
        )
    )


_BIGRAM_HASH_SQL = sql_stable_hash64("concat(w[i], ' ', w[i+1])")

T_REPETITION_SQL = f"""
WITH ws AS MATERIALIZED (
  SELECT doc_id, {_sql_words()} AS w FROM documents
), stats AS (
  SELECT doc_id, len(w) AS n_tokens, len(list_distinct(w)) AS n_unique FROM ws
), bi AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w)), i -> {_BIGRAM_HASH_SQL})) AS bh
  FROM ws
), top AS (
  SELECT doc_id, max(c) AS top_bi
  FROM (SELECT doc_id, bh, COUNT(*) AS c FROM bi GROUP BY doc_id, bh)
  GROUP BY doc_id
)
SELECT s.doc_id,
       {_sql_round6_ratio('n_tokens - n_unique', 'n_tokens')} AS dup_word_frac,
       {_sql_round6_ratio('2 * coalesce(top_bi, 0)', 'n_tokens')} AS top_bigram_frac,
       ({_sql_round6_ratio('n_tokens - n_unique', 'n_tokens')} > {DUP_WORD_MAX}
        OR {_sql_round6_ratio('2 * coalesce(top_bi, 0)', 'n_tokens')} > {TOP_BIGRAM_MAX})
         AS repetitive
FROM stats s LEFT JOIN top USING (doc_id)
"""


# ---------------------------------------------------------------------------
# benchmark decontamination (word 8-gram overlap)

DECON_N = 8  # word n-gram length
BENCH_SOURCE = "src0"  # the held-out "benchmark" split


def _gram_hashes(ws: Column | str = "ws", n: int = DECON_N) -> Column:
    """Distinct md5 hashes of the word n-grams of a token array."""
    c = F.col(ws) if isinstance(ws, str) else ws
    return F.array_distinct(
        F.when(
            F.size(c) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(c) - (n - 1)),
                lambda i: F.md5(F.concat_ws(" ", F.slice(c, i, n))),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )


def t_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-training-document count of word 8-grams shared with the
    benchmark split (``source = 'src0'``), plus the contamination flag.

    The benchmark's distinct gram set broadcasts; training grams are
    generated in the projection and never shuffled — only the matched
    (doc_id, gram) rows reach the per-doc count, which
    partial-aggregates map-side. The canonical test-set-overlap
    decontamination pass of an LLM data pipeline, as one scan over the
    corpus.
    """
    docs = table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "source", words_col().alias("ws"))
    bench_grams = (
        base.where(F.col("source") == BENCH_SOURCE)
        .select(F.explode(_gram_hashes()).alias("g"))
        .distinct()
    )
    train = base.where(F.col("source") != BENCH_SOURCE)
    shared = (
        train.select("doc_id", F.explode(_gram_hashes()).alias("g"))
        .join(F.broadcast(bench_grams), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        train.select("doc_id")
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias("n_shared"),
            (F.coalesce(F.col("n_shared"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


T_DECONTAMINATE_SQL = f"""
WITH ws AS MATERIALIZED (
  SELECT doc_id, source, {_sql_words()} AS w FROM documents
), grams AS MATERIALIZED (
  SELECT doc_id, source,
         unnest(list_distinct(
           CASE WHEN len(w) >= {DECON_N}
                THEN list_transform(range(1, len(w) - {DECON_N - 1} + 1),
                                    i -> md5(array_to_string(w[i : i + {DECON_N - 1}], ' ')))
                ELSE []::VARCHAR[] END)) AS g
  FROM ws
), bench AS (
  SELECT DISTINCT g FROM grams WHERE source = '{BENCH_SOURCE}'
), shared AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM grams JOIN bench USING (g)
  WHERE grams.source <> '{BENCH_SOURCE}'
  GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(n_shared, 0) AS n_shared,
       coalesce(n_shared, 0) > 0 AS contaminated
FROM documents d LEFT JOIN shared USING (doc_id)
WHERE d.source <> '{BENCH_SOURCE}'
"""


# ---------------------------------------------------------------------------
# Bloom-filter decontamination — the 100 TB tier of t_decontaminate.
#
# t_decontaminate broadcasts the benchmark's full distinct-gram set as a
# join hash relation: correct, but a production eval suite's gram set
# runs to GBs, and every executor holds all of it. The bloom tier
# compresses the bench side to a fixed BLOOM_BITS/8-byte bitmap that
# ships inside the PLAN (a literal array<long>), and the probe is k
# getbit tests per gram inside a whole-stage-codegen projection —
# zero shuffle, zero join, zero Python. One-sided error: a clean doc
# may flag (fp rate ~ (1-e^{-kn/m})^k, the dial is BLOOM_BITS), a
# contaminated doc NEVER clears — so the bloom pass is the cheap
# first-stage filter and exact t_decontaminate re-checks only the
# flagged sliver. Probabilistic ⇒ library + pytest surface (no SQL
# oracle), like the HLL sketch: the test pins zero false negatives vs
# the exact op and a bounded fp count on a corpus 4× the bitmap's
# design load.
#
# The driver never sees gram text: bit POSITIONS are computed in Spark
# (same double-hash family as the probe, seeded md5 → int64, so build
# and probe agree by construction) and only the ≤ k·|bench grams|
# distinct ints collect.

BLOOM_BITS = 1 << 16  # 64 Kbit ⇒ 8 KiB bitmap in-plan
BLOOM_K = 4


def _bloom_positions(g: Column) -> list[Column]:
    """k bit positions for gram hash g via double hashing
    pos_i = (h1 + i·h2) mod m; h1,h2 < 2^60 so i·h2 + h1 < 2^63
    (no int64 overflow)."""
    h1, h2 = seeded_hash64(g, 101), seeded_hash64(g, 202)
    return [
        F.pmod(h1 + F.lit(i) * h2, F.lit(BLOOM_BITS)) for i in range(BLOOM_K)
    ]


def bloom_build(docs: DataFrame) -> list[int]:
    """Collect the benchmark split's bloom bitmap as BLOOM_BITS/64
    int64 words. Only distinct bit positions cross to the driver."""
    base = docs.select("source", words_col().alias("ws"))
    pos = (
        base.where(F.col("source") == BENCH_SOURCE)
        .select(F.explode(_gram_hashes()).alias("g"))
        .distinct()
        .select(F.explode(F.array(*_bloom_positions(F.col("g")))).alias("p"))
        .distinct()
    )
    words = [0] * (BLOOM_BITS // 64)
    for r in pos.collect():
        words[r.p // 64] |= 1 << (r.p % 64)
    # int64 literals must be signed
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_decontaminate(docs: DataFrame, words: list[int] | None = None) -> DataFrame:
    """Flag training docs whose gram set MAY overlap the benchmark
    split, via the in-plan bloom bitmap: per doc, ``F.exists`` over its
    gram array with k getbit probes — a single zero-shuffle projection."""
    if words is None:
        words = bloom_build(docs)
    # one parsed expression, not 1024 F.lit py4j round trips (~2 s of
    # driver latency per call — the skew.py bloom-join measurement)
    bloom = F.expr("array(" + ", ".join(f"{w}L" for w in words) + ")")

    def might_contain(g: Column) -> Column:
        tests = [
            F.getbit(
                F.element_at(bloom, (p / F.lit(64)).cast("int") + F.lit(1)),
                p % F.lit(64),
            )
            == F.lit(1)
            for p in _bloom_positions(g)
        ]
        out = tests[0]
        for t in tests[1:]:
            out = out & t
        return out

    train = docs.where(F.col("source") != BENCH_SOURCE)
    return train.select(
        "doc_id",
        F.exists(
            _gram_hashes(words_col()), might_contain
        ).alias("maybe_contaminated"),
    )


def t_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library surface for the bloom tier (pytest-pinned; the exact
    tier ``t_decontaminate`` is the oracle-checked twin)."""
    return bloom_decontaminate(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# quantile quality gate

SCORE_SCALE = 1_000_000  # 6-dp score → exact integer micro-units


def t_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents at or above the corpus-median quality score.

    The score is scaled to integer micro-units before the percentile,
    so the threshold and the comparison are exact in both engines (no
    float-interpolation drift). ``percentile`` is exact for oracle
    parity; the 100 TB swap-in is ``approx_percentile`` with the same
    one-row-broadcast plan shape. The scored projection feeds both the
    threshold aggregate and the filter — materialized once per the
    two-consumer rule (PLANS.md).
    """
    docs = table(spark, sf_dir, "documents")
    scored = (
        docs.select("doc_id", quality_score().alias("quality"))
        .withColumn(
            "si", F.round(F.col("quality") * SCORE_SCALE).cast("long")
        )
        .transform(materialize)
    )
    thr = scored.agg(F.expr("percentile(si, 0.5)").alias("thr"))
    return (
        scored.crossJoin(F.broadcast(thr))
        .where(F.col("si").cast("double") >= F.col("thr"))
        .select("doc_id", "quality")
    )


T_QUALITY_FILTER_SQL = f"""
WITH scored AS MATERIALIZED (
  SELECT doc_id, quality,
         CAST(round(quality * {SCORE_SCALE}) AS BIGINT) AS si
  FROM ({_sql_quality()}) q
)
SELECT doc_id, quality
FROM scored
WHERE CAST(si AS DOUBLE) >=
      (SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY si) FROM scored)
"""


# ---------------------------------------------------------------------------
# deterministic k-means over embeddings

KMEANS_K = 8
KMEANS_DIM = 64
KMEANS_ITERS = 2  # centroid updates; assignments run ITERS+1 times


def _assign(emb: DataFrame, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """Nearest-centroid id per vector; ties break to the lowest
    centroid id (``cents`` is sorted; numpy argmin keeps the first
    minimum, matching the oracle's ``ORDER BY dist, cid``).

    Arrow-vectorized pandas UDF, not a SQL expression: a per-centroid
    expression tree either inlines the centroid doubles (Catalyst
    constant-folds any literal indexing) and recompiles ~1 s of
    codegen per Lloyd iteration, or falls into interpreted
    higher-order-function evaluation (~μs/row·centroid). The numpy
    broadcast computes the full batch×k×d distance block at C speed,
    stays a narrow projection (no shuffle), and its closure re-ships
    per iteration for free — the idiomatic Spark shape for custom
    numeric kernels (MLlib's own k-means does the same with a
    broadcast centroid matrix). Distances round to 6 dp before the
    argmin so both engines' float paths agree. It stays separate from
    ``similarity._assign_literal``, the cosine kernel: the metric here
    is squared L2, and the float ``avg`` M-step's order is part of this
    query's DuckDB oracle contract.
    """
    cid_arr = np.array([cid for cid, _ in cents], dtype=np.int64)
    cmat = np.array([vec for _, vec in cents], dtype=np.float64)

    @F.pandas_udf("bigint")
    def nearest(batch: pd.Series) -> pd.Series:
        vmat = np.array(batch.tolist(), dtype=np.float64)
        dist = ((vmat[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2).round(6)
        return pd.Series(cid_arr[dist.argmin(axis=1)])

    return emb.select("vec_id", "v", nearest("v").alias("cid"))


def _kmeans_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's loop → final assignment WITH the vectors:
    (vec_id, v, cid). Shared by the plain assignment query and
    SemDeDup (which needs the vectors for within-cluster cosine
    without re-joining the corpus to itself on vec_id)."""
    from securities_data_pipeline_spark.operators.similarity import emb_table

    emb = (
        emb_table(spark, sf_dir)
        .select(
            "vec_id",
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
        )
        # iterated over ITERS+1 times — scan parquet once
        .transform(materialize, eager=True)
    )
    cents = [
        (int(r["vec_id"]), list(r["v"]))
        for r in emb.where(F.col("vec_id") < KMEANS_K).collect()
    ]
    cents.sort(key=lambda t: t[0])
    for _ in range(KMEANS_ITERS):
        assigned = _assign(emb, cents)
        # one F.expr per mean instead of four py4j builder calls each
        # (~200ms of driver build per iteration at d=64; optimization
        # round 11) — the SQL is term-for-term the previous Column form
        rows = (
            assigned.groupBy("cid")
            .agg(
                *[
                    F.expr(f"round(avg(element_at(v, {i + 1})), 6) AS m{i}")
                    for i in range(KMEANS_DIM)
                ]
            )
            .collect()
        )
        cents = sorted(
            (int(r["cid"]), [r[f"m{i}"] for i in range(KMEANS_DIM)]) for r in rows
        )
    return _assign(emb, cents)


def sim_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embedding table: K=8, seeded with the
    first 8 vectors, 2 centroid updates, final assignment returned as
    (vec_id, cluster).

    Per iteration: ONE linear scan computes assignments, then a
    K-group element-wise mean (64 ``avg`` columns) collects k×d
    doubles to the driver — the classic Spark k-means loop (MLlib's
    shape). Centroids re-enter the plan as broadcast literals, so no
    join and no shuffle beyond the k-group aggregate's partial
    combine. Centroid means round to 6 dp each update to keep both
    engines' float paths aligned.
    """
    return _kmeans_assigned(spark, sf_dir).select(
        "vec_id", F.col("cid").alias("cluster")
    )


def _sql_kmeans(k: int = KMEANS_K, d: int = KMEANS_DIM, iters: int = KMEANS_ITERS) -> str:
    def dist(v: str, cv: str) -> str:
        return (
            f"round(list_sum(list_transform(range(1, {d + 1}), "
            f"i -> ({v}[i]-{cv}[i])*({v}[i]-{cv}[i]))), 6)"
        )

    parts = [
        "WITH emb AS MATERIALIZED (",
        "  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v",
        "  FROM embeddings",
        "), c0 AS (",
        f"  SELECT vec_id AS cid, v AS cv FROM emb WHERE vec_id < {k}",
        ")",
    ]
    for it in range(iters):
        parts.append(
            f""", a{it} AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dist('e.v', 'c.cv')}, c.cid) AS rn
    FROM emb e CROSS JOIN c{it} c
  ) ranked WHERE rn = 1
), m{it} AS (
  SELECT cid, i, round(avg(v[i]), 6) AS m
  FROM a{it} CROSS JOIN range(1, {d + 1}) t(i)
  GROUP BY cid, i
), c{it + 1} AS (
  SELECT cid, list(m ORDER BY i) AS cv FROM m{it} GROUP BY cid
)"""
        )
    parts.append(
        f"""
SELECT vec_id, cid AS cluster FROM (
  SELECT e.vec_id, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {dist('e.v', 'c.cv')}, c.cid) AS rn
  FROM emb e CROSS JOIN c{iters} c
) final WHERE rn = 1"""
    )
    return "\n".join(parts)


# ---------------------------------------------------------------------------
# cluster-balanced sampling (diversity curation)

BALANCED_PER_CLUSTER = 16


def sim_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced subset selection — take ``BALANCED_PER_CLUSTER``
    vectors per k-means cluster by a deterministic hash priority. The
    DCLM-style diversity curation move: uniform sampling over-selects
    the dominant mode, per-cluster quotas keep the tails.

    Plan: the Lloyd assignment (``sim_kmeans_assign``) is a narrow
    projection; the quota is one rank window partitioned by cluster
    ordered by the stable id hash (shuffles (vec_id, cluster, 8-byte
    hash) only — never the vectors). At 100 TB with skewed cluster
    sizes, swap the window's per-cluster sort for a two-phase
    per-partition heap (the ``ranked_head`` shape) — same contract,
    bounded memory."""
    from pyspark.sql import Window

    assigned = sim_kmeans_assign(spark, sf_dir)
    pri = stable_hash64(F.col("vec_id").cast("string"))
    w = Window.partitionBy("cluster").orderBy(pri.asc(), F.col("vec_id").asc())
    return (
        assigned.withColumn("pick_rank", F.row_number().over(w))
        .where(F.col("pick_rank") <= BALANCED_PER_CLUSTER)
        .select("vec_id", "cluster", "pick_rank")
    )


def _sql_cluster_sample(m: int = BALANCED_PER_CLUSTER) -> str:
    pri = sql_stable_hash64("CAST(vec_id AS VARCHAR)")
    return f"""
SELECT vec_id, cluster, pick_rank FROM (
  SELECT vec_id, cluster,
         row_number() OVER (PARTITION BY cluster
                            ORDER BY {pri} ASC, vec_id ASC) AS pick_rank
  FROM ({_sql_kmeans()}) assign
) ranked WHERE pick_rank <= {m}
"""


# ---------------------------------------------------------------------------
# per-source frequency cap (domain capping)

SOURCE_CAP = 15  # max documents kept per source


def t_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source frequency cap — the web-crawl "domain capping" move:
    no single source may contribute more than ``SOURCE_CAP`` documents
    to the corpus, with the kept subset chosen by a deterministic hash
    priority (a seeded shuffle, not "first N by id", which would bias
    toward old crawl segments).

    Plan: one rank window partitioned by source over (source, doc_id,
    8-byte hash) — the text never shuffles; survivors join nothing.
    At 100 TB with million-document hot domains, swap the full
    per-source sort for a per-partition top-K heap feeding a final K·
    |sources| merge (the ranked_head shape) — same contract, bounded
    memory per reducer.
    """
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    pri = stable_hash64(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(pri.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "source")
        .withColumn("slot", F.row_number().over(w))
        .where(F.col("slot") <= SOURCE_CAP)
    )


T_SOURCE_CAP_SQL = f"""
SELECT doc_id, source, slot FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY {sql_stable_hash64("CAST(doc_id AS VARCHAR)")} ASC,
                                     doc_id ASC) AS slot
  FROM documents
) ranked WHERE slot <= {SOURCE_CAP}
"""


# ---------------------------------------------------------------------------
# curation funnel: staged filters with per-stage survivor accounting

FUNNEL_LANGS = ("en", "de", "fr")
FUNNEL_MIN_TOKENS = 20
FUNNEL_MAX_TOKENS = 4096
FUNNEL_QUALITY_MIN = 0.45
FUNNEL_DUP_MAX = 0.6


def t_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation run's report card: how many documents survive each
    filter stage (language → length → quality → repetition), applied
    cumulatively. Every production pipeline ships this accounting —
    a silent 90% drop at one stage is the #1 curation bug.

    All four predicates are per-document expressions (the lang column,
    token count, ``quality_score``, distinct-token ratio — no bigram
    aggregation), so the whole funnel is ONE narrow projection + ONE
    4-long-column aggregate: a single scan, zero shuffles beyond the
    final partial-combine. Output: one row per stage with survivors
    entering and leaving.
    """
    docs = table(spark, sf_dir, "documents")
    ws = words_col()
    n = F.size(ws)
    dup = round6_ratio(n - F.size(F.array_distinct(ws)), n)
    b1 = F.col("lang").isin(*FUNNEL_LANGS)
    b2 = b1 & n.between(FUNNEL_MIN_TOKENS, FUNNEL_MAX_TOKENS)
    b3 = b2 & (quality_score() >= F.lit(FUNNEL_QUALITY_MIN))
    b4 = b3 & (dup <= F.lit(FUNNEL_DUP_MAX))
    agg = docs.agg(
        F.count(F.lit(1)).alias("s0"),
        F.count_if(b1).alias("s1"),
        F.count_if(b2).alias("s2"),
        F.count_if(b3).alias("s3"),
        F.count_if(b4).alias("s4"),
    )
    return agg.select(
        F.expr(
            "stack(4, "
            "'1_language', s0, s1, "
            "'2_length',   s1, s2, "
            "'3_quality',  s2, s3, "
            "'4_repetition', s3, s4) AS (stage, n_in, n_out)"
        )
    )


_FUNNEL_BOOLS_SQL = f"""
  SELECT
    lang IN {FUNNEL_LANGS!r} AS b1,
    lang IN {FUNNEL_LANGS!r}
      AND len(w) BETWEEN {FUNNEL_MIN_TOKENS} AND {FUNNEL_MAX_TOKENS} AS b2,
    lang IN {FUNNEL_LANGS!r}
      AND len(w) BETWEEN {FUNNEL_MIN_TOKENS} AND {FUNNEL_MAX_TOKENS}
      AND quality >= {FUNNEL_QUALITY_MIN} AS b3,
    lang IN {FUNNEL_LANGS!r}
      AND len(w) BETWEEN {FUNNEL_MIN_TOKENS} AND {FUNNEL_MAX_TOKENS}
      AND quality >= {FUNNEL_QUALITY_MIN}
      AND {_sql_round6_ratio("len(w) - len(list_distinct(w))", "len(w)")}
          <= {FUNNEL_DUP_MAX} AS b4
  FROM (SELECT d.doc_id, d.lang, {_sql_words("d.text")} AS w, q.quality
        FROM documents d JOIN ({_sql_quality()}) q USING (doc_id))
"""

T_CURATION_FUNNEL_SQL = f"""
WITH b AS ({_FUNNEL_BOOLS_SQL}),
c AS (
  -- count_if returns HUGEINT in DuckDB; the driver hasher is
  -- type-sensitive, so pin every stage count to BIGINT
  SELECT COUNT(*) AS s0,
         CAST(count_if(b1) AS BIGINT) AS s1, CAST(count_if(b2) AS BIGINT) AS s2,
         CAST(count_if(b3) AS BIGINT) AS s3, CAST(count_if(b4) AS BIGINT) AS s4
  FROM b
)
SELECT '1_language' AS stage, s0 AS n_in, s1 AS n_out FROM c
UNION ALL SELECT '2_length', s1, s2 FROM c
UNION ALL SELECT '3_quality', s2, s3 FROM c
UNION ALL SELECT '4_repetition', s3, s4 FROM c
"""


# ---------------------------------------------------------------------------
# SemDeDup — cluster-blocked semantic deduplication

#: cosine floor for "semantically duplicate" within a cluster — the
#: same dial as the hyperplane-LSH embedding dedup tier
#: (COSINE_DUP_THRESHOLD), so the two blocking strategies are
#: comparable on identical pair semantics
SEMDEDUP_TAU = 0.35


def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means cluster
    the embeddings, then find semantic duplicates ONLY within each
    cluster — pairwise cosine ≥ ``SEMDEDUP_TAU`` — and prune every
    vector that has a kept (lower-id) duplicate in its cluster.
    Output: (vec_id, cluster, pruned) for the whole corpus.

    The third embedding-dedup blocking strategy next to brute force
    (`dedup_embedding_cosine`'s exact verify) and hyperplane LSH:
    clustering makes the quadratic within-block, trading recall
    (cross-cluster dups are invisible — the paper's bet is that
    ε-duplicates co-cluster) for a pair budget of Σ|cluster|²/2
    that the operator controls via K. Here K=8 is the oracle-checkable
    demo geometry; at 100 TB K scales ~n/target_cluster_size (the
    paper uses 50k clusters on LAION), keeping per-cluster work
    constant — the docstring dial, same contract as N_CENTROIDS_CAP.

    Plan shape: the Lloyd loop is shared with `sim_kmeans_assign`
    (assignments keep their vectors, so no corpus self-join on
    vec_id); the within-cluster pair stream is ONE shuffle on the
    cluster id; keep-lowest-id resolution is the repo-wide dedup
    convention (`dedup_resolve`).
    """
    from securities_data_pipeline_spark.operators.similarity import cosine

    # spread AFTER the Lloyd loop (its 1-partition float avg order is
    # part of the oracle contract) but BEFORE the checkpoint, so the
    # within-cluster pair join — Σ|cluster|² interpreted cosines, the
    # operator's real cost — fans out over every core instead of the
    # single input partition a small corpus file arrives in. Same-
    # session A/B at sf0.1: 7.46 → 2.84 s median-of-3, identical rows.
    assigned = spread(_kmeans_assigned(spark, sf_dir)).transform(materialize)
    a = assigned.select(
        F.col("vec_id").alias("va"), F.col("v").alias("xa"), F.col("cid").alias("ca")
    )
    b = assigned.select(
        F.col("vec_id").alias("vb"), F.col("v").alias("xb"), F.col("cid").alias("cb")
    )
    pruned = (
        a.join(b, (F.col("ca") == F.col("cb")) & (F.col("va") < F.col("vb")))
        .where(cosine("xa", "xb") >= SEMDEDUP_TAU)
        .select(F.col("vb").alias("vec_id"))
        .distinct()
        .withColumn("_p", F.lit(True))
    )
    return (
        assigned.select("vec_id", F.col("cid").alias("cluster"))
        .join(pruned, "vec_id", "left")
        .select(
            "vec_id", "cluster", F.coalesce("_p", F.lit(False)).alias("pruned")
        )
    )


def _sql_semdedup(tau: float = SEMDEDUP_TAU) -> str:
    from securities_data_pipeline_spark.operators.similarity import _sql_cosine

    return f"""
WITH assign AS MATERIALIZED (
{_sql_kmeans()}
), av AS MATERIALIZED (
  SELECT a.vec_id, a.cluster, e.embedding
  FROM assign a JOIN embeddings e USING (vec_id)
), pruned AS (
  SELECT DISTINCT b.vec_id
  FROM av a JOIN av b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {_sql_cosine('a.embedding', 'b.embedding')} >= {tau!r}
)
SELECT av.vec_id, av.cluster, (p.vec_id IS NOT NULL) AS pruned
FROM av LEFT JOIN pruned p ON p.vec_id = av.vec_id
"""


# ---------------------------------------------------------------------------
# DSIR — data selection by importance resampling

#: the "target domain" split importance weights are estimated against
#: (the high-quality corpus a pipeline wants more of); src0 stays the
#: held-out benchmark (decontamination), so src1 plays the target here
DSIR_TARGET_SOURCE = "src1"


def t_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169),
    reduced from hashed n-gram features to the unigram bag so the
    statistic is exactly oracle-recomputable: per document,
    ``log_weight = Σ_tokens [ln P_target(w) − ln P_raw(w)]`` under
    add-one-smoothed unigram LMs (target = ``source = 'src1'``, raw =
    the whole corpus, shared vocabulary support), plus
    ``target_like = log_weight > 0`` — the importance-ratio sign a
    resampler thresholds/samples on.

    Plan shape (the `t_unigram_logprob` pattern, twice in one pass):
    ONE exploded token aggregate yields per-token raw AND target
    counts (`count_if` rides the same groupBy — no second scan); the
    scalar normalizers (N_raw, N_target, |V|) re-sum the vocab-sized
    table; scoring joins the token stream to the BROADCAST frequency
    table and per-doc aggregates ride the doc_id partitioning. At
    100 TB the vocab table is the only broadcast and the corpus is
    scanned twice (count + score), same as every LM-scoring pass.

    Float determinism: both per-token ln()s round to 9 dp, their
    difference is exact in DECIMAL(19,9), per-doc sums are decimal,
    and the final weight rounds to 6 dp — token-order independent and
    bit-identical cross-engine (the t_unigram_logprob precedent).
    """
    docs = table(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", "source", F.explode(words_col()).alias("token"))
        .where(F.col("token") != "")
        .transform(materialize)  # two consumers: freq + scoring
    )
    freq = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("cnt_r"),
        F.sum(
            F.when(F.col("source") == DSIR_TARGET_SOURCE, 1).otherwise(0)
        ).alias("cnt_t"),
    )
    norms = freq.agg(
        F.sum("cnt_r").alias("n_r"),
        F.sum("cnt_t").alias("n_t"),
        F.count(F.lit(1)).alias("v"),
    )
    lp = lambda cnt, n: F.round(
        F.log(
            (cnt + F.lit(1)).cast("double") / (n + F.col("v")).cast("double")
        ),
        9,
    ).cast("decimal(19,9)")
    term = lp(F.col("cnt_t"), F.col("n_t")) - lp(F.col("cnt_r"), F.col("n_r"))
    scored = (
        toks.join(F.broadcast(freq), "token")
        .crossJoin(F.broadcast(norms))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            # round the EXACT decimal sum, then cast: rounding after
            # the double cast hits engine-divergent half-boundaries
            # (doc 117 at sf0.01 sits on one: ...5 at the 7th dp)
            F.round(F.sum(term), 6).cast("double").alias("log_weight"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "log_weight",
        (F.col("log_weight") > 0).alias("target_like"),
    )


def _sql_dsir_weights() -> str:
    from securities_data_pipeline_spark.operators.textops import _sql_words

    lp = (
        lambda cnt, n: f"CAST(round(ln(CAST({cnt} + 1 AS DOUBLE) "
        f"/ CAST({n} + v AS DOUBLE)), 9) AS DECIMAL(19,9))"
    )
    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, source, t.token
  FROM documents, unnest({_sql_words()}) AS t(token)
  WHERE t.token <> ''
), freq AS MATERIALIZED (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt_r,
         CAST(count_if(source = '{DSIR_TARGET_SOURCE}') AS BIGINT) AS cnt_t
  FROM toks GROUP BY token
), norms AS (
  SELECT CAST(SUM(cnt_r) AS BIGINT) AS n_r, CAST(SUM(cnt_t) AS BIGINT) AS n_t,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM freq
), scored AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(round(SUM({lp('cnt_t', 'n_t')} - {lp('cnt_r', 'n_r')}), 6) AS DOUBLE)
           AS log_weight
  FROM toks JOIN freq USING (token) CROSS JOIN norms
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, log_weight, log_weight > 0 AS target_like
FROM scored
"""


# ---------------------------------------------------------------------------
# fuzzy decontamination — MinHash-banded train×eval near-dup overlap

#: shingle-Jaccard floor for "this training doc is a near-duplicate of
#: an eval doc" (vs t_decontaminate's ANY-shared-8-gram exactness):
#: paraphrased/partially-overlapping contamination that shares no
#: verbatim 8-gram still scores high 3-word-shingle Jaccard. The floor
#: is set BELOW the adversarial-edit asymptote: a copy edited every
#: 7th word defeats every verbatim 8-gram yet keeps ~4/7 of its
#: 3-shingles, which works out to Jaccard ≈ 0.40-0.43 — τ=0.35 catches
#: that band while random cross-doc overlap on this corpus sits under
#: 0.1 (and 6-dp rounding makes an exact-τ tie practically impossible)
FUZZY_DECON_TAU = 0.35


def t_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy benchmark decontamination: per training document, how many
    benchmark (``source = 'src0'``) documents it NEAR-duplicates
    (shingle Jaccard ≥ ``FUZZY_DECON_TAU``) and its max Jaccard against
    any banded candidate. The fuzzy complement to ``t_decontaminate``:
    exact n-gram overlap catches verbatim leakage; this tier catches
    lightly-edited/truncated eval copies that share bands but not any
    single 8-gram.

    Scale shape: both sides build zero-shuffle MinHash signatures
    (``dedup.minhash_signatures``); the benchmark's (band, key) rows
    and shingle sets BROADCAST (a benchmark is small by definition),
    so the 100 TB training side never shuffles — candidates come from
    a broadcast band join, and the exact-Jaccard verify joins the
    broadcast candidate list back to the training shingles. Same
    asymmetric pattern as t_decontaminate's gram broadcast, upgraded
    from membership to similarity.

    Determinism: Jaccard from integer intersect/union sizes over
    deduped shingle arrays, rounded to 6 dp; the DuckDB oracle mirrors
    the banding (``_sql_minhash_slice`` family) and ``list_intersect``
    sizes exactly.
    """
    from securities_data_pipeline_spark.operators.dedup import (
        LSH_BANDS,
        banded_signatures,
        minhash_signatures,
        with_shingles,
    )

    docs = table(spark, sf_dir, "documents")
    ev = docs.where(F.col("source") == BENCH_SOURCE)
    tr = docs.where(F.col("source") != BENCH_SOURCE)
    ev_banded = banded_signatures(minhash_signatures(ev), LSH_BANDS).select(
        F.col("doc_id").alias("eval_doc"), "band", "key"
    )
    tr_banded = banded_signatures(minhash_signatures(tr), LSH_BANDS)
    cand = (
        tr_banded.join(F.broadcast(ev_banded), ["band", "key"])
        .select("doc_id", "eval_doc")
        .distinct()
    )
    tr_sh = with_shingles(tr, ["doc_id"]).select(
        "doc_id", F.array_distinct("sh").alias("sha")
    )
    ev_sh = with_shingles(ev, ["doc_id"]).select(
        F.col("doc_id").alias("eval_doc"), F.array_distinct("sh").alias("shb")
    )
    sized = (
        F.broadcast(cand)
        .join(tr_sh, "doc_id")
        .join(F.broadcast(ev_sh), "eval_doc")
        .select(
            "doc_id",
            F.size(F.array_intersect("sha", "shb")).alias("inter"),
            (F.size("sha") + F.size("shb")).alias("nab"),
        )
    )
    scored = sized.select(
        "doc_id",
        F.when(
            F.col("nab") - F.col("inter") > 0,
            # integer half-up (round6_ratio), not F.round on a double:
            # exact 6-dp ties round differently across engines
            round6_ratio(F.col("inter"), F.col("nab") - F.col("inter")),
        )
        .otherwise(F.lit(0.0))
        .alias("j"),
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum(F.when(F.col("j") >= FUZZY_DECON_TAU, 1).otherwise(0))
        .cast("long")
        .alias("n_eval_near"),
        F.max("j").alias("max_jaccard"),
    )
    return (
        tr.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_eval_near", F.lit(0)).cast("long").alias("n_eval_near"),
            F.coalesce("max_jaccard", F.lit(0.0)).alias("max_jaccard"),
            (F.coalesce("n_eval_near", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def _sql_decontaminate_fuzzy(tau: float = FUZZY_DECON_TAU) -> str:
    from securities_data_pipeline_spark.operators.dedup import (
        LSH_BANDS,
        N_MINHASH,
        _sql_minhash_slice,
        _sql_shingles,
    )

    from securities_data_pipeline_spark.operators.dedup import _sql_banded_union

    mins = ", ".join(f"{_sql_minhash_slice(s)} AS mh{s}" for s in range(N_MINHASH))
    band_selects = _sql_banded_union(LSH_BANDS, N_MINHASH)
    isect = "len(list_intersect(a.sh, b.sh))"
    return f"""
WITH shr AS MATERIALIZED (
  SELECT doc_id, unnest({_sql_shingles()}) AS shingle FROM documents
), sig AS MATERIALIZED (
  SELECT doc_id, {mins} FROM shr GROUP BY doc_id
), src AS (
  SELECT doc_id, source FROM documents
), banded AS MATERIALIZED (
  {band_selects}
), eb AS (
  SELECT banded.doc_id AS eval_doc, band, key
  FROM banded JOIN src USING (doc_id) WHERE source = '{BENCH_SOURCE}'
), tb AS (
  SELECT banded.doc_id, band, key
  FROM banded JOIN src USING (doc_id) WHERE source <> '{BENCH_SOURCE}'
), cand AS (
  SELECT DISTINCT tb.doc_id, eb.eval_doc FROM tb JOIN eb USING (band, key)
), shd AS MATERIALIZED (
  SELECT doc_id, list_distinct({_sql_shingles()}) AS sh FROM documents
), scored AS (
  SELECT c.doc_id,
         CASE WHEN len(a.sh) + len(b.sh) - {isect} > 0
              THEN {_sql_round6_ratio(isect, f'len(a.sh) + len(b.sh) - {isect}')}
              ELSE 0.0 END AS j
  FROM cand c
  JOIN shd a ON a.doc_id = c.doc_id
  JOIN shd b ON b.doc_id = c.eval_doc
), agg AS (
  SELECT doc_id, CAST(count_if(j >= {tau!r}) AS BIGINT) AS n_eval_near,
         MAX(j) AS max_jaccard
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(n_eval_near, 0) AS BIGINT) AS n_eval_near,
       coalesce(max_jaccard, 0.0) AS max_jaccard,
       coalesce(n_eval_near, 0) > 0 AS contaminated
FROM documents d LEFT JOIN agg USING (doc_id)
WHERE d.source <> '{BENCH_SOURCE}'
"""


# ---------------------------------------------------------------------------
# distributed quality/domain-classifier TRAINING (batch gradient descent)

LOGREG_ITERS = 2
#: learning rate 1/2 — kept as an exact rational so the weight update
#: is pure integer arithmetic (see the micro-unit scheme below)
LOGREG_TARGET = "src1"  # same target split DSIR up-weights


def _logreg_features():
    """(y, x1, x2) columns: label = target-domain membership; features
    = token count / 100 and stopword ratio. Both features are exact
    int-derived double divisions — bit-identical cross-engine."""
    from securities_data_pipeline_spark.operators.textops import (
        stopword_count,
        token_count,
    )

    y = F.when(F.col("source") == LOGREG_TARGET, 1).otherwise(0).alias("y")
    n = token_count()
    x1 = (n.cast("double") / F.lit(100.0)).alias("x1")
    x2 = (
        stopword_count().cast("double") / (n + F.lit(1)).cast("double")
    ).alias("x2")
    return y, x1, x2


def _halfup_div(a: int, b: int) -> int:
    """Round-half-up a/b (b > 0) with PYTHON floor division — the
    driver-side twin of the oracle's offset-floor construction."""
    return (2 * a + b) // (2 * b)


def t_quality_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the target-domain classifier on the cluster: batch
    gradient descent for logistic regression, ``LOGREG_ITERS`` exact
    steps from w = 0 — the discriminative twin of ``t_dsir_weights``'s
    generative importance ratio (fastText-style quality/domain
    classifiers are trained exactly like this over corpus-scale
    feature streams).

    Spark shape = the MLlib iteration loop: weights live on the driver
    (3 ints), each step is ONE scan computing the per-row gradient and
    ONE integer-sum aggregate (map-side partial combine; 3 BIGINTs +
    a count cross the wire); updated weights re-enter the next step's
    plan as literals. No shuffle of rows, ever; at 100 TB each step is
    a scan-speed map + a 4-number reduce.

    Exactness contract (why the oracle can pin a TRAINED model):
    per-row gradient components quantize HALF-UP to int64 micro-units
    (``floor(g·1e6 + 0.5)`` — same on both engines for either sign),
    so the per-step sums are order-independent exact integers; the
    update Δw = η·S̄ with η = 1/2 is the integer half-up division
    S_u/(2n), and weights stay exact micro-unit ints end-to-end. The
    only cross-engine float surface is σ(z) per row (exp parity at
    1e-6 quantization — the established ln()/round precedent).

    Oracle: the same two steps UNROLLED in SQL CTEs (the
    dedup_pagerank pattern for iterative algorithms).
    """
    y, x1, x2 = _logreg_features()
    feats = (
        # spread before the feature-extraction map: the per-step sums
        # are quantized int64s (order-independent exact — r11)
        spread(table(spark, sf_dir, "documents"))
        .where(F.col("text").isNotNull())
        .select(y, x1, x2)
        .transform(materialize)  # scanned once per GD step
    )

    def quant(col):
        return F.floor(col * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")

    w = [0, 0, 0]  # micro-unit ints on the driver
    n_train = None
    for _ in range(LOGREG_ITERS):
        z = (
            F.lit(w[0] / 1e6)
            + F.lit(w[1] / 1e6) * F.col("x1")
            + F.lit(w[2] / 1e6) * F.col("x2")
        )
        r = F.col("y").cast("double") - F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        row = feats.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(quant(r)).alias("s0"),
            F.sum(quant(r * F.col("x1"))).alias("s1"),
            F.sum(quant(r * F.col("x2"))).alias("s2"),
        ).collect()[0]
        n_train = int(row["n"])
        for j, s in enumerate((int(row["s0"]), int(row["s1"]), int(row["s2"]))):
            w[j] += _halfup_div(s, 2 * n_train)  # η = 1/2 → S_u/(2n)
    return local_rows(
        spark,
        [
            ("bias", w[0] / 1e6, n_train),
            ("tokens_per_100", w[1] / 1e6, n_train),
            ("stopword_ratio", w[2] / 1e6, n_train),
        ],
        "feature string, weight double, n_train bigint",
    )


def _sql_logreg() -> str:
    from securities_data_pipeline_spark.operators.textops import STOPWORDS

    sw = f"len(list_filter({_sql_words()}, w -> w IN {STOPWORDS!r}))"
    nt = f"len({_sql_words()})"
    # offset-floor half-up division in pure int64: floor((2S+2n)/(4n))
    # computed as ((t + K*d) - (t + K*d) % d)//d - K with t + K*d >= 0,
    # because engines disagree on %/integer-division for NEGATIVE
    # operands while agreeing for non-negative ones. K*d <= 4e13 and
    # |t| < 1e12, so everything stays far inside int64.  The division
    # MUST be DuckDB's integer `//`: plain `/` is IEEE-double division,
    # whose 53-bit mantissa silently rounds once the numerator passes
    # 2^53 (~n > 2.2M docs) even though int64 still has headroom.
    K = 1_000_000_000

    def upd(s: str, prev: str) -> str:
        t = f"(2*({s}) + 2*n)"
        tp = f"({t} + {K}::BIGINT * 4 * n)"
        return f"({prev} + ({tp} - {tp} % (4*n)) // (4*n) - {K})"

    def quant(g: str) -> str:
        return f"CAST(floor(({g}) * 1000000.0 + 0.5) AS BIGINT)"

    def sums(wb: str, w1: str, w2: str, tag: str) -> str:
        z = f"(({wb})/1e6 + ({w1})/1e6 * x1 + ({w2})/1e6 * x2)"
        r = f"(CAST(y AS DOUBLE) - 1.0/(1.0 + exp(-{z})))"
        return (
            f"SELECT SUM({quant(r)}) AS s0_{tag}, "
            f"SUM({quant(f'{r} * x1')}) AS s1_{tag}, "
            f"SUM({quant(f'{r} * x2')}) AS s2_{tag} FROM f"
        )

    return f"""
WITH f AS MATERIALIZED (
  SELECT CASE WHEN source = '{LOGREG_TARGET}' THEN 1 ELSE 0 END AS y,
         CAST({nt} AS DOUBLE) / 100.0 AS x1,
         CAST({sw} AS DOUBLE) / CAST({nt} + 1 AS DOUBLE) AS x2
  FROM documents WHERE text IS NOT NULL
), nn AS (SELECT COUNT(*) AS n FROM f),
g1 AS ({sums("0", "0", "0", "a")}),
w1 AS (
  SELECT CAST({upd("s0_a", "0")} AS BIGINT) AS w0,
         CAST({upd("s1_a", "0")} AS BIGINT) AS w1,
         CAST({upd("s2_a", "0")} AS BIGINT) AS w2
  FROM g1 CROSS JOIN nn
),
g2 AS (
  SELECT s.* FROM w1, LATERAL ({sums("w1.w0", "w1.w1", "w1.w2", "b")}) s
),
w2 AS (
  SELECT CAST({upd("s0_b", "w1.w0")} AS BIGINT) AS w0,
         CAST({upd("s1_b", "w1.w1")} AS BIGINT) AS w1,
         CAST({upd("s2_b", "w1.w2")} AS BIGINT) AS w2
  FROM g2 CROSS JOIN w1 CROSS JOIN nn
)
SELECT 'bias' AS feature, CAST(w0 AS DOUBLE)/1e6 AS weight, n AS n_train
FROM w2 CROSS JOIN nn
UNION ALL
SELECT 'tokens_per_100', CAST(w1 AS DOUBLE)/1e6, n FROM w2 CROSS JOIN nn
UNION ALL
SELECT 'stopword_ratio', CAST(w2 AS DOUBLE)/1e6, n FROM w2 CROSS JOIN nn
"""


# ---------------------------------------------------------------------------
# registry

CURATION_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "t_repetition_filter": t_repetition_filter,
    "t_decontaminate": t_decontaminate,
    "t_quality_filter": t_quality_filter,
    "sim_kmeans_assign": sim_kmeans_assign,
    "sim_cluster_sample": sim_cluster_sample,
    "t_source_cap": t_source_cap,
    "t_curation_funnel": t_curation_funnel,
    "t_decontaminate_fuzzy": t_decontaminate_fuzzy,
    "dedup_semdedup": dedup_semdedup,
    "t_dsir_weights": t_dsir_weights,
    "t_quality_logreg": t_quality_logreg,
}


CURATION_ORACLES: dict[str, str] = {
    "t_repetition_filter": T_REPETITION_SQL,
    "t_decontaminate": T_DECONTAMINATE_SQL,
    "t_quality_filter": T_QUALITY_FILTER_SQL,
    "sim_kmeans_assign": guard_table_sql(_sql_kmeans(), "embeddings", SQL_EMB_OK),
    "sim_cluster_sample": guard_table_sql(
        _sql_cluster_sample(), "embeddings", SQL_EMB_OK
    ),
    "t_source_cap": T_SOURCE_CAP_SQL,
    "t_curation_funnel": T_CURATION_FUNNEL_SQL,
    "t_decontaminate_fuzzy": _sql_decontaminate_fuzzy(),
    "dedup_semdedup": guard_table_sql(_sql_semdedup(), "embeddings", SQL_EMB_OK),
    "t_dsir_weights": _sql_dsir_weights(),
    "t_quality_logreg": _sql_logreg(),
}


#: anchor budget for the capped SemDeDup tier: each cluster's
#: SEMDEDUP_ANCHORS lowest-id members are the only comparison LEFT
#: sides, so the pair stream is |cluster|×T instead of |cluster|²/2 —
#: linear in cluster size, the same per-node truncation contract as
#: dedup_link_prediction_capped's top-8 adjacency. T=128 measured on
#: the NEAR-RANDOM sf0.1 corpus (the cap's worst case — diffuse
#: matches): 86% of the exact tier's prune mass (692/809); the sweep
#: T=16/32/64/128 → 18/33/56/86% is in SCALE.md, and the budget stays
#: linear at any T
SEMDEDUP_ANCHORS = 128


def dedup_semdedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with a bounded pair budget — the production twin of
    ``dedup_semdedup``, whose within-cluster quadratic is by design at
    the fixed demo K (the K dial keeps cluster sizes constant at real
    scale, but a release pipeline also wants a HARD bound when the
    data defeats the dial — one mega-cluster of near-identical
    boilerplate is exactly where SemDeDup fires most). Each cluster's
    ``SEMDEDUP_ANCHORS`` lowest-id members become the only comparison
    anchors: a vector is pruned iff it matches (cosine ≥ τ) a
    lower-id ANCHOR of its cluster. Pair volume is |cluster|×T —
    linear. Sacrifice semantics, measured honestly in SCALE.md on the
    near-random test corpus (the cap's WORST case — matches are
    diffuse, so anchor coverage is probabilistic): T=128 recovers 86%
    of the exact tier's prune mass at sf0.1; duplicates whose every
    lower-id match ranks past the anchor budget survive. On clustered
    real corpora dup mass concentrates on early kept representatives
    and coverage is correspondingly higher.

    Same output contract as the exact tier: (vec_id, cluster, pruned).
    Plan: the shared Lloyd assignment, ONE row_number window on the
    cluster key to pick anchors, one anchors×members equi-join on
    cluster id (anchors side is T×K rows — broadcastable at any
    corpus size), keep-lowest-id resolution unchanged.
    """
    from pyspark.sql import Window

    from securities_data_pipeline_spark.operators.similarity import cosine

    assigned = spread(_kmeans_assigned(spark, sf_dir)).transform(materialize)
    wc = Window.partitionBy("cid").orderBy("vec_id")
    anchors = (
        assigned.withColumn("rk", F.row_number().over(wc))
        .where(F.col("rk") <= SEMDEDUP_ANCHORS)
        .select(
            F.col("vec_id").alias("va"),
            F.col("v").alias("xa"),
            F.col("cid").alias("ca"),
        )
    )
    b = assigned.select(
        F.col("vec_id").alias("vb"), F.col("v").alias("xb"), F.col("cid").alias("cb")
    )
    pruned = (
        anchors.join(b, (F.col("ca") == F.col("cb")) & (F.col("va") < F.col("vb")))
        .where(cosine("xa", "xb") >= SEMDEDUP_TAU)
        .select(F.col("vb").alias("vec_id"))
        .distinct()
        .withColumn("_p", F.lit(True))
    )
    return (
        assigned.select("vec_id", F.col("cid").alias("cluster"))
        .join(pruned, "vec_id", "left")
        .select(
            "vec_id", "cluster", F.coalesce("_p", F.lit(False)).alias("pruned")
        )
    )


def _sql_semdedup_capped(
    tau: float = SEMDEDUP_TAU, t: int = SEMDEDUP_ANCHORS
) -> str:
    from securities_data_pipeline_spark.operators.similarity import _sql_cosine

    return f"""
WITH assign AS MATERIALIZED (
{_sql_kmeans()}
), av AS MATERIALIZED (
  SELECT a.vec_id, a.cluster, e.embedding
  FROM assign a JOIN embeddings e USING (vec_id)
), anch AS (
  SELECT vec_id, cluster, embedding FROM (
    SELECT vec_id, cluster, embedding,
           ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY vec_id) AS rk
    FROM av
  ) WHERE rk <= {t}
), pruned AS (
  SELECT DISTINCT b.vec_id
  FROM anch a JOIN av b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {_sql_cosine('a.embedding', 'b.embedding')} >= {tau!r}
)
SELECT av.vec_id, av.cluster, (p.vec_id IS NOT NULL) AS pruned
FROM av LEFT JOIN pruned p ON p.vec_id = av.vec_id
"""


CURATION_QUERIES["dedup_semdedup_capped"] = dedup_semdedup_capped
CURATION_ORACLES["dedup_semdedup_capped"] = guard_table_sql(
    _sql_semdedup_capped(), "embeddings", SQL_EMB_OK
)
