"""Similarity search over embedding columns (array<float>).

Two tiers over the ``embeddings`` table (64-dim float vectors):

- **Brute-force cosine top-k** — the correctness baseline: broadcast
  the (small) query set against the corpus, cosine via
  ``F.zip_with`` + ``F.aggregate`` (pure JVM array ops, no Python),
  rank with a per-query window. O(|Q|·n) with n scanned once.
- **IVF top-k** — the scale path: deterministic coarse centroids
  (every 100th vector), every corpus vector assigned to its nearest
  centroid (one in-row fold over the literal roster), queries probe
  only their centroid's bucket. At 100 TB this turns a full-corpus
  scan per query into a 1/n_centroids partition probe; buckets are
  co-partitioned by centroid id so the probe is a partition-pruned
  join. (A production
  build would train centroids with k-means sampling; determinism here
  makes the operator oracle-checkable.)

Float determinism: cosine numerators/denominators are summed in array
order in both engines (``F.aggregate`` ↔ ``list_aggregate``, both
sequential left folds over 64 doubles), then rounded to 6 dp before
ranking; ranking ties break on vec_id. Hash-match proven against
DuckDB at sf0.01.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from securities_data_pipeline_spark.functions.gates import (
    EMB_DIM,
    SQL_EMB_OK,
    guard_table_sql,
)
from securities_data_pipeline_spark.sources.tables import (
    local_rows,
    materialize,
    overlap,
    spread,
    table,
)

N_QUERIES = 5  # vec_id < 5 are the demo query vectors
TOP_K = 10
CENTROID_STRIDE = 100  # vec_id % 100 == 0 → coarse centroid
#: hard cap on the IVF centroid roster: K must be INDEPENDENT of
#: corpus size or the nearest-centroid assignment scan is O(n·n/stride)
#: = quadratic — measured 51× wall on 10× vectors before the cap
#: (tools/stress_sim.py). 20 donors covers every driver SF unchanged
#: (max donor vec_id there is 1900 < 2000); amplified corpora keep the
#: same fixed-K roster, the real IVF contract.
N_CENTROIDS_CAP = 20


def _centroid_filter():
    return (F.col("vec_id") % CENTROID_STRIDE == 0) & (
        F.col("vec_id") < CENTROID_STRIDE * N_CENTROIDS_CAP
    )


def emb_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings scan through the ``embedding_ok`` sanity gate — the
    ONLY way the similarity family reads the table (f_array_stats
    deliberately reads raw: profiling garbage is its job).  Since
    round 7 this reads the write-time validated clean store
    (sources/validated.py): the per-scan gate cost (measured 15-25%,
    BASELINE.md) is paid once at ingest, per SCALE.md §12."""
    from securities_data_pipeline_spark.sources.validated import (
        validated_embeddings,
    )

    return validated_embeddings(spark, sf_dir)


def _dot_expr(a: str, b: str) -> str:
    """``_dot`` as a Spark-SQL string over named columns.

    Optimization round 11 (guide §4 per-task work): lambdas built
    through the Python Column API get a fresh counter-suffixed
    lambda-variable name on every DataFrame build; the name lands in
    the generated Java source, so whole-stage codegen recompiles every
    invocation instead of hitting its source-keyed cache. SQL-parsed
    lambdas keep their literal parameter names → identical source →
    cache hit (the dedup._shingles_from_sql mechanism; same init/fold
    shape as the hyperplane_band_keys strings below). Term-for-term
    the Column form: zip_with double-cast products, 0.0D init, left
    fold — bit-identical sims."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm_expr(a: str) -> str:
    """``_norm`` as a Spark-SQL string over a named column (see
    ``_dot_expr`` for why: stable lambda names keep codegen cached)."""
    return (
        f"sqrt(aggregate({a}, CAST(0.0 AS DOUBLE), "
        "(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )


def _cosine_expr(a: str, b: str) -> str:
    return f"round({_dot_expr(a, b)} / ({_norm_expr(a)} * {_norm_expr(b)}), 6)"


def _dot(a: Column | str, b: Column | str) -> Column:
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_dot_expr(a, b))
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column | str) -> Column:
    if isinstance(a, str):
        return F.expr(_norm_expr(a))
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity rounded to 6 dp (cross-engine stable).

    String arguments (column names / SQL fragments) build the whole
    kernel as one SQL expression — hot paths pass strings so the
    codegen cache stays warm across invocations (``_dot_expr``);
    Column arguments keep the original py4j form for composed
    expressions and tests (bit-identical either way)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_cosine_expr(a, b))
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), 6)


def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bruteforce_topk_from(emb_table(spark, sf_dir))


def _bruteforce_topk_from(emb: DataFrame) -> DataFrame:
    # norms precomputed per side BEFORE the fan-out (queries once, each
    # corpus row once instead of once per query): scoring is one fold
    # (the dot) per pair, and the quotient is bit-identical to inline
    # cosine — the sim_knn_graph precedent (optimization round 11).
    # Takes the corpus as an argument so the retrain/probe-curve
    # certificates can feed their already-materialized (spread +
    # localCheckpoint) corpus instead of re-scanning + re-gating it.
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        _norm("embedding").alias("qn"),
    )
    corpus = spread(emb).select(
        F.col("vec_id"),
        F.col("embedding"),
        F.col("label"),
        _norm("embedding").alias("en"),
    )
    scored = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "label",
            F.round(
                _dot("qvec", "embedding")
                / (F.col("qn") * F.col("en")),
                6,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "vec_id", "label", "sim")
    )


_SQL_DOT = (
    "list_aggregate(list_transform(list_zip({a}, {b}), "
    "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')"
)
_SQL_NORM = (
    "sqrt(list_aggregate(list_transform({a}, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
)


def _sql_cosine(a: str, b: str) -> str:
    dot = _SQL_DOT.format(a=a, b=b)
    na, nb = _SQL_NORM.format(a=a), _SQL_NORM.format(a=b)
    return f"round({dot} / ({na} * {nb}), 6)"


SIM_BRUTEFORCE_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q.query_id, e.vec_id, e.label,
         {_sql_cosine('q.qvec', 'e.embedding')} AS sim
  FROM q CROSS JOIN embeddings e
  WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, label, sim FROM ranked WHERE rank <= {TOP_K}
"""


RANGE_TAU = 0.30  # cosine floor ≈ p99 of the demo query-corpus sims


def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine RANGE search — every corpus vector within ``RANGE_TAU``
    of a query, not a fixed top-k. The retrieval shape dedup/recall
    jobs need (\"all near-matches\", unknown count per query) where
    top-k would silently truncate dense neighborhoods.

    Plan: same broadcast-queries × corpus scan as the brute-force
    baseline (queries are tiny; the corpus is scanned ONCE for all of
    them), the τ predicate applied in the same projection — no window,
    no shuffle at all: the whole query is scan → broadcast-BNLJ →
    filter. At 100 TB the LSH/IVF tiers pre-filter candidates and this
    exact test runs only on bucket survivors (sim_lsh_topk composes
    the same ``cosine``)."""
    emb = emb_table(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = emb.select("vec_id", "embedding", "label")
    return (
        F.broadcast(queries)
        .crossJoin(corpus)
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "label",
            cosine("qvec", "embedding").alias("sim"),
        )
        .where(F.col("sim") >= RANGE_TAU)
    )


SIM_RANGE_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < {N_QUERIES}
)
SELECT q.query_id, e.vec_id, e.label,
       {_sql_cosine('q.qvec', 'e.embedding')} AS sim
FROM q CROSS JOIN embeddings e
WHERE e.vec_id <> q.query_id
  AND {_sql_cosine('q.qvec', 'e.embedding')} >= {RANGE_TAU}
"""


def assign_buckets(emb: DataFrame) -> DataFrame:
    """Assign every vector to its nearest deterministic centroid.

    The roster is the bounded K ≤ ``N_CENTROIDS_CAP`` collect
    ``_collect_centroid_rows`` (the same one ``sim_ivf_retrain_recall``
    pays), and the assignment is the module's one cosine
    nearest-centroid kernel, ``_assign_literal``: every vector folds
    over the literal roster inside a single projection — zero Window
    nodes, zero n×K rows, no broadcast exchange. Ties break to the
    lowest centroid id (strictly-greater fold over the
    centroid_id-ascending array ≡ ORDER BY csim DESC, centroid_id ASC
    row 1), with the same rounded cosine as the oracle's window.
    """
    # spread the corpus side before the K×d argmax fold (CPU-bound
    # per-row work; no-op on streams and on already-wide scans)
    return _assign_literal(
        spread(emb.select("vec_id", "label", "embedding")),
        _collect_centroid_rows(emb),
    ).select("vec_id", "label", "embedding", "centroid_id")


def label_centroids(emb: DataFrame) -> DataFrame:
    """Per-label mean embedding — distributed vector aggregation, the
    building block IVF/k-means training runs at corpus scale: posexplode
    to (label, dim, x) rows, ONE shuffle on (label, dim), exact-DECIMAL
    sums (groupBy float sums are accumulation-order-nondeterministic;
    decimal sums are associative, so the mean is bit-stable across
    partitionings AND engines), then reassemble each label's dims into
    an ordered centroid array. Output: (label, cvec array<double>),
    k×d values — broadcastable however large the corpus."""
    dims = emb.select("label", F.posexplode("embedding").alias("pos", "x"))
    cent = dims.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("x").cast("double").cast("decimal(27,10)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("m")
    )
    return (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("label", F.transform(F.col("pm"), lambda s: s["m"]).alias("cvec"))
    )


def sim_label_centroid_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each vector's Euclidean distance to its own label centroid — the
    cluster-cohesion statistic curation uses to flag mislabeled /
    outlier embeddings. Centroids (k×d) broadcast back; the distance
    folds in array order (``F.aggregate``), so it is deterministic
    like every other similarity kernel here."""
    emb = emb_table(spark, sf_dir)
    cents = label_centroids(emb)
    diff2 = F.zip_with(
        F.col("embedding"),
        F.col("cvec"),
        lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
    )
    dist2 = F.aggregate(diff2, F.lit(0.0), lambda a, v: a + v)
    return emb.join(F.broadcast(cents), "label").select(
        "vec_id", "label", F.round(F.sqrt(dist2), 6).alias("dist")
    )


SIM_LABEL_CENTROID_SQL = """
WITH dims AS (
  SELECT label,
         unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
), cent AS (
  SELECT label, pos,
         round(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(27,10))) AS DOUBLE)
               / COUNT(*), 6) AS m
  FROM dims GROUP BY label, pos
), cvecs AS (
  SELECT label, list(m ORDER BY pos) AS cvec FROM cent GROUP BY label
)
SELECT e.vec_id, e.label,
       round(sqrt(list_aggregate(list_transform(list_zip(e.embedding, c.cvec),
             p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])),
             'sum')), 6) AS dist
FROM embeddings e JOIN cvecs c USING (label)
"""


N_PROBES = 4  # multiprobe: search the query's 4 nearest centroid buckets


def sim_ivf_topk(spark: SparkSession, sf_dir: str, n_probes: int = N_PROBES) -> DataFrame:
    """IVF multiprobe: each query searches its ``n_probes`` nearest
    centroid buckets (single-probe recall@10 on the synthetic corpus is
    ~0.5; 4 probes lifts it to ~0.9 while still scanning only
    n_probes/n_centroids of the corpus — the standard IVF
    recall/latency dial)."""
    emb = emb_table(spark, sf_dir)
    bucketed = assign_buckets(emb)
    centroids = emb.where(_centroid_filter()).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("centroid_id").asc()
    )
    probes = (
        F.broadcast(queries)
        .crossJoin(centroids)
        .select(
            "query_id", "qvec", "centroid_id",
            cosine("cvec", "qvec").alias("csim"),
        )
        .withColumn("pr", F.row_number().over(wq))
        .where(F.col("pr") <= n_probes)
        .select("query_id", "qvec", F.col("centroid_id").alias("qc"))
    )
    scored = (
        F.broadcast(probes)
        .join(bucketed, (F.col("centroid_id") == F.col("qc")) & (F.col("vec_id") != F.col("query_id")))
        .select("query_id", "vec_id", "label", cosine("qvec", "embedding").alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "vec_id", "label", "sim")
    )


SIM_IVF_SQL = f"""
WITH cents AS (
  SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings
  WHERE vec_id % {CENTROID_STRIDE} = 0 AND vec_id < {CENTROID_STRIDE * N_CENTROIDS_CAP}
), assigned AS (
  SELECT e.vec_id, e.label, e.embedding, c.centroid_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_sql_cosine('c.cvec', 'e.embedding')} DESC, c.centroid_id ASC
         ) AS r
  FROM embeddings e CROSS JOIN cents c
), bucketed AS (
  SELECT vec_id, label, embedding, centroid_id FROM assigned WHERE r = 1
), q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  WHERE vec_id < {N_QUERIES}
), probes AS (
  SELECT query_id, qvec, centroid_id AS qc
  FROM (
    SELECT q.query_id, q.qvec, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY {_sql_cosine('c.cvec', 'q.qvec')} DESC, c.centroid_id ASC
           ) AS pr
    FROM q CROSS JOIN cents c
  ) WHERE pr <= {N_PROBES}
), scored AS (
  SELECT p.query_id, b.vec_id, b.label,
         {_sql_cosine('p.qvec', 'b.embedding')} AS sim
  FROM probes p JOIN bucketed b ON b.centroid_id = p.qc AND b.vec_id <> p.query_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, label, sim FROM ranked WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# embedding-cosine near-dup (hyperplane LSH blocking + exact verify)

# 6 bands × 8 bits: a random (cos≈0) pair collides on a band with
# p=0.5^8, so candidate load is ~6/256 of all pairs (4-bit bands were
# 22% of ALL pairs — a verify-join blowup); a true near-dup at cos 0.9
# still collides with prob 1-(1-0.857^8)^6 ≈ 0.87, and exact dups
# always collide
HP_BITS = 48
HP_BANDS = 6
COSINE_DUP_THRESHOLD = 0.35


def _plane_signs(p: int, dim: int = EMB_DIM) -> list[float]:
    """Deterministic ±1 hyperplane components from md5 — the same
    literals are embedded in the Spark plan AND the oracle SQL, so the
    two engines share one hash family by construction."""
    import hashlib

    return [
        1.0 if hashlib.md5(f"hp:{p}:{d}".encode()).digest()[0] & 1 else -1.0
        for d in range(dim)
    ]


HYPERPLANES: list[list[float]] = [_plane_signs(p) for p in range(HP_BITS)]


def hyperplane_band_keys(
    emb: DataFrame, id_col: str = "vec_id", bits: int = HP_BITS, bands: int = HP_BANDS
) -> DataFrame:
    """Sign-random-projection band keys: (id, band, key) — one row per
    band per vector. ``bits`` sign bits packed into ``bands`` integer
    band keys; the sketch is the only thing shuffled by LSH consumers
    (bits/8 bytes/vector at 100 TB, never the full embedding).

    Band width is the recall/candidate-load dial: long bands (8 bits)
    for near-dup detection at cos ≥ 0.9, short bands (4 bits) when the
    interesting neighbors sit at moderate cosine.
    """
    if bits % bands:
        raise ValueError(f"bits={bits} must divide into bands={bands}")
    # The bit expressions are built as SQL strings parsed JVM-side in
    # one call each: constructing them as Column objects means
    # bits × dim (≈3000) py4j literal round-trips, which costs seconds
    # of driver time per query — 10× the actual execution time at test
    # scale. Semantics are identical to
    # _dot(embedding, plane) > 0 (same sequential fold, and the ±1
    # plane components are exactly representable doubles).
    def plane_sql(p: int) -> str:
        arr = ", ".join("1.0D" if s > 0 else "-1.0D" for s in HYPERPLANES[p])
        return (
            f"aggregate(zip_with(embedding, array({arr}), "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )

    bits_df = emb.selectExpr(
        id_col, *[f"CAST({plane_sql(p)} > 0 AS INT) AS bit{p}" for p in range(bits)]
    )
    rows = bits // bands
    band_structs = ", ".join(
        "struct({b} AS band, {key} AS key)".format(
            b=b,
            key=" + ".join(f"bit{b * rows + r} * {1 << r}" for r in range(rows)),
        )
        for b in range(bands)
    )
    return bits_df.selectExpr(
        id_col, f"explode(array({band_structs})) AS bk"
    ).selectExpr(id_col, "bk.band AS band", "bk.key AS key")


def dedup_embedding_cosine(
    spark: SparkSession, sf_dir: str, threshold: float = COSINE_DUP_THRESHOLD
) -> DataFrame:
    return embedding_cosine_pairs(emb_table(spark, sf_dir), threshold)


def embedding_cosine_pairs(
    emb: DataFrame, threshold: float = COSINE_DUP_THRESHOLD
) -> DataFrame:
    """Embedding near-dup pairs: sign-random-projection (SimHash for
    vectors) LSH blocking, then exact cosine verification.

    Per vector, ``HP_BITS`` hyperplane sign bits → ``HP_BANDS`` bands
    (currently 48 bits → 6 bands of 8 bits, 256 buckets/band — see the
    tuning note on the constants above); vectors sharing any band key
    become candidates (groupBy bucket + in-bucket pair expansion — ONE
    narrow shuffle of (band, key, vec_id) rows, never a crossJoin).
    Candidates are verified with exact cosine ≥ threshold. At 100 TB:
    the sketch is HP_BITS/8 bytes/vector, and only colliding pairs
    ever read two full vectors (the verify join shuffles on vec_id).

    Corpus-scale recall is tuned by (bands, bits-per-band); the
    candidate plan is shared with MinHash LSH via
    ``dedup.bucket_pairs``.
    """
    from securities_data_pipeline_spark.operators.dedup import bucket_pairs

    # ONE spread + lazy checkpoint of the embedding table feeds BOTH
    # the banded sketch and the normed verify projection below
    # (optimization round 12, ADVICE r11: the previous two spread(emb)
    # calls each paid an independent round-robin shuffle of the same
    # rows — the sketch consumer and the norm consumer now read one
    # materialized copy)
    sp = spread(emb).transform(materialize)
    # bucket_pairs self-joins the sketch — checkpoint so the banded
    # projection is computed and analyzed once (see sim_lsh_topk);
    # spread first so the 48-bit sign folds run on every core
    banded = hyperplane_band_keys(sp).transform(materialize)
    cand = bucket_pairs(banded, id_col="vec_id").select(
        F.col("doc_a").alias("vec_a"), F.col("doc_b").alias("vec_b")
    )
    # norms precomputed per vector: verify-join scoring is one fold
    # (the dot) per candidate pair, and the quotient is bit-identical
    # to inline cosine (same per-vector sequential folds). ONE normed
    # projection feeds both join sides (optimization round 11): the
    # previous ea/eb pair each re-scanned the store and re-ran the
    # norm fold single-task
    ev = sp.select(
        "vec_id", "embedding", _norm("embedding").alias("_n")
    ).transform(materialize)
    ea = ev.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("_n").alias("norm_a"),
    )
    eb = ev.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("_n").alias("norm_b"),
    )
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(
                _dot("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b")),
                6,
            ).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )


def _sql_embedding_dedup(threshold: float = COSINE_DUP_THRESHOLD) -> str:
    rows = HP_BITS // HP_BANDS

    def plane_lit(p: int) -> str:
        return "[" + ", ".join(str(s) for s in HYPERPLANES[p]) + "]"

    bit_exprs = ", ".join(
        f"(CASE WHEN {_SQL_DOT.format(a='embedding', b=plane_lit(p))} > 0 "
        f"THEN 1 ELSE 0 END) AS bit{p}"
        for p in range(HP_BITS)
    )
    key_exprs = ", ".join(
        " + ".join(f"bit{b * rows + r} * {1 << r}" for r in range(rows)) + f" AS k{b}"
        for b in range(HP_BANDS)
    )
    banded = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, k{b} AS key FROM keys" for b in range(HP_BANDS)
    )
    return f"""
WITH bits AS (
  SELECT vec_id, {bit_exprs} FROM embeddings
), keys AS (
  SELECT vec_id, {key_exprs} FROM bits
), banded AS ({banded}),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b, {_sql_cosine('ea.embedding', 'eb.embedding')} AS sim
FROM cand c
JOIN embeddings ea ON ea.vec_id = c.vec_a
JOIN embeddings eb ON eb.vec_id = c.vec_b
WHERE {_sql_cosine('ea.embedding', 'eb.embedding')} >= {threshold}
"""


def dedup_embedding_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end SEMANTIC dedup: hyperplane-LSH cosine pairs →
    diameter-independent star-contraction components → keep-one
    survivors with removal counts. The embedding-space mirror of the
    text pipeline's ``dedup_resolve`` — same CC engine
    (``connected_components_star``), same resolve policy, proving the
    cluster machinery is modality-agnostic. Output: (vec_id,
    cluster_size, n_removed), one row per surviving representative."""
    from securities_data_pipeline_spark.operators.dedup import (
        connected_components_star,
        resolve_duplicates,
    )

    emb = emb_table(spark, sf_dir)
    edges = embedding_cosine_pairs(emb).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    nodes = emb.select(F.col("vec_id").alias("doc_id"))
    return resolve_duplicates(connected_components_star(edges, nodes)).withColumnRenamed(
        "doc_id", "vec_id"
    )


def _sql_embedding_resolve() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_sql_embedding_dedup().strip()}),
edges AS (
  SELECT vec_a AS a, vec_b AS b FROM pairs
  UNION SELECT vec_b, vec_a FROM pairs
),
reach(src, dst) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
),
labels AS (
  SELECT src AS id, MIN(dst) AS component FROM reach GROUP BY src
)
SELECT component AS vec_id,
       COUNT(*) AS cluster_size,
       COUNT(*) - 1 AS n_removed
FROM labels GROUP BY component
"""


# ANN banding: the synthetic corpus's nearest neighbors sit at cosine
# 0.25-0.40 (near-random vectors), where 8-bit bands almost never
# collide (0.6^8 ≈ 1.7%/band). 12 bands × 4 bits gives ~0.8 recall@10
# at ~50% candidate fraction — the honest LSH tradeoff on low-sim
# corpora; clustered/high-sim corpora would use longer bands, and IVF
# (which exploits global structure) is the better scale path here.
ANN_BITS = 48
ANN_BANDS = 12


def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed top-k ANN: the third tier next to brute-force and
    IVF — candidates are corpus vectors sharing ≥1 hyperplane band key
    with the query, reranked by exact cosine.

    Unlike IVF (fixed Voronoi buckets, recall tuned by n_probes), LSH
    candidate volume adapts to the query's local density and needs no
    centroid training. At 100 TB the banded sketch join shuffles only
    (id, band, key) rows; full embeddings are fetched for the deduped
    candidate set alone — a semi-join-shaped plan.
    """
    emb = emb_table(spark, sf_dir)
    # the sketch feeds both join sides — materialize it once (the
    # at-scale pattern: band keys are written once and reused) instead
    # of analyzing/executing the 48-fold projection twice
    banded = hyperplane_band_keys(spread(emb), bits=ANN_BITS, bands=ANN_BANDS).transform(
        materialize
    )
    qb = banded.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "band", "key"
    )
    cand = (
        F.broadcast(qb)
        .join(banded, ["band", "key"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = emb.select("vec_id", "embedding", "label")
    scored = (
        cand.join(F.broadcast(queries), "query_id")
        .join(corpus, "vec_id")
        .select(
            "query_id",
            "vec_id",
            "label",
            cosine("qvec", "embedding").alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "vec_id", "label", "sim")
    )


def _sql_lsh_topk() -> str:
    rows = ANN_BITS // ANN_BANDS

    def plane_lit(p: int) -> str:
        return "[" + ", ".join(str(s) for s in HYPERPLANES[p]) + "]"

    bit_exprs = ", ".join(
        f"(CASE WHEN {_SQL_DOT.format(a='embedding', b=plane_lit(p))} > 0 "
        f"THEN 1 ELSE 0 END) AS bit{p}"
        for p in range(ANN_BITS)
    )
    key_exprs = ", ".join(
        " + ".join(f"bit{b * rows + r} * {1 << r}" for r in range(rows)) + f" AS k{b}"
        for b in range(ANN_BANDS)
    )
    banded = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, k{b} AS key FROM keys" for b in range(ANN_BANDS)
    )
    return f"""
WITH bits AS (
  SELECT vec_id, {bit_exprs} FROM embeddings
), keys AS (
  SELECT vec_id, {key_exprs} FROM bits
), banded AS ({banded}),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id
  FROM banded q JOIN banded c ON q.band = c.band AND q.key = c.key
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
), scored AS (
  SELECT cand.query_id, cand.vec_id, e.label,
         {_sql_cosine('qe.embedding', 'e.embedding')} AS sim
  FROM cand
  JOIN embeddings qe ON qe.vec_id = cand.query_id
  JOIN embeddings e  ON e.vec_id = cand.vec_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, label, sim FROM ranked WHERE rank <= {TOP_K}
"""


KNN_K = 5


def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN graph over the whole corpus: each vector's
    top-``KNN_K`` LSH-candidate neighbors by exact cosine — the graph
    behind near-dup clustering, diversity sampling, and
    semantic-dedup pipelines (edges feed dedup_components).

    The all-pairs version of sim_lsh_topk, but with the LONG near-dup
    bands (6×8 bits), not the short ANN bands: an all-pairs graph at
    50% candidate fraction is quadratic at any scale, while 8-bit
    bands keep a random pair's collision odds at 6/256 so candidate
    volume stays near-linear — the graph concentrates on
    high-similarity edges, which is what a dedup/diversity graph is
    for. The banded sketch self-joins on (band, key) — a narrow
    shuffle of (id, band, key) rows — then full vectors are fetched
    only for colliding pairs. Per-vector norms are precomputed so
    pair scoring does ONE fold (the dot product), not three; the
    quotient is bit-identical to inline cosine (same per-vector
    sequential folds).
    """
    emb = emb_table(spark, sf_dir)
    # ONE spread + materialize feeds both the banded sketch and the
    # normed verify projection (optimization round 12 — the
    # embedding_cosine_pairs ADVICE fix applied to its twin here: the
    # two independent spread(emb) calls each paid a round-robin
    # shuffle of the same rows)
    sp = spread(emb).transform(materialize)
    banded = hyperplane_band_keys(sp).transform(materialize)
    other = banded.select(
        F.col("vec_id").alias("nbr_id"), F.col("band").alias("band"), F.col("key").alias("key")
    )
    cand = (
        banded.join(other, ["band", "key"])
        .where(F.col("vec_id") != F.col("nbr_id"))
        .select(F.col("vec_id").alias("src"), F.col("nbr_id").alias("dst"))
        .distinct()
    )
    # ONE normed projection feeds both vector-fetch sides (the
    # embedding_cosine_pairs pattern): previously ea/eb each re-scanned
    # the store and re-ran the norm fold single-task
    ev = sp.select(
        "vec_id", "embedding", _norm("embedding").alias("_n")
    ).transform(materialize)
    ea = ev.select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("emb_a"),
        F.col("_n").alias("norm_a"),
    )
    eb = ev.select(
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("emb_b"),
        F.col("_n").alias("norm_b"),
    )
    scored = (
        cand.join(ea, "src")
        .join(eb, "dst")
        .select(
            "src",
            "dst",
            F.round(
                _dot("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b")),
                6,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("src").orderBy(F.col("sim").desc(), F.col("dst").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= KNN_K)
        .select("src", "rank", "dst", "sim")
    )


def _sql_knn_graph() -> str:
    rows = HP_BITS // HP_BANDS

    def plane_lit(p: int) -> str:
        return "[" + ", ".join(str(s) for s in HYPERPLANES[p]) + "]"

    bit_exprs = ", ".join(
        f"(CASE WHEN {_SQL_DOT.format(a='embedding', b=plane_lit(p))} > 0 "
        f"THEN 1 ELSE 0 END) AS bit{p}"
        for p in range(HP_BITS)
    )
    key_exprs = ", ".join(
        " + ".join(f"bit{b * rows + r} * {1 << r}" for r in range(rows)) + f" AS k{b}"
        for b in range(HP_BANDS)
    )
    banded = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, k{b} AS key FROM keys" for b in range(HP_BANDS)
    )
    return f"""
WITH bits AS (
  SELECT vec_id, {bit_exprs} FROM embeddings
), keys AS (
  SELECT vec_id, {key_exprs} FROM bits
), banded AS ({banded}),
cand AS (
  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
  WHERE a.vec_id <> b.vec_id
), scored AS (
  SELECT cand.src, cand.dst, {_sql_cosine('ea.embedding', 'eb.embedding')} AS sim
  FROM cand
  JOIN embeddings ea ON ea.vec_id = cand.src
  JOIN embeddings eb ON eb.vec_id = cand.dst
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rank
  FROM scored
)
SELECT src, rank, dst, sim FROM ranked WHERE rank <= {KNN_K}
"""


# ---------------------------------------------------------------------------
# int8 embedding quantization

Q_RANGE = 127  # symmetric int8: q ∈ [-127, 127]


def sim_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    4×-compression step an ANN index applies before sharding vectors
    across a cluster. Per vector: scale = max|x|, qᵢ = ⌊xᵢ·127/scale
    + ½⌋ (explicit floor form so both engines round identically),
    reported as the scale, the saturated-element count, and the mean
    absolute reconstruction error. Pure narrow projection of
    higher-order array functions — JVM codegen, no shuffle, no
    Python — so at 100 TB it runs at scan speed; ``let`` bindings
    keep the abs-max and quantized array evaluated once per row."""
    from securities_data_pipeline_spark.functions.expr import let

    emb = emb_table(spark, sf_dir)
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    stats = let(
        F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))),
        lambda m: let(
            # all-zero vector: any nonzero divisor quantizes it to zeros
            F.when(m == 0, F.lit(1.0)).otherwise(m),
            lambda s: let(
                F.transform(vec, lambda x: F.floor(x * Q_RANGE / s + F.lit(0.5))),
                lambda q: F.struct(
                    F.round(m, 6).alias("scale"),
                    F.aggregate(
                        q,
                        F.lit(0).cast("long"),
                        lambda acc, qi: acc
                        + F.when(F.abs(qi) >= Q_RANGE, 1).otherwise(0),
                    ).alias("n_saturated"),
                    F.round(
                        F.aggregate(
                            F.zip_with(vec, q, lambda x, qi: F.abs(x - qi * s / Q_RANGE)),
                            F.lit(0.0),
                            lambda acc, v: acc + v,
                        )
                        / F.size(vec),
                        6,
                    ).alias("recon_err"),
                ),
            ),
        ),
    )
    return emb.select("vec_id", "label", stats.alias("qs")).select(
        "vec_id", "label", "qs.scale", "qs.n_saturated", "qs.recon_err"
    )


SIM_QUANTIZE_SQL = f"""
WITH base AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
  FROM embeddings
), scaled AS (
  SELECT vec_id, label, v, m, CASE WHEN m = 0 THEN 1.0 ELSE m END AS s
  FROM base
), q AS (
  SELECT vec_id, label, v, m, s,
         list_transform(v, x -> floor(x * {Q_RANGE} / s + 0.5)) AS qv
  FROM scaled
)
SELECT vec_id, label, round(m, 6) AS scale,
       CAST(list_aggregate(list_transform(qv,
              x -> CASE WHEN abs(x) >= {Q_RANGE} THEN 1 ELSE 0 END), 'sum')
            AS BIGINT) AS n_saturated,
       round(list_aggregate(list_transform(list_zip(v, qv),
               p -> abs(p[1] - p[2] * s / {Q_RANGE})), 'sum') / len(v), 6) AS recon_err
FROM q
"""


# ---------------------------------------------------------------------------
# product quantization (PQ) ANN — codebook-encode + asymmetric distance

PQ_M = 8  # subspaces (64-dim → 8 × 8-dim subvectors)
PQ_DSUB = EMB_DIM // PQ_M
PQ_K = 16  # codebook entries per subspace
PQ_STRIDE = 25  # donor vectors: vec_id % 25 == 0, vec_id < 400 → K=16

#: in-plan L2 normalize — the ONE definition both PQ tiers (flat and
#: IVF-PQ) build `_nv` from, so their doubles are bit-identical to
#: each other, to `_l2_normalize`, and to the oracle's `_PQ_NORM_SQL`
NV_EXPR = (
    "transform(embedding, x -> CAST(x AS DOUBLE) / "
    "sqrt(aggregate(transform(embedding, y -> CAST(y AS DOUBLE) "
    "* CAST(y AS DOUBLE)), 0.0D, (a, v) -> a + v)))"
)


def _l2_normalize(vec: list[float]) -> list[float]:
    """Left-fold sum of squares then divide — the exact fold order the
    Spark expression and the DuckDB oracle use, so normalized values
    are bit-identical across all three."""
    acc = 0.0
    for x in vec:
        acc = acc + x * x
    n = acc ** 0.5
    return [x / n for x in vec]


def pq_donor_pref():
    """Codebook donor preference: stride ids first (the deterministic
    k-means stand-in), then any other valid vector by ascending id —
    so a corrupt/quarantined donor id degrades to the next valid
    vector instead of crashing training (adversarial-vector fuzz,
    tools/fuzz_embeddings.py: garbage at a stride id shrank the
    codebook and every PQ tier died on the short list). On a clean
    corpus the stride donors all pass the gate, the fallback never
    fires, and the selection — and every downstream code/ADC value —
    is bit-identical to the pure-stride rule."""
    pref = (F.col("vec_id") % PQ_STRIDE == 0) & (
        F.col("vec_id") < PQ_K * PQ_STRIDE
    )
    return F.when(pref, 0).otherwise(1)


#: the SQL twin of ``pq_donor_pref`` — injected into every PQ oracle
SQL_PQ_DONOR_PREF = (
    f"(CASE WHEN vec_id % {PQ_STRIDE} = 0"
    f" AND vec_id < {PQ_K * PQ_STRIDE} THEN 0 ELSE 1 END)"
)


def _pq_codebook(
    spark: SparkSession, sf_dir: str, emb: DataFrame | None = None
) -> list[list[float]]:
    """K×64 codebook from deterministic donor vectors, L2-normalized
    (the stand-in for an offline k-means training run — same pattern
    as the IVF centroid stride). Driver state is K·dim doubles:
    broadcastable at any corpus size. Donor selection is the
    gap-tolerant ``pq_donor_pref`` rule; code index = rank of the
    donor's vec_id within the selected set (== vec_id // stride on a
    clean corpus). ``emb`` lets a caller that already materialized the
    gated corpus (the retrain certificate) reuse it."""
    if emb is None:
        emb = emb_table(spark, sf_dir)
    donors = (
        emb.select("vec_id", "embedding")
        .orderBy(pq_donor_pref().asc(), F.col("vec_id").asc())
        .limit(PQ_K)
        .collect()
    )
    if len(donors) < PQ_K:
        raise ValueError(
            f"PQ codebook needs ≥{PQ_K} valid vectors; corpus has {len(donors)}"
        )
    return [
        _l2_normalize([float(x) for x in r.embedding])
        for r in sorted(donors, key=lambda r: int(r.vec_id))
    ]


def _cb_subspace(cb: list[list[float]]) -> dict:
    """Re-key a K×64 full-vector codebook as (m, c) → dsub-slice — the
    subspace form shared by the ADC expression builders below and the
    trained codebook (``pq_train_codebook`` rows are already per
    subspace)."""
    return {
        (m, c): cb[c][m * PQ_DSUB : (m + 1) * PQ_DSUB]
        for m in range(PQ_M)
        for c in range(PQ_K)
    }


def _query_nvecs(emb: DataFrame) -> dict[int, list[float]]:
    """Driver-side L2-normalized query vectors (|queries|·dim doubles
    of driver state — broadcastable at any corpus size)."""
    return {
        int(r.vec_id): _l2_normalize([float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    }


def _band_dists_expr(cbsub: dict, m: int) -> str:
    """Per-entry Σ_d (x−cent)² against subspace ``m``'s K codewords as
    ONE nested array literal + zip_with/aggregate — instead of K
    unrolled distance chains, which keeps the expression tree ~10×
    smaller (the unrolled form cost seconds of driver analysis/codegen
    per run). 'D' suffix: a bare decimal literal parses as DECIMAL and
    would promote the ADC sum away from the oracle's DOUBLE. zip_with
    pairs in index order and aggregate folds left-to-right — the same
    order as the DuckDB oracle's list_zip/list_aggregate.

    Optimization round 12 kept the LITERAL form deliberately: an A/B
    against binding the codebook through a 1-row broadcast
    LocalRelation (crossJoin + column reference — VERDICT r11 #2's
    suggestion) measured the broadcast form SLOWER on every PQ
    consumer (sim_pq_topk 1.04 → 1.42-1.65 s, sim_pq_retrain_recall
    5.07 → 6.1-7.6 s, interleaved same-container trials): each
    broadcast exchange costs a fixed ~0.2 s on this harness and the
    BNLJ splits the encode/ADC projection out of one codegen region,
    while Catalyst constant-folds the literal arrays to a single
    Literal value anyway (no per-row penalty). See
    OPTIMIZATION_r12.md."""
    rows = ", ".join(
        "array("
        + ", ".join(f"{cbsub[(m, c)][d]!r}D" for d in range(PQ_DSUB))
        + ")"
        for c in range(PQ_K)
    )
    return (
        f"transform(array({rows}), cv -> "
        f"aggregate(zip_with(slice(_nv, {m * PQ_DSUB + 1}, {PQ_DSUB}), cv, "
        "(x, y) -> (x - y) * (x - y)), 0.0D, (a, v) -> a + v))"
    )


def _adc_expr(cbsub: dict, qv: list[float]) -> str:
    """ADC score for one normalized query vector: per subspace the
    query→codeword distance table is computed DRIVER-side (left-fold,
    the oracle's order) and looked up by the row's code; the 8 lookups
    chain '+' in subspace order so the sum is bit-identical
    cross-engine."""
    lookups = []
    for m in range(PQ_M):
        tabs = []
        for c in range(PQ_K):
            acc = 0.0
            for d in range(PQ_DSUB):
                diff = qv[m * PQ_DSUB + d] - cbsub[(m, c)][d]
                acc = acc + diff * diff
            tabs.append(f"{acc!r}D")
        lookups.append(f"element_at(array({', '.join(tabs)}), _c{m} + 1)")
    return " + ".join(lookups)


def sim_pq_topk(
    spark: SparkSession, sf_dir: str, shortlist: int | None = None
) -> DataFrame:
    """Product-quantization ANN: each corpus vector compresses to
    ``PQ_M`` one-byte codes (argmin codebook entry per 8-dim
    subvector); a query scores candidates by ADC — the sum of
    precomputed query→centroid subspace distances looked up by code —
    never touching the full vector. The third ANN tier next to IVF
    (coarse partition) and hyperplane LSH (bucket collision): PQ is
    the in-memory-compression tier (64 floats → 8 bytes, 32×), the
    standard large-scale ANN memory layout.

    Vectors are L2-normalized before encoding (in-plan for the corpus,
    driver-side for codebook and queries), so ADC's L2 ranking is
    order-equivalent to the cosine ranking the exact tiers use — the
    standard PQ-for-cosine reduction.

    Scale shape: the codebook (K·dim doubles) and the per-query
    distance tables (|queries|·M·K doubles) are driver-computed and
    enter the plan as broadcast literals — normalize, encode, and ADC
    are pure per-row projections, ZERO shuffles up to the final
    per-query top-k window over the 5-query scored stream. Distance
    expressions are built as SQL strings parsed JVM-side (the
    py4j-round-trip lesson from the hyperplane bands), and every
    double fold runs in the same left-to-right order in Spark, the
    driver Python, and the DuckDB oracle, so ADC values are
    bit-identical cross-engine."""
    cb = _pq_codebook(spark, sf_dir)
    cbsub = _cb_subspace(cb)
    emb = emb_table(spark, sf_dir)
    qvecs = _query_nvecs(emb)

    def band_dists_expr(m: int) -> str:
        return _band_dists_expr(cbsub, m)

    normalized = spread(emb).select("vec_id", F.expr(NV_EXPR).alias("_nv"))
    encoded = normalized.select(
        "vec_id",
        "_nv",
        *[F.expr(band_dists_expr(m)).alias(f"_pqd{m}") for m in range(PQ_M)],
    ).select(
        "vec_id",
        *[
            F.expr(
                f"CAST(array_position(_pqd{m}, array_min(_pqd{m})) - 1 AS INT)"
            ).alias(f"_c{m}")
            for m in range(PQ_M)
        ],
    )

    def adc_expr(q: int) -> str:
        return _adc_expr(cbsub, qvecs[q])

    per_query = F.array(
        *[
            F.struct(
                F.lit(q).cast("long").alias("query_id"),
                F.expr(adc_expr(q)).alias("adc"),
            )
            for q in sorted(qvecs)
        ]
    )
    scored = (
        encoded.select("vec_id", F.explode(per_query).alias("qa"))
        .select(F.col("qa.query_id").alias("query_id"), "vec_id", F.col("qa.adc").alias("adc"))
        .where(F.col("vec_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("vec_id").asc())
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if shortlist is not None:
        return ranked.where(F.col("rank") <= shortlist).select(
            "query_id", "vec_id"
        )
    return ranked.where(F.col("rank") <= TOP_K).select(
        "query_id", "rank", "vec_id", F.round("adc", 6).alias("adc")
    )


_PQ_SUBDIST_SQL = (
    "list_aggregate(list_transform("
    "list_zip(list_slice({a}, m * {dsub} + 1, m * {dsub} + {dsub}), "
    "list_slice({b}, m * {dsub} + 1, m * {dsub} + {dsub})), "
    "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) "
    "* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum')"
)

_PQ_NORM_SQL = (
    "list_transform(embedding, x -> CAST(x AS DOUBLE) / "
    "sqrt(list_aggregate(list_transform(embedding, "
    "y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum')))"
)

#: shared CTE chain (normalize → codebook → encode → query distance
#: tables → ADC → rank) used by both the raw-ADC and rerank oracles
_PQ_CTES_SQL = f"""WITH norme AS (
  SELECT vec_id, {_PQ_NORM_SQL} AS nv FROM embeddings
), donors AS (
  -- gap-tolerant donor rule (twin of pq_donor_pref): stride ids
  -- first, then smallest valid ids; c = rank by vec_id (== vec_id //
  -- stride when all stride donors are present)
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS c, cv FROM (
    SELECT vec_id, nv AS cv FROM norme
    ORDER BY {SQL_PQ_DONOR_PREF}, vec_id
    LIMIT {PQ_K}
  )
), subs AS (
  SELECT unnest(range({PQ_M})) AS m
), enc AS (
  SELECT vec_id, m, c,
         ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist ASC, c ASC) AS rn
  FROM (
    SELECT e.vec_id, s.m, d.c,
           {_PQ_SUBDIST_SQL.format(a='e.nv', b='d.cv', dsub=PQ_DSUB)} AS dist
    FROM norme e CROSS JOIN donors d CROSS JOIN subs s
  )
), codes AS (
  SELECT vec_id, m, c FROM enc WHERE rn = 1
), dtab AS (
  SELECT q.vec_id AS query_id, s.m, d.c,
         {_PQ_SUBDIST_SQL.format(a='q.nv', b='d.cv', dsub=PQ_DSUB)} AS qdist
  FROM norme q CROSS JOIN donors d CROSS JOIN subs s
  WHERE q.vec_id < {N_QUERIES}
), adc AS (
  SELECT t.query_id, cd.vec_id,
         {' + '.join(f"MAX(CASE WHEN cd.m = {m} THEN t.qdist END)" for m in range(PQ_M))} AS adc
  FROM codes cd JOIN dtab t ON t.m = cd.m AND t.c = cd.c
  WHERE cd.vec_id <> t.query_id
  GROUP BY 1, 2
), ranked AS (
  SELECT query_id, vec_id, adc,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc ASC, vec_id ASC) AS rank
  FROM adc
)"""

SIM_PQ_SQL = f"""
{_PQ_CTES_SQL}
SELECT query_id, rank, vec_id, round(adc, 6) AS adc FROM ranked WHERE rank <= {TOP_K}
"""


PQ_SHORTLIST = 50  # ADC shortlist size the exact re-rank scans


def sim_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard two-stage PQ pipeline: ADC over the 8-byte codes
    shortlists ``PQ_SHORTLIST`` candidates per query (32×-compressed
    scan, zero full-vector reads), then exact cosine re-ranks only the
    shortlist to the final top-k. Measured on this corpus: shortlist-50
    holds ~0.6 of the exact top-10 while touching full vectors for
    only shortlist/corpus of the data — at 100 TB the full vectors
    live on disk and ONLY shortlisted ids fetch them (here: a
    broadcast-able shortlist joined back to the embeddings table).
    """
    short = sim_pq_topk(spark, sf_dir, shortlist=PQ_SHORTLIST)
    emb = emb_table(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    cands = F.broadcast(short).join(
        emb.select("vec_id", "embedding", "label"), "vec_id"
    ).join(F.broadcast(queries), F.col("query_id") == F.col("qid"))
    scored = cands.select(
        "query_id",
        "vec_id",
        "label",
        cosine("qvec", "embedding").alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "vec_id", "label", "sim")
    )


SIM_PQ_RERANK_SQL = f"""
{_PQ_CTES_SQL},
shortlist AS (
  SELECT query_id, vec_id FROM ranked WHERE rank <= {PQ_SHORTLIST}
), rescored AS (
  SELECT s.query_id, s.vec_id, e.label,
         {_sql_cosine('q.embedding', 'e.embedding')} AS sim
  FROM shortlist s
  JOIN embeddings e ON e.vec_id = s.vec_id
  JOIN embeddings q ON q.vec_id = s.query_id
), rr AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rrank
  FROM rescored
)
SELECT query_id, rrank AS rank, vec_id, label, sim FROM rr WHERE rrank <= {TOP_K}
"""


#: recall@k floor the IVF multiprobe tier must clear against the exact
#: brute-force baseline. The floor IS SF-sensitive because the probe
#: count is fixed while the centroid count grows with the corpus:
#: 4/5 probed buckets at 500 vectors measures ~0.9-0.96 recall, but
#: 4/20 at 2000 vectors (sf0.1) measures 0.3-1.0 per query — correct
#: IVF behavior, just a smaller probed fraction. 0.25 sits under every
#: measured per-query value at all tested SFs while still tripping on
#: real regressions (probe loss / bucket-assignment bugs drive recall
#: toward the random baseline k/n ≈ 0.005-0.02).
IVF_RECALL_FLOOR = 0.25


def _recall_contract(exact: DataFrame, approx: DataFrame, floor: float) -> DataFrame:
    """Per-query recall@k of ``approx`` against the exact top-k,
    reduced to a driver-checkable boolean: ``recall_ok`` ⇔ the
    approximate tier returned ≥ ``floor``·k of the true neighbors.
    Left join exact→approx on (query_id, vec_id); both inputs are
    deterministic so the booleans are reproducible."""
    exact = exact.select("query_id", "vec_id")
    approx = approx.select(F.col("query_id").alias("aq"), F.col("vec_id").alias("av"))
    hits = exact.join(
        approx,
        (F.col("query_id") == F.col("aq")) & (F.col("vec_id") == F.col("av")),
        "left",
    )
    return hits.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("k"),
        (F.count("av") >= F.lit(floor) * F.count(F.lit(1))).alias("recall_ok"),
    )


def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated ANN quality contract (the a6_approx_distinct
    pattern applied to retrieval): per query, the exact top-k neighbor
    count and whether IVF multiprobe recall@k clears
    ``IVF_RECALL_FLOOR``. Both sub-plans are deterministic (fixed
    centroids, tie-breaks on vec_id), so ``recall_ok`` is reproducible;
    the DuckDB oracle recomputes the exact side and asserts the
    booleans TRUE — certifying the approximate tier against ground
    truth without comparing engine internals. Scale: this is the
    recall-evaluation job an ANN deployment runs on a sampled query
    set; the exact side is O(n·|queries|) with broadcast queries, the
    IVF side probes buckets only."""
    return _recall_contract(
        sim_bruteforce_topk(spark, sf_dir),
        sim_ivf_topk(spark, sf_dir),
        IVF_RECALL_FLOOR,
    )


SIM_IVF_RECALL_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q.query_id, e.vec_id,
         {_sql_cosine('q.qvec', 'e.embedding')} AS sim
  FROM q CROSS JOIN embeddings e
  WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k, TRUE AS recall_ok
FROM ranked WHERE rank <= {TOP_K}
GROUP BY query_id
"""


#: recall@k floors for the other two ANN tiers (VERDICT r4 #5 — extend
#: the IVF recall-contract pattern). Like IVF_RECALL_FLOOR these sit
#: under every measured per-query value at sf0.001/0.01/0.1 while still
#: tripping on real regressions (band loss / codebook corruption drives
#: recall toward the random baseline k/n ≈ 0.005-0.02):
#: - LSH: banded hyperplane candidates rerank by exact cosine — measured
#:   per-query recall@10 min 0.6 at sf0.001/0.01/0.1 (candidate sets
#:   shrink relatively as the corpus grows but near-neighbors stay
#:   banded); floor 0.3 = half the worst measurement.
#: - PQ+rerank: 8-byte ADC shortlist of PQ_SHORTLIST=50 then exact
#:   rerank — measured per-query recall@10 min 0.2 (sf0.1, fixed
#:   shortlist over a growing corpus — the same fixed-parameter decay
#:   as IVF). Floor 0.15 sits below it without an exact-boundary tie
#:   (0.15·k is never an integer for k=10).
LSH_RECALL_FLOOR = 0.3
PQ_RECALL_FLOOR = 0.15


def sim_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for the hyperplane-LSH tier: per query, TRUE iff
    LSH top-k retains ≥ ``LSH_RECALL_FLOOR``·k of the exact top-k.
    Driver-verifiable quality certificate for the bucket-join ANN path
    (same shape as ``sim_ivf_recall``)."""
    return _recall_contract(
        sim_bruteforce_topk(spark, sf_dir),
        sim_lsh_topk(spark, sf_dir),
        LSH_RECALL_FLOOR,
    )


def sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for the PQ shortlist+rerank tier: per query,
    TRUE iff the reranked top-k retains ≥ ``PQ_RECALL_FLOOR``·k of the
    exact top-k — certifying the 32×-compressed ADC scan finds enough
    true neighbors for the exact rerank to fix the ordering."""
    return _recall_contract(
        sim_bruteforce_topk(spark, sf_dir),
        sim_pq_rerank_topk(spark, sf_dir),
        PQ_RECALL_FLOOR,
    )


# both oracles recompute the exact side only (the contract asserts the
# approximate tier's booleans TRUE — same shape as SIM_IVF_RECALL_SQL)
SIM_LSH_RECALL_SQL = SIM_IVF_RECALL_SQL
SIM_PQ_RECALL_SQL = SIM_IVF_RECALL_SQL


# ---------------------------------------------------------------------------
# MMR diversity rerank

MMR_POOL = 50  # exact top-candidates entering the greedy selection
MMR_K = 10  # results per query
# λ = 0.7 expressed as integer weights: score_i = 7·qsim_i − 3·maxsim_i
# in 1e-7 units — the greedy argmax compares exact int64s, so the
# selection order is bit-identical across engines by construction.


def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance rerank: from the exact top-``MMR_POOL``
    pool, greedily pick ``MMR_K`` results balancing query relevance
    against redundancy with what's already picked — score(d) = λ·sim(q,d)
    − (1−λ)·max_{s∈selected} sim(d,s), λ=0.7, first pick = plain top-1.
    The diversity-aware retrieval step a training-data pipeline runs so
    k near-identical documents don't fill all k slots.

    Plan shape for 100 TB: relevance scoring and the candidate×candidate
    similarity matrix are JVM-side (broadcast query set → O(n) scan,
    then a pool×pool self-join — 2 500 rows/query, never the corpus);
    the greedy selection is inherently sequential in k, so it runs
    per-query in ``applyInPandas`` over the tiny pair matrix. All
    float-sensitive math happens BEFORE Python: cosines are quantized
    to int64 micro-units JVM-side, the Python loop only compares exact
    integers (ties → lowest vec_id), so results are deterministic and
    oracle-exact — the DuckDB twin unrolls the k greedy steps as chained
    CTEs (the ``_sql_kmeans`` pattern).
    """
    import pandas as pd

    emb = emb_table(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = emb.select("vec_id", "embedding")
    scored = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "embedding",
            cosine("qvec", "embedding").alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    cand = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= MMR_POOL)
        .select(
            "query_id",
            "vec_id",
            # floor(x*1e6 + 0.5), not round(x*1e6): engine round() of a
            # double diverges on .5 micro-unit boundaries (Spark rounds
            # the shortest decimal rendering, DuckDB the binary double);
            # floor(+0.5) is one IEEE expression both engines evaluate
            # bit-identically. Half-toward-+inf on negative cosines —
            # consistent across engines, which is all quantization needs.
            F.floor(F.col("sim") * 1e6 + F.lit(0.5)).cast("long").alias("qsim_i"),
            "embedding",
        )
    )
    cb = cand.select(
        F.col("query_id").alias("qb"),
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"),
    )
    pairs = (
        cand.join(cb, (F.col("qb") == F.col("query_id")) & (F.col("vb") != F.col("vec_id")))
        .select(
            "query_id",
            F.col("vec_id").alias("va"),
            "qsim_i",
            "vb",
            F.floor(cosine("embedding", "eb") * 1e6 + F.lit(0.5))
            .cast("long")
            .alias("psim_i"),
        )
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        qs: dict[int, int] = {}
        psim: dict[tuple[int, int], int] = {}
        for va, qsim_i, vb, psim_i in zip(
            pdf["va"], pdf["qsim_i"], pdf["vb"], pdf["psim_i"]
        ):
            qs[int(va)] = int(qsim_i)
            psim[(int(va), int(vb))] = int(psim_i)
        out = [
            (qid, r, d, sc / 1e7)
            for r, d, sc in _mmr_greedy(qs, psim, MMR_K)
        ]
        return pd.DataFrame(out, columns=["query_id", "mmr_rank", "vec_id", "score"])

    return pairs.groupBy("query_id").applyInPandas(
        greedy, "query_id long, mmr_rank int, vec_id long, score double"
    )


def _mmr_greedy(
    qs: dict[int, int], psim: dict[tuple[int, int], int], k: int
) -> list[tuple[int, int, int]]:
    """The sequential MMR core over exact integers: pick k items, each
    maximizing ``7·qsim_i − 3·max_{s∈selected} psim_i`` (λ=0.7 in
    1e-7 units; empty selection → 0), ties to the lowest id. Pure and
    deterministic — property-tested independently of Spark."""
    remaining = sorted(qs)  # ascending id → lowest id wins ties
    selected: list[int] = []
    out: list[tuple[int, int, int]] = []
    for r in range(1, k + 1):
        if not remaining:
            break
        best, best_sc = None, None
        for d in remaining:
            mx = max((psim[(d, s)] for s in selected), default=0)
            sc = 7 * qs[d] - 3 * mx
            if best_sc is None or sc > best_sc:  # strict > keeps first
                best, best_sc = d, sc
        selected.append(best)
        remaining.remove(best)
        out.append((r, best, best_sc))
    return out


def _sql_mmr(pool: int = MMR_POOL, k: int = MMR_K) -> str:
    """Unrolled greedy MMR (the ``_sql_kmeans`` pattern): sel{i} carries
    the i picks so far; p{i+1} re-scores the unpicked candidates against
    sel{i} and takes rank 1. All scores are exact int64 micro-units.

    Every sel{i} is MATERIALIZED: each step references sel{i-1} three
    times (max-sim join, NOT-EXISTS filter, UNION carry-forward), so
    default CTE inlining would expand the plan 3^k-fold — observed as
    DuckDB exhausting file handles re-scanning the parquet ~59k times
    at k=10."""
    parts = [
        f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q.query_id, e.vec_id, e.embedding,
         {_sql_cosine('q.qvec', 'e.embedding')} AS sim
  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
  FROM scored
), cand AS MATERIALIZED (
  SELECT query_id, vec_id,
         CAST(floor(sim * 1000000 + 0.5) AS BIGINT) AS qsim_i, embedding
  FROM ranked WHERE rank <= {pool}
), pair AS MATERIALIZED (
  SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
         CAST(floor({_sql_cosine('a.embedding', 'b.embedding')} * 1000000 + 0.5) AS BIGINT) AS psim_i
  FROM cand a JOIN cand b ON b.query_id = a.query_id AND b.vec_id <> a.vec_id
), p1 AS (
  SELECT query_id, vec_id, score_i FROM (
    SELECT query_id, vec_id, 7 * qsim_i AS score_i,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY 7 * qsim_i DESC, vec_id ASC) AS rn
    FROM cand
  ) t WHERE rn = 1
), sel1 AS MATERIALIZED (
  SELECT query_id, vec_id, 1 AS mmr_rank, score_i FROM p1
)"""
    ]
    for i in range(2, k + 1):
        parts.append(
            f""", p{i} AS (
  SELECT query_id, vec_id, score_i FROM (
    SELECT c.query_id, c.vec_id,
           7 * c.qsim_i - 3 * COALESCE(m.mx, 0) AS score_i,
           row_number() OVER (PARTITION BY c.query_id
                              ORDER BY 7 * c.qsim_i - 3 * COALESCE(m.mx, 0) DESC,
                                       c.vec_id ASC) AS rn
    FROM cand c
    LEFT JOIN (
      SELECT p.query_id, p.va, MAX(p.psim_i) AS mx
      FROM pair p JOIN sel{i - 1} s ON s.query_id = p.query_id AND s.vec_id = p.vb
      GROUP BY p.query_id, p.va
    ) m ON m.query_id = c.query_id AND m.va = c.vec_id
    WHERE NOT EXISTS (
      SELECT 1 FROM sel{i - 1} s2
      WHERE s2.query_id = c.query_id AND s2.vec_id = c.vec_id
    )
  ) t WHERE rn = 1
), sel{i} AS MATERIALIZED (
  SELECT * FROM sel{i - 1}
  UNION ALL SELECT query_id, vec_id, {i} AS mmr_rank, score_i FROM p{i}
)"""
        )
    parts.append(
        f"""
SELECT query_id, mmr_rank, vec_id,
       CAST(score_i AS DOUBLE) / 10000000.0 AS score
FROM sel{k}"""
    )
    return "".join(parts)


SIMILARITY_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "sim_bruteforce_topk": sim_bruteforce_topk,
    "sim_range_search": sim_range_search,
    "sim_label_centroid_dist": sim_label_centroid_dist,
    "sim_ivf_topk": sim_ivf_topk,
    "sim_lsh_topk": sim_lsh_topk,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_embedding_resolve": dedup_embedding_resolve,
    "sim_knn_graph": sim_knn_graph,
    "sim_quantize": sim_quantize,
    "sim_ivf_recall": sim_ivf_recall,
    "sim_lsh_recall": sim_lsh_recall,
    "sim_pq_recall": sim_pq_recall,
    "sim_mmr_rerank": sim_mmr_rerank,
    "sim_pq_topk": sim_pq_topk,
    "sim_pq_rerank_topk": sim_pq_rerank_topk,
}

SIMILARITY_ORACLES: dict[str, str] = {
    name: guard_table_sql(sql, "embeddings", SQL_EMB_OK)
    for name, sql in {
        "sim_bruteforce_topk": SIM_BRUTEFORCE_SQL,
        "sim_range_search": SIM_RANGE_SQL,
        "sim_label_centroid_dist": SIM_LABEL_CENTROID_SQL,
        "sim_ivf_topk": SIM_IVF_SQL,
        "sim_lsh_topk": _sql_lsh_topk(),
        "dedup_embedding_cosine": _sql_embedding_dedup(),
        "dedup_embedding_resolve": _sql_embedding_resolve(),
        "sim_knn_graph": _sql_knn_graph(),
        "sim_quantize": SIM_QUANTIZE_SQL,
        "sim_ivf_recall": SIM_IVF_RECALL_SQL,
        "sim_lsh_recall": SIM_LSH_RECALL_SQL,
        "sim_pq_recall": SIM_PQ_RECALL_SQL,
        "sim_mmr_rerank": _sql_mmr(),
        "sim_pq_topk": SIM_PQ_SQL,
        "sim_pq_rerank_topk": SIM_PQ_RERANK_SQL,
    }.items()
}


# ---------------------------------------------------------------------------
# hard-negative mining (contrastive training pairs)

#: presumed-relevant horizon: ranks 1..HN_SKIP are treated as positives
#: /near-positives and excluded from the negative pool — the mined
#: negatives start just past the retrieval cutoff, which is where the
#: hardest (most confusable) negatives live
HN_SKIP = TOP_K
HN_K = 5  # hard negatives mined per anchor


def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining over the embedding corpus: per
    anchor, ONE positive (the nearest neighbor) plus the ``HN_K``
    hardest negatives — the most-similar vectors BEYOND the presumed-
    relevant top-``HN_SKIP``. This is the batch-mining step an
    embedding-training pipeline runs between epochs (in-batch negatives
    are easy; ranks just past the retrieval cutoff are the gradient-
    rich ones). One ranking window serves both roles, so the plan is
    exactly the exact-tier scan + a single row_number — at corpus scale
    the shortlist comes from the IVF/LSH tiers instead and the window
    runs on the shortlist only."""
    emb = emb_table(spark, sf_dir)
    anchors = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = spread(emb).select("vec_id", "embedding")
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    ranked = (
        F.broadcast(anchors)
        .crossJoin(corpus)
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine("qvec", "embedding").alias("sim"),
        )
        .withColumn("rank", F.row_number().over(w))
    )
    return ranked.where(
        (F.col("rank") == 1)
        | F.col("rank").between(HN_SKIP + 1, HN_SKIP + HN_K)
    ).select(
        "query_id",
        F.when(F.col("rank") == 1, F.lit("pos"))
        .otherwise(F.lit("hard_neg"))
        .alias("role"),
        "rank",
        "vec_id",
        "sim",
    )


SIM_HARD_NEG_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  WHERE vec_id < {N_QUERIES}
), ranked AS (
  SELECT q.query_id, e.vec_id,
         {_sql_cosine('q.qvec', 'e.embedding')} AS sim,
         row_number() OVER (
           PARTITION BY q.query_id
           ORDER BY {_sql_cosine('q.qvec', 'e.embedding')} DESC, e.vec_id ASC
         ) AS rank
  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id
)
SELECT query_id,
       CASE WHEN rank = 1 THEN 'pos' ELSE 'hard_neg' END AS role,
       CAST(rank AS INT) AS rank, vec_id, sim
FROM ranked
WHERE rank = 1 OR rank BETWEEN {HN_SKIP + 1} AND {HN_SKIP + HN_K}
"""

SIMILARITY_QUERIES["sim_hard_negatives"] = sim_hard_negatives
SIMILARITY_ORACLES["sim_hard_negatives"] = guard_table_sql(
    SIM_HARD_NEG_SQL, "embeddings", SQL_EMB_OK
)


def sim_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-health report: per-centroid assignment counts with
    each bucket's ratio to the mean — the audit an ANN serving stack
    reads before retraining its coarse quantizer. Probe cost is
    bucket-size-bound (a query scans its n_probes buckets), so one hot
    bucket means every query probing it pays its size: at 100 TB a
    10× ratio on one centroid is the signal to re-train or split (the
    `m_partition_skew_report` of the learned partitioning — same stat,
    learned key). Plan: the shared `assign_buckets` literal-roster argmax
    (k×d centroid literals against the scan, never a vector shuffle),
    ONE hash aggregate on centroid_id, and the ratio in a global
    window over the ≤``N_CENTROIDS_CAP``-row aggregate.

    No reference counterpart (extension operator; the ANN family's ops
    face alongside sim_ivf_topk/sim_ivf_recall)."""
    emb = emb_table(spark, sf_dir)
    counts = assign_buckets(emb).groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    w = Window.partitionBy()
    return counts.select(
        "centroid_id",
        "n_vectors",
        F.round(
            F.col("n_vectors").cast("double")
            * F.count(F.lit(1)).over(w)
            / F.sum("n_vectors").over(w).cast("double"),
            6,
        ).alias("ratio_to_mean"),
    ).orderBy("centroid_id")


SIM_IVF_BALANCE_SQL = f"""
WITH cents AS (
  SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings
  WHERE vec_id % {CENTROID_STRIDE} = 0 AND vec_id < {CENTROID_STRIDE * N_CENTROIDS_CAP}
), assigned AS (
  SELECT e.vec_id, c.centroid_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_sql_cosine('c.cvec', 'e.embedding')} DESC, c.centroid_id ASC
         ) AS r
  FROM embeddings e CROSS JOIN cents c
), counts AS (
  SELECT centroid_id, COUNT(*) AS n_vectors
  FROM assigned WHERE r = 1 GROUP BY centroid_id
)
SELECT centroid_id,
       n_vectors,
       round(CAST(n_vectors AS DOUBLE) * COUNT(*) OVER ()
             / CAST(SUM(n_vectors) OVER () AS DOUBLE), 6) AS ratio_to_mean
FROM counts ORDER BY centroid_id
"""

SIMILARITY_QUERIES["sim_ivf_balance"] = sim_ivf_balance
SIMILARITY_ORACLES["sim_ivf_balance"] = guard_table_sql(
    SIM_IVF_BALANCE_SQL, "embeddings", SQL_EMB_OK
)


KMEANS_ROUNDS = 3  # Lloyd iterations; convergence data in SCALE.md


def _py_norm(vec: list[float]) -> float:
    """Left-fold sum of squares then sqrt — the exact fold order
    ``_norm`` evaluates, so the value is bit-identical to the in-plan
    norm (the ``_l2_normalize``/``_dotp`` driver-side-float
    precedent)."""
    acc = 0.0
    for x in vec:
        acc = acc + x * x
    return acc ** 0.5


def _collect_centroid_rows(emb: DataFrame) -> list[tuple[int, list[float]]]:
    """The deterministic serving roster as driver state: K ≤
    ``N_CENTROIDS_CAP`` (centroid_id, vector) pairs, id-ascending — the
    same bounded index-sized collect class as ``_pq_codebook``'s
    donors."""
    rows = emb.where(_centroid_filter()).select("vec_id", "embedding").collect()
    return sorted(
        (int(r.vec_id), [float(x) for x in r.embedding]) for r in rows
    )


def _roster_fold_sql(roster: list[tuple[int, list[float]]]) -> str:
    """The in-row argmax fold over a LITERAL roster — the bounded k×d
    training state entering the plan as array literals (the
    hyperplane/ADC lesson: built as ONE SQL string parsed JVM-side, so
    driver time never scales with K×d py4j round-trips). Dot and norm
    are the same left-to-right ``aggregate`` folds as ``cosine``,
    ``cn`` is the Python left-fold norm (bit-identical to ``_norm`` —
    ``_py_norm``), ties keep the first strictly-greater sim over the
    id-ascending array.

    Optimization round 12 kept the LITERAL form deliberately: the
    1-row-broadcast-LocalRelation binding VERDICT r11 #2 suggested
    measured SLOWER on every trainer in an interleaved A/B
    (sim_kmeans_train 3.32 → 3.8-4.3 s, sim_ivf_retrain_recall 5.08 →
    5.2-5.6 s) — the per-consumer broadcast exchange's fixed cost
    exceeds the literal parse it saves, and Catalyst constant-folds
    the literal roster to one Literal value anyway. See
    OPTIMIZATION_r12.md."""
    entries = ", ".join(
        "named_struct('centroid_id', CAST({cid} AS BIGINT), "
        "'cn', {cn!r}D, 'cvec', array({vs}))".format(
            cid=cid,
            cn=_py_norm(vec),
            vs=", ".join(f"{x!r}D" for x in vec),
        )
        for cid, vec in roster
    )
    dot = (
        "aggregate(zip_with(c.cvec, embedding, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (a2, v) -> a2 + v)"
    )
    sim = f"round({dot} / (c.cn * _en), 6)"
    return (
        f"aggregate(array({entries}), "
        "named_struct('sim', CAST(-2.0 AS DOUBLE), 'cid', CAST(-1 AS BIGINT)), "
        f"(acc, c) -> IF({sim} > acc.sim, "
        f"named_struct('sim', {sim}, 'cid', c.centroid_id), acc))"
    )


_EN_SQL = (
    "sqrt(aggregate(embedding, CAST(0.0 AS DOUBLE), "
    "(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
)


def _assign_literal(
    emb: DataFrame, roster: list[tuple[int, list[float]]]
) -> DataFrame:
    """The cosine nearest-centroid kernel — every IVF assignment, the
    k-means E-step and the streaming index maintainer run through it.
    The roster is driver-side literal state: one flat projection per
    corpus row (scan → fold), no roster aggregate, no crossJoin, no
    per-round lineage to truncate — the plan Catalyst analyzes once
    instead of once per checkpoint, and a stream accepts it as a
    stateless projection. Every input column passes through, followed
    by ``_en`` (the row's hoisted norm, reusable by downstream exact
    scoring), ``centroid_id`` and ``sim``."""
    fold = _roster_fold_sql(roster)
    cols = [f"`{c}`" for c in emb.columns]
    # fold lands in one alias, fields extract in a second Project
    # (multi-use aliases block CollapseProject → single evaluation)
    return (
        emb.selectExpr(*cols, f"{_EN_SQL} AS _en")
        .selectExpr(*cols, "_en", f"{fold} AS _best")
        .selectExpr(
            *cols, "_en", "_best.cid AS centroid_id", "_best.sim AS sim"
        )
    )


def _lloyd(
    assign: Callable[[dict], DataFrame],
    state: dict[tuple[int, ...], list[float]],
    keys: tuple[str, ...],
    rounds: int,
) -> dict[tuple[int, ...], list[float]]:
    """The Lloyd loop shared by the k-means and PQ trainers, with
    DRIVER-side state: ``state`` maps each cluster key (one int per
    ``keys`` column) to its vector, and ``assign(state)`` is the
    caller's E-step, returning the ``keys`` columns followed by each
    member's vector. Per round ONE job: E-step map → posexplode →
    map-side-combined (keys…, pos) mean of exact DECIMAL(27,10) sums
    rounded to 6 dp (decimal sums are associative, so the means are
    bit-stable across partitionings AND engines — the
    ``label_centroids`` discipline) → collect; a cluster that lost
    every member keeps its previous vector. State is index-sized
    forever (the MLlib KMeans per-iteration collect class), and
    collected means round-trip exactly (IEEE doubles both ways)."""
    for _ in range(rounds):
        assigned = assign(state)
        means = (
            assigned.select(
                *keys, F.posexplode(assigned.columns[-1]).alias("pos", "x")
            )
            .groupBy(*keys, "pos")
            .agg(
                F.round(
                    F.sum(
                        F.col("x").cast("double").cast("decimal(27,10)")
                    ).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("_mean")
            )
            .collect()
        )
        bypos: dict[tuple[int, ...], dict[int, float]] = {}
        for r in means:
            key = tuple(int(r[k]) for k in keys)
            bypos.setdefault(key, {})[int(r.pos)] = float(r._mean)
        state = {
            key: (
                [bypos[key][p] for p in range(len(prev))]
                if key in bypos
                else prev
            )
            for key, prev in state.items()
        }
    return state


def kmeans_train_roster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means TRAINING over the gated embeddings
    corpus — the retrain step ``sim_ivf_balance``'s hot-bucket signal
    calls for, seeded from the serving roster it would replace (the
    deterministic ``_centroid_filter`` centroids sim_ivf_topk probes).

    Per round (``_lloyd``): E-step = in-row argmax against the literal
    roster (``_assign_literal``); M-step = per-cluster per-dimension
    mean in exact DECIMAL(27,10) sums (the ``label_centroids``
    discipline — float groupBy sums are accumulation-order-
    nondeterministic, decimal sums are associative, so centroids are
    bit-stable across partitionings AND engines); a cluster that loses
    every member keeps its previous centroid. Round state lives on the
    driver, so round r+1 never replans rounds 1..r. Output: the
    trained roster after ``KMEANS_ROUNDS`` rounds with each cluster's
    final membership and mean cosine cohesion (clusters empty under
    the FINAL roster are dropped by the inner stats join, on both
    engines).

    Scale shape: state is k×d ≤ 20×64 doubles forever; per round the
    corpus is touched by one map (E-step) and one (centroid, dim)
    aggregate whose map-side combine bounds shuffle traffic at
    partitions×K×d rows — never a vector shuffle. No reference
    counterpart (extension operator; the ANN family's training tier).
    """
    # one spread + lazy localCheckpoint of the gated corpus: the 3
    # Lloyd rounds and the final assignment are 4 full passes that
    # previously each re-scanned the single-row-group store AND ran
    # their K×d argmax fold in one task (optimization round 11, guide
    # §2.4/§5 — materialize once, fan the fold out to every core; a
    # cluster-scale scan already arrives wide, spread() no-ops there)
    emb = spread(emb_table(spark, sf_dir)).transform(materialize)
    cents = _kmeans_train_lists(emb)
    final = _assign_literal(emb, cents)
    stats = final.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.round(
            F.sum(F.col("sim").cast("decimal(27,10)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_sim"),
    )
    cents_df = local_rows(spark, cents, "centroid_id long, cvec array<double>")
    return (
        cents_df.join(stats, "centroid_id")
        .select("centroid_id", "n_members", "mean_sim", "cvec")
        .orderBy("centroid_id")
    )


def _kmeans_train_lists(emb: DataFrame) -> list[tuple[int, list[float]]]:
    """The Lloyd loop itself: ``KMEANS_ROUNDS`` rounds of in-row-argmax
    E-step + DECIMAL M-step over the gated corpus ``emb``, returning
    the FULL trained roster (all K rows, empty clusters kept at their
    previous centroid) as driver-side state — shared by
    ``kmeans_train_roster`` (which joins final membership stats) and
    ``sim_ivf_retrain_recall`` (which needs every centroid as a probe
    target, member or not).

    Each round is one ``_lloyd`` job over the literal-roster E-step
    (``_assign_literal``) — the pure-Python Lloyd twin test pins the
    trained roster bit for bit.
    """
    trained = _lloyd(
        lambda st: _assign_literal(
            emb, [(cid, vec) for (cid,), vec in st.items()]
        ).select("centroid_id", "embedding"),
        {(cid,): vec for cid, vec in _collect_centroid_rows(emb)},
        ("centroid_id",),
        KMEANS_ROUNDS,
    )
    return [(cid, vec) for (cid,), vec in trained.items()]


def sim_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered (driver-facing) face of ``kmeans_train_roster``: the
    trained roster with each centroid FLATTENED to one row per
    dimension — ``(centroid_id, n_members, mean_sim, pos, val)``. The
    driver's correctness canonicalizer sorts result frames in pandas
    and cannot hash array cells (CORRECTNESS_r09: ``TypeError:
    unhashable type: 'list'`` — VERDICT r9 item 1), so registered
    query outputs are scalar-columns-only by contract
    (``tools/check_oracle.py`` now enforces this in-repo); engine
    callers that want the ``array<double>`` roster use
    ``kmeans_train_roster`` directly. Same k×K·d output volume, one
    extra Generate node, no new shuffle."""
    roster = kmeans_train_roster(spark, sf_dir)
    return roster.select(
        "centroid_id",
        "n_members",
        "mean_sim",
        F.posexplode("cvec").alias("pos", "val"),
    ).orderBy("centroid_id", "pos")


def _sql_kmeans_cte_parts(rounds: int = KMEANS_ROUNDS) -> list[str]:
    """The unrolled Lloyd CTE chain ``WITH c0 … c{rounds}`` (the
    t_bpe_train oracle pattern): per round a window-ranked assignment
    (same tie rule as the Spark fold), a DECIMAL per-dimension mean,
    ordered-list reassembly, and the empty-cluster fallback threaded
    into the next round's roster. Shared by ``_sql_kmeans_train`` and
    ``_sql_ivf_retrain_recall`` (c0 doubles as the static roster)."""
    parts = [
        f"""WITH c0 AS (
  SELECT vec_id AS centroid_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
  FROM embeddings
  WHERE vec_id % {CENTROID_STRIDE} = 0
    AND vec_id < {CENTROID_STRIDE * N_CENTROIDS_CAP}
)"""
    ]
    for r in range(1, rounds + 1):
        prev = f"c{r - 1}"
        parts.append(
            f""", a{r} AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_sql_cosine('c.cvec', 'e.embedding')} DESC,
                    c.centroid_id ASC
         ) AS rn
  FROM embeddings e CROSS JOIN {prev} c
), d{r} AS (
  SELECT centroid_id,
         unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS pos
  FROM a{r} WHERE rn = 1
), m{r} AS (
  SELECT centroid_id, pos,
         round(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(27,10)))
                    AS DOUBLE) / COUNT(*), 6) AS m
  FROM d{r} GROUP BY centroid_id, pos
), n{r} AS (
  SELECT centroid_id, list(m ORDER BY pos) AS cvec
  FROM m{r} GROUP BY centroid_id
), c{r} AS (
  SELECT c.centroid_id, COALESCE(n.cvec, c.cvec) AS cvec
  FROM {prev} c LEFT JOIN n{r} n USING (centroid_id)
)"""
        )
    return parts


def _sql_kmeans_train(rounds: int = KMEANS_ROUNDS) -> str:
    """``_sql_kmeans_cte_parts`` plus the final assignment, membership
    stats, and the flattened scalar-only output select."""
    parts = _sql_kmeans_cte_parts(rounds)
    parts.append(
        f""", af AS (
  SELECT e.vec_id, c.centroid_id,
         {_sql_cosine('c.cvec', 'e.embedding')} AS sim,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_sql_cosine('c.cvec', 'e.embedding')} DESC,
                    c.centroid_id ASC
         ) AS rn
  FROM embeddings e CROSS JOIN c{rounds} c
), stats AS (
  SELECT centroid_id,
         CAST(COUNT(*) AS BIGINT) AS n_members,
         round(CAST(SUM(CAST(sim AS DECIMAL(27,10))) AS DOUBLE)
               / COUNT(*), 6) AS mean_sim
  FROM af WHERE rn = 1 GROUP BY centroid_id
), fin AS (
  SELECT c.centroid_id, s.n_members, s.mean_sim, c.cvec
  FROM c{rounds} c JOIN stats s USING (centroid_id)
)
SELECT centroid_id, n_members, mean_sim,
       CAST(generate_subscripts(cvec, 1) - 1 AS INT) AS pos,
       unnest(cvec) AS val
FROM fin ORDER BY centroid_id, pos"""
    )
    return "".join(parts)


SIMILARITY_QUERIES["sim_kmeans_train"] = sim_kmeans_train
SIMILARITY_ORACLES["sim_kmeans_train"] = guard_table_sql(
    _sql_kmeans_train(), "embeddings", SQL_EMB_OK
)


def _ivf_roster_report(
    emb: DataFrame,
    roster: list[tuple[int, list[float]]],
    exact: DataFrame,
    tag: str,
) -> DataFrame:
    """One roster's row of the retrain report: assign the corpus to
    ``roster`` (literal-state in-row argmax — the E-step plan), read
    bucket balance off the assignment, probe ``N_PROBES`` buckets per
    query, and count how many exact-top-k neighbors the probe
    retrieves. The roster is driver-side index-sized state (k×d — the
    ``_pq_codebook`` bounded class); probe selection stays Spark-side
    over its LocalRelation face so the rounded probe ranking never
    leaves the engine. Exact-rerank scoring reuses the assignment's
    hoisted ``_en`` plus a per-probe ``qn`` so each candidate pays one
    dot fold (bit-identical quotient — the sim_knn_graph precedent)."""
    spark = emb.sparkSession
    # the assignment feeds BOTH the bucket aggregate and the probe join
    # below — without a checkpoint the K×d argmax fold (the E-step, the
    # arm's dominant per-row cost) and the corpus read behind it execute
    # twice per arm (guide §2.4 / §5: materialize a reused intermediate
    # once; at corpus scale this is two full passes saved per arm)
    assigned = _assign_literal(emb, roster).transform(materialize)
    bstat = (
        assigned.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("sz"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.max("sz").cast("long").alias("max_size"),
            F.sum("sz").cast("long").alias("n_vectors"),
        )
    )
    cents = local_rows(spark, roster, "centroid_id long, cvec array<double>")
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("centroid_id").asc()
    )
    probes = (
        queries.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "qvec",
            "centroid_id",
            cosine("cvec", "qvec").alias("csim"),
        )
        .withColumn("pr", F.row_number().over(wq))
        .where(F.col("pr") <= N_PROBES)
        .select(
            "query_id",
            "qvec",
            _norm("qvec").alias("qn"),
            F.col("centroid_id").alias("qc"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("qsim").desc(), F.col("vec_id").asc()
    )
    ivf = (
        F.broadcast(probes)
        .join(
            assigned,
            (F.col("centroid_id") == F.col("qc"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "vec_id",
            F.round(
                _dot("qvec", "embedding")
                / (F.col("qn") * F.col("_en")),
                6,
            ).alias("qsim"),
        )
        .withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id")
    )
    hits = ivf.join(exact, ["query_id", "vec_id"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    n_exact = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    return (
        bstat.crossJoin(hits)
        .crossJoin(n_exact)
        .select(
            F.lit(tag).alias("roster"),
            "n_buckets",
            F.round(
                (F.col("max_size") * F.col("n_buckets")).cast("double")
                / F.col("n_vectors"),
                6,
            ).alias("peak_ratio"),
            "n_hits",
            F.round(
                F.col("n_hits").cast("double") / F.col("n_exact"), 6
            ).alias("recall"),
        )
    )


def sim_ivf_retrain_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF RETRAIN integration report (VERDICT r9 next-round #7) — the
    before/after certificate a retrain ships: the corpus is assigned
    once to the STATIC serving roster (``_centroid_filter``, what
    ``sim_ivf_topk`` probes today) and once to the roster
    ``kmeans_train_roster`` just trained from it, and each roster's
    row reports bucket balance (``peak_ratio`` = max bucket over the
    mean — the hot-bucket signal ``sim_ivf_balance`` watches) and
    IVF multiprobe retrieval quality against the exact top-k ground
    truth (``n_hits`` of ``n_queries×k``, as ``recall``). Reading the
    two rows side by side answers the operational question the
    training tier exists for: does swapping the roster improve
    balance without paying recall?

    Plan: the gated corpus is materialized ONCE (spread +
    localCheckpoint — optimization round 11, guide §2.4/§5: it is
    re-read by the 3 training rounds, both arms' assignments, the
    query panel, and the exact ground truth, i.e. ~8 passes that
    previously each re-scanned parquet single-task) and the exact
    side computes ONCE (localCheckpoint) feeding both rosters' hit
    joins; per roster the corpus is touched by one in-row-argmax map
    (``_assign_literal`` — no n×K explosion, checkpointed because the
    bucket aggregate and the probe join both consume it) plus one
    bucket aggregate, and the probe/rank stage is the ``sim_ivf_topk``
    shape over probed buckets only. All crossJoins are 1-row stats or
    the K-row roster — broadcast by construction. Floats: hit counts
    and bucket sizes are exact integers; the two output ratios are
    single int/int double divisions (parity-safe).
    """
    emb = spread(emb_table(spark, sf_dir)).transform(materialize)
    static = _collect_centroid_rows(emb)
    # the exact ground truth is INDEPENDENT of the training rounds
    # (both read only the materialized corpus), and the Lloyd loop is
    # a chain of sequential collect-round jobs that leave the cluster
    # under-used between collects — so the exact pass runs as a
    # CONCURRENT job from a driver thread and back-fills those gaps
    # (guide §2.6, overlap independent jobs; optimization round 12).
    # Values are untouched: the same exact frame materializes either
    # way, just eagerly and in parallel with training instead of
    # lazily inside the final job.
    exact, trained = overlap(
        spark,
        lambda: _bruteforce_topk_from(emb)
        .select("query_id", "vec_id")
        .transform(materialize, eager=True),  # feeds both rosters' hit joins
        lambda: _kmeans_train_lists(emb),
    )
    return (
        _ivf_roster_report(emb, static, exact, "static")
        .unionByName(_ivf_roster_report(emb, trained, exact, "trained"))
        .orderBy("roster")
    )


def _sql_ivf_retrain_recall(rounds: int = KMEANS_ROUNDS) -> str:
    """Twin of the retrain report: the shared Lloyd CTE chain (c0 is
    the static roster, c{rounds} the trained one), the exact top-k
    once, then per roster the window-ranked assignment, bucket stats,
    multiprobe retrieval, and the hit join."""
    parts = _sql_kmeans_cte_parts(rounds)
    parts.append(
        f""", q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  WHERE vec_id < {N_QUERIES}
), exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY {_sql_cosine('q.qvec', 'e.embedding')} DESC,
                      e.vec_id ASC
           ) AS rn
    FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id
  ) WHERE rn <= {TOP_K}
), nex AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact
)"""
    )
    for tag, src in (("static", "c0"), ("trained", f"c{rounds}")):
        parts.append(
            f""", asg_{tag} AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_cosine('c.cvec', 'e.embedding')} DESC,
                      c.centroid_id ASC
           ) AS rn
    FROM embeddings e CROSS JOIN {src} c
  ) WHERE rn = 1
), bstat_{tag} AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
         CAST(MAX(sz) AS BIGINT) AS max_size,
         CAST(SUM(sz) AS BIGINT) AS n_vectors
  FROM (SELECT centroid_id, COUNT(*) AS sz FROM asg_{tag} GROUP BY 1)
), pr_{tag} AS (
  SELECT query_id, qvec, centroid_id AS qc FROM (
    SELECT q.query_id, q.qvec, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY {_sql_cosine('c.cvec', 'q.qvec')} DESC,
                      c.centroid_id ASC
           ) AS pr
    FROM q CROSS JOIN {src} c
  ) WHERE pr <= {N_PROBES}
), ivf_{tag} AS (
  SELECT query_id, vec_id FROM (
    SELECT p.query_id, e.vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY p.query_id
             ORDER BY {_sql_cosine('p.qvec', 'e.embedding')} DESC,
                      e.vec_id ASC
           ) AS rank
    FROM pr_{tag} p
    JOIN asg_{tag} a ON a.centroid_id = p.qc AND a.vec_id <> p.query_id
    JOIN embeddings e ON e.vec_id = a.vec_id
  ) WHERE rank <= {TOP_K}
), hit_{tag} AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM ivf_{tag} i JOIN exact x
    ON x.query_id = i.query_id AND x.vec_id = i.vec_id
)"""
        )
    selects = " UNION ALL ".join(
        f"""SELECT '{tag}' AS roster, b.n_buckets,
       round(CAST(b.max_size * b.n_buckets AS DOUBLE) / b.n_vectors, 6)
         AS peak_ratio,
       h.n_hits,
       round(CAST(h.n_hits AS DOUBLE) / n.n_exact, 6) AS recall
FROM bstat_{tag} b CROSS JOIN hit_{tag} h CROSS JOIN nex n"""
        for tag in ("static", "trained")
    )
    parts.append("\n" + selects + "\nORDER BY roster")
    return "".join(parts)


SIMILARITY_QUERIES["sim_ivf_retrain_recall"] = sim_ivf_retrain_recall
SIMILARITY_ORACLES["sim_ivf_retrain_recall"] = guard_table_sql(
    _sql_ivf_retrain_recall(), "embeddings", SQL_EMB_OK
)


PQ_TRAIN_ROUNDS = 2  # Lloyd rounds per subspace; same budget logic as
                     # KMEANS_ROUNDS (churn curve is scale-invariant)


def pq_train_codebook(
    spark: SparkSession,
    sf_dir: str,
    emb: DataFrame | None = None,
    donors: list[list[float]] | None = None,
) -> DataFrame:
    """Distributed PQ codebook TRAINING — Lloyd's k-means run in every
    subspace at once, the offline step the serving codebook
    (``_pq_codebook``'s normalized donor stand-in) approximates. Jégou
    et al.'s product quantizer trains M independent K-word codebooks
    on the M subvector projections; here that is ONE plan: subvector
    rows key on (vec_id, m), the per-m rosters pack into M rows of
    K×dsub state that join back by subspace id (a broadcast equi-join,
    not a crossJoin — the roster table has PQ_M rows), and the E-step
    is the same in-row argmin fold as ``sim_kmeans_train`` (first
    strictly-smaller distance over the c-ascending roster ≡ ORDER BY
    dist ASC, c ASC). M-step means are exact DECIMAL(27,10) sums per
    (m, c, dim); a codeword that loses every member keeps its previous
    value. Output: the trained codebooks with final per-code
    membership and mean squared L2 distortion — the artifact +
    training report a PQ index ships.

    Scale shape: subvector rows carry the same total payload as the
    corpus (n×M rows of dsub doubles), state is M×K×dsub doubles
    forever, shuffle traffic per round is bounded by partitions×M×K×
    dsub through map-side combine. Distances fold left-to-right in
    index order on both engines; distortion sums quantize to
    DECIMAL(18,9) before aggregation (the t_unigram_logprob rule), so
    the report is bit-stable across partitionings and engines.
    """
    cb, sub = _pq_train_state(spark, sf_dir, emb, donors)
    final = _pq_assign_literal(sub, cb)
    stats = final.groupBy("m", "c").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.round(
            F.sum(
                F.round(F.col("dist"), 9).cast("decimal(18,9)")
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_sqdist"),
    )
    cb_df = local_rows(
        sub.sparkSession,
        [(m, c, cw) for (m, c), cw in sorted(cb.items())],
        "m int, c int, cw array<double>",
    )
    return (
        cb_df.join(stats, ["m", "c"])
        .select("m", "c", "n_members", "mean_sqdist", "cw")
        .orderBy("m", "c")
    )


def _pq_cb_fold_sql(cb: dict[tuple[int, int], list[float]]) -> str:
    """The per-subspace argmin fold over a LITERAL codebook: the m-th
    subspace's K codewords select via ``element_at`` on the row's
    subspace id, then the same strictly-smaller left-fold as the
    previous broadcast-roster formulation (first smaller distance over
    the c-ascending array ≡ ORDER BY dist ASC, c ASC). One SQL string
    parsed JVM-side — the hyperplane/ADC py4j lesson. (Round 12 A/B'd
    a 1-row-broadcast binding and kept the literal — see
    ``_roster_fold_sql``.)"""
    subspaces = []
    for m in range(PQ_M):
        cs = sorted(c for (m2, c) in cb if m2 == m)
        entries = ", ".join(
            "named_struct('c', CAST({c} AS INT), 'cw', array({vs}))".format(
                c=c, vs=", ".join(f"{x!r}D" for x in cb[(m, c)])
            )
            for c in cs
        )
        subspaces.append(f"array({entries})")
    dist = (
        "aggregate(zip_with(e.cw, sv, (x, y) -> (x - y) * (x - y)), "
        "CAST(0.0 AS DOUBLE), (a2, v) -> a2 + v)"
    )
    return (
        f"aggregate(element_at(array({', '.join(subspaces)}), m + 1), "
        "named_struct('dist', CAST('Infinity' AS DOUBLE), "
        "'c', CAST(-1 AS INT)), "
        f"(acc, e) -> IF({dist} < acc.dist, "
        f"named_struct('dist', {dist}, 'c', e.c), acc))"
    )


def _pq_assign_literal(
    sub: DataFrame, cb: dict[tuple[int, int], list[float]]
) -> DataFrame:
    """E-step over the (vec_id, m, sv) subvector rows with the codebook
    as literal state: a flat projection (no roster aggregate, no
    broadcast join). Two-step Project keeps the fold single-evaluated
    (multi-use aliases block CollapseProject)."""
    fold = _pq_cb_fold_sql(cb)
    return (
        sub.selectExpr("vec_id", "m", "sv", f"{fold} AS _best")
        .selectExpr(
            "vec_id", "m", "sv", "_best.c AS c", "_best.dist AS dist"
        )
    )


def _pq_train_state(
    spark: SparkSession,
    sf_dir: str,
    emb: DataFrame | None = None,
    donors: list[list[float]] | None = None,
) -> tuple[dict[tuple[int, int], list[float]], DataFrame]:
    """The subspace-Lloyd loop: ``_lloyd`` keyed on (m, c) with
    DRIVER-side codebook state (M×K×dsub doubles — index-sized forever,
    the ``_pq_codebook`` bounded class) and the literal squared-L2
    argmin (``_pq_assign_literal``) as its E-step; ``sv`` is already
    DOUBLE, so the shared M-step's double cast is a no-op here.
    Returns (trained codebook dict, the lazily-checkpointed subvector
    table for downstream passes). Replaces the per-round
    roster re-aggregation + broadcast join + lazy localCheckpoint
    whose repeated Catalyst replanning dominated the wall clock
    (profiled 7.6-23.9 s of DataFrame build time; guide §7.3).
    Donor init collects the same gap-tolerant donor selection and
    normalizes via ``_l2_normalize`` (bit-identical to the in-plan
    ``NV_EXPR`` — the documented shared-fold contract), so cb0 and
    every trained value match the previous formulation bit-for-bit —
    pinned by the pure-Python product-quantizer twin test."""
    if emb is None:
        emb = emb_table(spark, sf_dir)
    norme = spread(emb).select("vec_id", F.expr(NV_EXPR).alias("nv"))
    sub = norme.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).cast("int").alias("m"),
                        F.slice("nv", m * PQ_DSUB + 1, PQ_DSUB).alias("sv"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))
    sub = sub.transform(materialize)  # feeds every round's E-step

    # ``donors`` lets the retrain certificate share ONE donor collect
    # between the cb0 init here and its donor arm (the list is already
    # ``_pq_codebook``'s vec_id-sorted, normalized output; slicing it
    # per subspace is exactly the init below)
    if donors is None:
        donor_rows = (
            emb.orderBy(pq_donor_pref().asc(), F.col("vec_id").asc())
            .limit(PQ_K)
            .select("vec_id", "embedding")
            .collect()
        )
        donors = [
            _l2_normalize([float(x) for x in r.embedding])
            for r in sorted(donor_rows, key=lambda r: int(r.vec_id))
        ]
    cb: dict[tuple[int, int], list[float]] = {}
    for c, nv in enumerate(donors):
        for m in range(PQ_M):
            cb[(m, c)] = nv[m * PQ_DSUB : (m + 1) * PQ_DSUB]

    cb = _lloyd(
        lambda st: _pq_assign_literal(sub, st).select("m", "c", "sv"),
        cb,
        ("m", "c"),
        PQ_TRAIN_ROUNDS,
    )
    return cb, sub


def sim_pq_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered (driver-facing) face of ``pq_train_codebook``: the
    trained codebooks FLATTENED to one row per codeword dimension —
    ``(m, c, n_members, mean_sqdist, pos, val)`` — because registered
    query outputs are scalar-columns-only (the driver canonicalizer
    cannot hash array cells; VERDICT r9 item 1, same contract as
    ``sim_kmeans_train``). Engine callers use ``pq_train_codebook``
    for the ``array<double>`` codewords."""
    cb = pq_train_codebook(spark, sf_dir)
    return cb.select(
        "m",
        "c",
        "n_members",
        "mean_sqdist",
        F.posexplode("cw").alias("pos", "val"),
    ).orderBy("m", "c", "pos")


_PQ_TRAIN_SUBDIST = (
    "list_aggregate(list_transform(list_zip({a}, {b}), "
    "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) "
    "* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum')"
)


def _sql_pq_cte_parts(rounds: int = PQ_TRAIN_ROUNDS) -> list[str]:
    """The unrolled subspace-Lloyd CTE chain ``WITH norme … cb{rounds}``:
    the donor init of the serving PQ oracle, then per round a
    window-ranked assignment joined BY subspace, DECIMAL per-dimension
    means, ordered-list reassembly, and the empty-code fallback.
    Shared by ``_sql_pq_train`` and ``_sql_pq_retrain_recall`` (cb0
    doubles as the donor codebook)."""
    head = f"""WITH norme AS (
  SELECT vec_id, {_PQ_NORM_SQL} AS nv FROM embeddings
), subs AS (
  SELECT unnest(range({PQ_M})) AS m
), sub AS (
  SELECT e.vec_id, s.m,
         list_slice(e.nv, s.m * {PQ_DSUB} + 1, s.m * {PQ_DSUB} + {PQ_DSUB}) AS sv
  FROM norme e CROSS JOIN subs s
), donors AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS c, cv FROM (
    SELECT vec_id, nv AS cv FROM norme
    ORDER BY {SQL_PQ_DONOR_PREF}, vec_id
    LIMIT {PQ_K}
  )
), cb0 AS (
  SELECT s.m, d.c,
         list_slice(d.cv, s.m * {PQ_DSUB} + 1, s.m * {PQ_DSUB} + {PQ_DSUB}) AS cw
  FROM donors d CROSS JOIN subs s
)"""
    parts = [head]
    dist = _PQ_TRAIN_SUBDIST.format(a="u.sv", b="k.cw")
    for r in range(1, rounds + 1):
        prev = f"cb{r - 1}"
        parts.append(
            f""", e{r} AS (
  SELECT u.vec_id, u.m, u.sv, k.c, {dist} AS dist,
         ROW_NUMBER() OVER (
           PARTITION BY u.vec_id, u.m
           ORDER BY {dist} ASC, k.c ASC
         ) AS rn
  FROM sub u JOIN {prev} k USING (m)
), d{r} AS (
  SELECT m, c, unnest(sv) AS x, generate_subscripts(sv, 1) AS pos
  FROM e{r} WHERE rn = 1
), m{r} AS (
  SELECT m, c, pos,
         round(CAST(SUM(CAST(x AS DECIMAL(27,10))) AS DOUBLE)
               / COUNT(*), 6) AS v
  FROM d{r} GROUP BY m, c, pos
), n{r} AS (
  SELECT m, c, list(v ORDER BY pos) AS cw FROM m{r} GROUP BY m, c
), cb{r} AS (
  SELECT k.m, k.c, COALESCE(n.cw, k.cw) AS cw
  FROM {prev} k LEFT JOIN n{r} n ON n.m = k.m AND n.c = k.c
)"""
        )
    return parts


def _sql_pq_train(rounds: int = PQ_TRAIN_ROUNDS) -> str:
    """``_sql_pq_cte_parts`` plus the final assignment, membership/
    distortion stats, and the flattened scalar-only output select."""
    parts = _sql_pq_cte_parts(rounds)
    dist = _PQ_TRAIN_SUBDIST.format(a="u.sv", b="k.cw")
    parts.append(
        f""", ef AS (
  SELECT u.vec_id, u.m, k.c, {dist} AS dist,
         ROW_NUMBER() OVER (
           PARTITION BY u.vec_id, u.m
           ORDER BY {dist} ASC, k.c ASC
         ) AS rn
  FROM sub u JOIN cb{rounds} k USING (m)
), stats AS (
  SELECT m, c,
         CAST(COUNT(*) AS BIGINT) AS n_members,
         round(CAST(SUM(CAST(round(dist, 9) AS DECIMAL(18,9))) AS DOUBLE)
               / COUNT(*), 6) AS mean_sqdist
  FROM ef WHERE rn = 1 GROUP BY m, c
), fin AS (
  SELECT k.m, k.c, s.n_members, s.mean_sqdist, k.cw
  FROM cb{rounds} k JOIN stats s ON s.m = k.m AND s.c = k.c
)
SELECT m, c, n_members, mean_sqdist,
       CAST(generate_subscripts(cw, 1) - 1 AS INT) AS pos,
       unnest(cw) AS val
FROM fin ORDER BY m, c, pos"""
    )
    return "".join(parts)


SIMILARITY_QUERIES["sim_pq_train"] = sim_pq_train
SIMILARITY_ORACLES["sim_pq_train"] = guard_table_sql(
    _sql_pq_train(), "embeddings", SQL_EMB_OK
)


def _pq_codebook_report(
    cbsub: dict,
    exact: DataFrame,
    tag: str,
    normalized: DataFrame,
    qvecs: dict[int, list[float]],
) -> DataFrame:
    """One codebook's row of the PQ retrain report: encode the corpus
    (in-row argmin over the codebook literals — the ``sim_pq_topk``
    zero-shuffle shape), read corpus-weighted quantization distortion
    off the per-subspace minima, score the queries by ADC, and count
    exact-top-k hits in the ADC top-k. ``normalized`` (the (vec_id,
    _nv) projection) and ``qvecs`` are computed ONCE by the caller and
    shared by both arms — previously each arm re-scanned, re-gated and
    re-normalized the corpus and re-collected the query panel
    (optimization round 11, guide §2.4)."""
    encoded = (
        normalized.select(
            "vec_id",
            "_nv",
            *[
                F.expr(_band_dists_expr(cbsub, m)).alias(f"_pqd{m}")
                for m in range(PQ_M)
            ],
        )
        .select(
            "vec_id",
            *[
                F.expr(
                    f"CAST(array_position(_pqd{m}, array_min(_pqd{m})) - 1 AS INT)"
                ).alias(f"_c{m}")
                for m in range(PQ_M)
            ],
            *[
                F.expr(f"array_min(_pqd{m})").alias(f"_md{m}")
                for m in range(PQ_M)
            ],
        )
        .transform(materialize)  # feeds the ADC rank + distortion
    )
    # corpus-weighted mean squared distortion, DECIMAL(18,9) quantized
    # per (vector, subspace) term — the t_unigram_logprob rule
    distortion = encoded.select(
        F.explode(
            F.array(*[F.col(f"_md{m}") for m in range(PQ_M)])
        ).alias("d")
    ).agg(
        F.round(
            F.sum(F.round(F.col("d"), 9).cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_sqdist")
    )
    per_query = F.array(
        *[
            F.struct(
                F.lit(q).cast("long").alias("query_id"),
                F.expr(_adc_expr(cbsub, qvecs[q])).alias("adc"),
            )
            for q in sorted(qvecs)
        ]
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("vec_id").asc()
    )
    topk = (
        encoded.select("vec_id", F.explode(per_query).alias("qa"))
        .select(
            F.col("qa.query_id").alias("query_id"),
            "vec_id",
            F.col("qa.adc").alias("adc"),
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id")
    )
    hits = topk.join(exact, ["query_id", "vec_id"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    n_exact = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    return (
        hits.crossJoin(n_exact)
        .crossJoin(distortion)
        .select(
            F.lit(tag).alias("codebook"),
            "n_hits",
            F.round(
                F.col("n_hits").cast("double") / F.col("n_exact"), 6
            ).alias("recall"),
            "mean_sqdist",
        )
    )


def sim_pq_retrain_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ RETRAIN integration report — the PQ training tier's
    before/after certificate, the exact sibling of
    ``sim_ivf_retrain_recall``: the corpus is PQ-encoded once under
    the serving DONOR codebook (``_pq_codebook``'s normalized donor
    stand-in, what ``sim_pq_topk`` ships with) and once under the
    codebooks ``pq_train_codebook`` just trained, and each row reports
    corpus-weighted quantization distortion plus RAW-ADC top-k recall
    against the exact cosine ground truth (raw ADC, not the reranked
    tier, because rerank masks exactly the codebook quality difference
    this report exists to measure). Reading the two rows side by side
    answers: does the trained quantizer compress tighter AND retrieve
    better than the donor stand-in?

    Plan: both codebooks are index-sized driver state (M×K×dsub
    doubles — the trained one collects ``pq_train_codebook``, the
    same bounded collect ``_pq_codebook`` already performs for the
    donors) entering the plan as broadcast literals, so each arm is
    the ``sim_pq_topk`` zero-shuffle shape: normalize → encode → ADC
    are pure per-row projections; the only shuffles are the per-query
    top-k window and the 1-row stat aggregates. The exact side
    computes once and feeds both hit joins. Floats: distortion terms
    quantize to DECIMAL(18,9) before aggregation; ADC sums chain in
    subspace order; recall is one int/int double division.
    """
    # the gated corpus is re-read by the training loop, the donor
    # collect, the query panel, both arms' encodes, and the exact
    # ground truth — materialize it once (spread + lazy checkpoint,
    # the sim_ivf_retrain_recall discipline; guide §2.4/§5)
    emb = spread(emb_table(spark, sf_dir)).transform(materialize)
    # ONE donor collect serves both the trainer's cb0 init and the
    # donor arm (previously two identical collect jobs)
    donor_full = _pq_codebook(spark, sf_dir, emb)
    # the exact ground truth and the query panel are INDEPENDENT of
    # the subspace-Lloyd rounds (all read only the materialized
    # corpus), and the trainer is a chain of sequential collect-round
    # jobs that leave the cluster under-used between collects — run
    # them as a CONCURRENT job from a driver thread so they back-fill
    # those gaps (guide §2.6; optimization round 12). Same values,
    # eagerly and in parallel instead of lazily inside the final job.
    def _ground_truth():
        qv = _query_nvecs(emb)
        ex = (
            _bruteforce_topk_from(emb)
            .select("query_id", "vec_id")
            .transform(materialize, eager=True)  # feeds both codebooks' hit joins
        )
        return qv, ex

    (qvecs, exact), trained_rows = overlap(
        spark,
        _ground_truth,
        lambda: pq_train_codebook(spark, sf_dir, emb, donors=donor_full)
        .select("m", "c", "cw")
        .collect(),
    )
    trained = {
        (int(r.m), int(r.c)): [float(x) for x in r.cw] for r in trained_rows
    }
    donor = _cb_subspace(donor_full)
    # one normalize pass feeds both arms' encode projections
    normalized = emb.select(
        "vec_id", F.expr(NV_EXPR).alias("_nv")
    ).transform(materialize)
    return (
        _pq_codebook_report(donor, exact, "donor", normalized, qvecs)
        .unionByName(
            _pq_codebook_report(trained, exact, "trained", normalized, qvecs)
        )
        .orderBy("codebook")
    )


def _sql_pq_retrain_recall(rounds: int = PQ_TRAIN_ROUNDS) -> str:
    """Twin of the PQ retrain report: the shared subspace-Lloyd CTE
    chain (cb0 is the donor codebook, cb{rounds} the trained one), the
    exact cosine top-k once, then per codebook the argmin encoding,
    the DECIMAL distortion aggregate, the ADC scoring (subspace-order
    '+' chain via MAX-CASE pivots — the sum order the Spark literal
    uses), and the hit join."""
    parts = _sql_pq_cte_parts(rounds)
    dist = _PQ_TRAIN_SUBDIST.format(a="u.sv", b="k.cw")
    parts.append(
        f""", q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  WHERE vec_id < {N_QUERIES}
), exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY {_sql_cosine('q.qvec', 'e.embedding')} DESC,
                      e.vec_id ASC
           ) AS rn
    FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id
  ) WHERE rn <= {TOP_K}
), nex AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact
)"""
    )
    for tag, src in (("donor", "cb0"), ("trained", f"cb{rounds}")):
        parts.append(
            f""", enc_{tag} AS (
  SELECT vec_id, m, c, dist FROM (
    SELECT u.vec_id, u.m, k.c, {dist} AS dist,
           ROW_NUMBER() OVER (
             PARTITION BY u.vec_id, u.m
             ORDER BY {dist} ASC, k.c ASC
           ) AS rn
    FROM sub u JOIN {src} k USING (m)
  ) WHERE rn = 1
), dst_{tag} AS (
  SELECT round(CAST(SUM(CAST(round(dist, 9) AS DECIMAL(18,9))) AS DOUBLE)
               / COUNT(*), 6) AS mean_sqdist
  FROM enc_{tag}
), dtab_{tag} AS (
  SELECT u.vec_id AS query_id, u.m, k.c, {dist} AS qdist
  FROM sub u JOIN {src} k USING (m)
  WHERE u.vec_id < {N_QUERIES}
), adc_{tag} AS (
  SELECT t.query_id, cd.vec_id,
         {' + '.join(f"MAX(CASE WHEN cd.m = {m} THEN t.qdist END)" for m in range(PQ_M))} AS adc
  FROM enc_{tag} cd JOIN dtab_{tag} t ON t.m = cd.m AND t.c = cd.c
  WHERE cd.vec_id <> t.query_id
  GROUP BY 1, 2
), top_{tag} AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY adc ASC, vec_id ASC
           ) AS rank
    FROM adc_{tag}
  ) WHERE rank <= {TOP_K}
), hit_{tag} AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM top_{tag} i JOIN exact x
    ON x.query_id = i.query_id AND x.vec_id = i.vec_id
)"""
        )
    selects = " UNION ALL ".join(
        f"""SELECT '{tag}' AS codebook, h.n_hits,
       round(CAST(h.n_hits AS DOUBLE) / n.n_exact, 6) AS recall,
       d.mean_sqdist
FROM hit_{tag} h CROSS JOIN nex n CROSS JOIN dst_{tag} d"""
        for tag in ("donor", "trained")
    )
    parts.append("\n" + selects + "\nORDER BY codebook")
    return "".join(parts)


SIMILARITY_QUERIES["sim_pq_retrain_recall"] = sim_pq_retrain_recall
SIMILARITY_ORACLES["sim_pq_retrain_recall"] = guard_table_sql(
    _sql_pq_retrain_recall(), "embeddings", SQL_EMB_OK
)


# ---------------------------------------------------------------------------
# IVF probe-sweep tuning curve (round 11)

#: probe counts swept by the tuning curve; N_PROBES (the serving
#: default) sits inside the sweep, and the top of the sweep reaches the
#: full fixed roster so the curve visibly saturates at recall 1.0
PROBE_SWEEP_MAX = 8


def sim_ivf_probe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF multiprobe TUNING CURVE — the `dedup_banding_curve` pattern
    applied to the ANN serving tier: for every probe count p in
    1..``PROBE_SWEEP_MAX``, how much of the exact top-k the multiprobe
    search can reach (its bucket is probed) and what fraction of the
    corpus it scans to get there. ``N_PROBES`` is the serving dial;
    this is the measured recall/scan-cost trade-off an operator reads
    before moving it — the curve `sim_ivf_recall`'s single floor sits
    on.

    Per probe rank r, the sweep needs only (a) the number of exact
    top-k neighbors whose bucket is the query's r-th nearest centroid
    and (b) the bucket rows that rank-r probe scans, summed over
    queries; the curve at p is the cumulative sum over r ≤ p. So the
    corpus contributes ONE assignment pass (in-row bounded-roster
    argmax, reused for bucket sizes via localCheckpoint) and the
    brute-force ground truth computes once over the fixed query panel
    — everything after is (query × ≤``N_CENTROIDS_CAP``)-sized: the
    rank histograms are ≤``PROBE_SWEEP_MAX`` rows and the grid join
    is a tiny-by-construction non-equi BNLJ, the allowlisted class.
    `scanned_rows` counts full probed buckets (including the query's
    own row when co-bucketed) — bucket size IS the scan cost the
    curve prices.

    Output is scalar (n_probes, n_hits, mean_recall, scanned_rows,
    scanned_share) rows; recall divides by the ACTUAL exact-neighbor
    count (≥0, < TOP_K·queries on small corpora) and both divisions
    NULL-guard their denominators identically in the oracle.

    No reference counterpart (extension operator; the operational
    tuning tier of the similarity family).
    """
    # one materialized corpus feeds the assignment, the query panel,
    # the centroid roster, and the exact ground truth (guide §2.4/§5;
    # the sim_ivf_retrain_recall discipline)
    emb = spread(emb_table(spark, sf_dir)).transform(materialize)
    bucketed = assign_buckets(emb).transform(materialize)
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    centroids = emb.where(_centroid_filter()).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("centroid_id").asc()
    )
    probes = (
        F.broadcast(queries)
        .crossJoin(centroids)
        .select(
            "query_id",
            "centroid_id",
            cosine("cvec", "qvec").alias("csim"),
        )
        .withColumn("pr", F.row_number().over(wq))
        .where(F.col("pr") <= PROBE_SWEEP_MAX)
        .select("query_id", "centroid_id", "pr")
    )
    # consumed by the rank histogram AND the recall denominator —
    # lazy-checkpoint so the brute-force pass computes once
    truth = (
        _bruteforce_topk_from(emb)
        .select("query_id", "vec_id")
        .transform(materialize)
    )
    hits_by_rank = (
        truth.join(bucketed.select("vec_id", "centroid_id"), "vec_id")
        .join(probes, ["query_id", "centroid_id"])
        .groupBy("pr")
        .agg(F.count(F.lit(1)).cast("long").alias("h"))
    )
    scan_by_rank = (
        probes.join(
            bucketed.groupBy("centroid_id").agg(
                F.count(F.lit(1)).cast("long").alias("bsz")
            ),
            "centroid_id",
        )
        .groupBy("pr")
        .agg(F.sum("bsz").cast("long").alias("s"))
    )
    denom = truth.agg(
        F.count(F.lit(1)).cast("long").alias("n_truth")
    ).crossJoin(
        bucketed.agg(
            (F.count(F.lit(1)) * F.lit(N_QUERIES)).cast("long").alias("n_scan_max")
        )
    )
    grid = spark.range(1, PROBE_SWEEP_MAX + 1).select(
        F.col("id").cast("int").alias("n_probes")
    )
    cum = (
        grid.join(hits_by_rank, F.col("pr") <= F.col("n_probes"), "left")
        .groupBy("n_probes")
        .agg(F.coalesce(F.sum("h"), F.lit(0)).cast("long").alias("n_hits"))
        .join(
            grid.join(scan_by_rank, F.col("pr") <= F.col("n_probes"), "left")
            .groupBy("n_probes")
            .agg(
                F.coalesce(F.sum("s"), F.lit(0)).cast("long").alias("scanned_rows")
            ),
            "n_probes",
        )
    )
    return (
        cum.crossJoin(F.broadcast(denom))
        .select(
            "n_probes",
            "n_hits",
            F.when(
                F.col("n_truth") > 0,
                F.round(
                    F.col("n_hits").cast("double") / F.col("n_truth").cast("double"),
                    6,
                ),
            ).alias("mean_recall"),
            "scanned_rows",
            F.when(
                F.col("n_scan_max") > 0,
                F.round(
                    F.col("scanned_rows").cast("double")
                    / F.col("n_scan_max").cast("double"),
                    6,
                ),
            ).alias("scanned_share"),
        )
        .orderBy("n_probes")
    )


SIM_IVF_PROBE_CURVE_SQL = f"""
WITH cents AS (
  SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings
  WHERE vec_id % {CENTROID_STRIDE} = 0 AND vec_id < {CENTROID_STRIDE * N_CENTROIDS_CAP}
), assigned AS MATERIALIZED (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_cosine('c.cvec', 'e.embedding')} DESC, c.centroid_id ASC
           ) AS r
    FROM embeddings e CROSS JOIN cents c
  ) WHERE r = 1
), q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  WHERE vec_id < {N_QUERIES}
), probes AS MATERIALIZED (
  SELECT query_id, centroid_id, pr FROM (
    SELECT q.query_id, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY {_sql_cosine('c.cvec', 'q.qvec')} DESC, c.centroid_id ASC
           ) AS pr
    FROM q CROSS JOIN cents c
  ) WHERE pr <= {PROBE_SWEEP_MAX}
), truth AS MATERIALIZED (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY {_sql_cosine('q.qvec', 'e.embedding')} DESC, e.vec_id ASC
           ) AS rank
    FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id
  ) WHERE rank <= {TOP_K}
), hits_by_rank AS MATERIALIZED (
  SELECT p.pr, CAST(COUNT(*) AS BIGINT) AS h
  FROM truth t
  JOIN assigned a ON a.vec_id = t.vec_id
  JOIN probes p ON p.query_id = t.query_id AND p.centroid_id = a.centroid_id
  GROUP BY p.pr
), scan_by_rank AS MATERIALIZED (
  SELECT p.pr, CAST(SUM(b.bsz) AS BIGINT) AS s
  FROM probes p JOIN (
    SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS bsz
    FROM assigned GROUP BY centroid_id
  ) b ON b.centroid_id = p.centroid_id
  GROUP BY p.pr
), denom AS MATERIALIZED (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
         (SELECT CAST(COUNT(*) * {N_QUERIES} AS BIGINT) FROM assigned)
           AS n_scan_max
), grid AS (
  SELECT CAST(p AS INTEGER) AS n_probes FROM generate_series(1, {PROBE_SWEEP_MAX}) t(p)
), cum AS (
  SELECT g.n_probes,
         CAST(COALESCE((SELECT SUM(h.h) FROM hits_by_rank h
                        WHERE h.pr <= g.n_probes), 0) AS BIGINT) AS n_hits,
         CAST(COALESCE((SELECT SUM(s.s) FROM scan_by_rank s
                        WHERE s.pr <= g.n_probes), 0) AS BIGINT) AS scanned_rows
  FROM grid g
)
SELECT c.n_probes, c.n_hits,
       CASE WHEN d.n_truth > 0
            THEN round(CAST(c.n_hits AS DOUBLE) / d.n_truth, 6) END
         AS mean_recall,
       c.scanned_rows,
       CASE WHEN d.n_scan_max > 0
            THEN round(CAST(c.scanned_rows AS DOUBLE) / d.n_scan_max, 6) END
         AS scanned_share
FROM cum c CROSS JOIN denom d
ORDER BY c.n_probes
"""

SIMILARITY_QUERIES["sim_ivf_probe_curve"] = sim_ivf_probe_curve
SIMILARITY_ORACLES["sim_ivf_probe_curve"] = guard_table_sql(
    SIM_IVF_PROBE_CURVE_SQL, "embeddings", SQL_EMB_OK
)
