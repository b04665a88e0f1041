"""Composite IVF-PQ ANN tier: coarse inverted-file partitioning with
residual product-quantization — the FAISS ``IVFx,PQy`` architecture
(Jégou et al., "Product Quantization for Nearest Neighbor Search",
TPAMI 2011, §IV) that the three standalone tiers in ``similarity.py``
build toward:

1. **Coarse quantizer** — every corpus vector is assigned in-plan to
   its nearest IVF centroid (dot product against a bounded literal
   roster — ZERO shuffle, unlike the window-based ``assign_buckets``).
2. **Residual PQ encode** — each vector's *residual* from its bucket
   centroid (not the raw vector) compresses to ``PQ_M`` one-byte
   codes; residuals are what make IVF-PQ beat flat PQ — they have
   far less variance than raw vectors, so the shared codebook covers
   them tighter. The codebook itself is built from donor residuals.
3. **ADC over probed buckets only** — a query probes its
   ``IVFPQ_PROBES`` nearest centroid buckets; per probed bucket the *query residual*
   (q − centroid) gets a precomputed M×K distance table, and
   candidates in that bucket score by table lookups on their codes —
   never touching a full vector.
4. **Exact re-rank** — the ADC shortlist joins back to the raw
   embeddings for exact cosine, fixing the final ordering.

Scale shape (100 TB): driver state is bounded by caps, never by the
corpus — centroid roster ≤ ``N_CENTROIDS_CAP``·dim doubles, codebook
K·dim, distance tables |queries|·n_probes·M·K. Normalize → assign →
residual → encode → ADC are pure per-row projections over ONE corpus
scan (the probe restriction is a broadcast equi-join on the bucket
index); the only shuffles are the two tiny per-query top-k windows
(shortlist, then re-rank). Full vectors are read a second time only
for shortlist·|queries| rows — at 100 TB that is the "codes live in
RAM, vectors live on disk" memory layout.

Float determinism (hash-match vs the DuckDB oracle): every fold runs
left-to-right over the same doubles in Spark, driver Python, and
DuckDB — normalization (proven by ``_l2_normalize``), assignment dots
(literal roster ↔ SQL ``list_aggregate``), residual subtraction,
subspace distances (``_PQ_SUBDIST_SQL`` order), and the ADC sum
(element_at chain ↔ the MAX-CASE pivot chain, both m = 0..M−1).
Ties break on centroid index / code index / vec_id everywhere.

Reference parity: the reference has no ANN surface; this extends the
LLM-pipeline similarity family (SURVEY §2 extension) with the
composite tier a production deployment actually runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from securities_data_pipeline_spark.functions.gates import SQL_EMB_OK, guard_table_sql
from securities_data_pipeline_spark.operators.similarity import (
    CENTROID_STRIDE,
    SQL_PQ_DONOR_PREF,
    emb_table,
    N_CENTROIDS_CAP,
    N_QUERIES,
    PQ_DSUB,
    PQ_K,
    PQ_M,
    PQ_STRIDE,
    NV_EXPR,
    TOP_K,
    _l2_normalize,
    _PQ_NORM_SQL,
    _PQ_SUBDIST_SQL,
    _SQL_DOT,
    _sql_cosine,
    cosine,
)
from securities_data_pipeline_spark.sources.tables import local_rows, spread

#: composite-tier dials (vs the standalone tiers' N_PROBES=4 /
#: PQ_SHORTLIST=50): IVF-PQ stacks two approximations, so it probes
#: more buckets and shortlists more candidates to compensate. Measured
#: recall@10 vs brute force: 0.2–1.0 per query at sf0.001/0.01, 0.1–1.0
#: at sf0.1 — the same fixed-parameter decay as the standalone PQ tier
#: (floor 0.15), which is the expected worst case on THIS corpus: the
#: synthetic embeddings are near-uniform, so residuals have no cluster
#: structure for the 16-entry codebook to exploit. On clustered real
#: embeddings the residual step is what lifts IVF-PQ above flat PQ.
IVFPQ_PROBES = 8
IVFPQ_SHORTLIST = 100



def _dotp(a: list[float], b: list[float]) -> float:
    """Left-fold dot — same order as the in-plan `aggregate` and the
    oracle's `list_aggregate`, so driver-side probe selection ranks
    the exact same doubles."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _subdist(a: list[float], b: list[float], m: int) -> float:
    """Σ_d (a−b)² over subspace ``m`` — the `_PQ_SUBDIST_SQL` fold."""
    acc = 0.0
    for d in range(PQ_DSUB):
        i = m * PQ_DSUB + d
        diff = a[i] - b[i]
        acc = acc + diff * diff
    return acc


def _arr2lit(rows: list[list[float]]) -> str:
    """Nested array<array<double>> literal (`repr` round-trips doubles
    exactly; 'D' suffix keeps the literal DOUBLE, not DECIMAL)."""
    return (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{x!r}D" for x in row) + ")" for row in rows
        )
        + ")"
    )


def _ivfpq_state(
    spark: SparkSession, sf_dir: str
) -> tuple[list[list[float]], list[list[float]], list[tuple[int, int, list[list[float]]]]]:
    """Driver-side small state: normalized centroid roster (ordered by
    centroid vec_id), residual codebook (ordered by code index), and
    per-(query, probed-bucket) ADC distance tables. One bounded
    collect: ≤ cap+K+|queries| rows regardless of corpus size."""
    emb = emb_table(spark, sf_dir)
    want = (
        ((F.col("vec_id") % CENTROID_STRIDE == 0)
         & (F.col("vec_id") < CENTROID_STRIDE * N_CENTROIDS_CAP))
        | ((F.col("vec_id") % PQ_STRIDE == 0) & (F.col("vec_id") < PQ_K * PQ_STRIDE))
        | (F.col("vec_id") < N_QUERIES)
    )
    vecs = {
        int(r.vec_id): _l2_normalize([float(x) for x in r.embedding])
        for r in emb.where(want).select("vec_id", "embedding").collect()
    }
    cent_ids = sorted(
        v for v in vecs
        if v % CENTROID_STRIDE == 0 and v < CENTROID_STRIDE * N_CENTROIDS_CAP
    )
    roster = [vecs[i] for i in cent_ids]

    def assign(v: list[float]) -> int:
        # argmax dot, first index on ties — matches in-plan
        # array_position(array_max) and the oracle's ROW_NUMBER
        best, bi = None, 0
        for i, c in enumerate(roster):
            d = _dotp(v, c)
            if best is None or d > best:
                best, bi = d, i
        return bi

    # gap-tolerant donor selection (twin of similarity.pq_donor_pref,
    # fuzz-derived): stride ids first, then smallest valid ids — a
    # corrupt/quarantined donor degrades to the next valid vector
    # instead of killing codebook training; bit-identical to the pure
    # stride rule on a clean corpus
    from securities_data_pipeline_spark.operators.similarity import pq_donor_pref

    donor_rows = (
        emb.select("vec_id", "embedding")
        .orderBy(pq_donor_pref().asc(), F.col("vec_id").asc())
        .limit(PQ_K)
        .collect()
    )
    if not roster or len(donor_rows) < PQ_K:
        raise ValueError(
            f"ivfpq needs ≥{PQ_K} valid donor vectors and ≥1 centroid: "
            f"got {len(donor_rows)}/{PQ_K} donors, {len(roster)} centroids"
        )
    donors = {
        int(r.vec_id): _l2_normalize([float(x) for x in r.embedding])
        for r in donor_rows
    }
    rcb = []
    for did in sorted(donors):  # code index = rank of donor vec_id
        dv = donors[did]
        cv = roster[assign(dv)]
        rcb.append([x - y for x, y in zip(dv, cv)])

    probes: list[tuple[int, int, list[list[float]]]] = []
    for q in sorted(v for v in vecs if v < N_QUERIES):
        qv = vecs[q]
        dots = [_dotp(qv, c) for c in roster]
        order = sorted(range(len(roster)), key=lambda i: (-dots[i], i))
        for ci in order[:IVFPQ_PROBES]:
            qrv = [x - y for x, y in zip(qv, roster[ci])]
            dtab = [
                [_subdist(qrv, rcb[c], m) for c in range(PQ_K)]
                for m in range(PQ_M)
            ]
            probes.append((q, ci, dtab))
    return roster, rcb, probes


def sim_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with exact re-rank: coarse-partition the corpus in-plan,
    PQ-encode residuals, ADC-score only the probed buckets, then
    exact-cosine re-rank the shortlist to the final top-k. See module
    docstring for the architecture and determinism contract."""
    roster, rcb, probes = _ivfpq_state(spark, sf_dir)
    roster_lit = _arr2lit(roster)

    def rcb_band_lit(m: int) -> str:
        rows = ", ".join(
            "array("
            + ", ".join(f"{rcb[c][m * PQ_DSUB + d]!r}D" for d in range(PQ_DSUB))
            + ")"
            for c in range(PQ_K)
        )
        return f"array({rows})"

    emb = emb_table(spark, sf_dir)
    # One corpus scan: normalize → nearest-centroid (literal roster,
    # zero shuffle) → residual → per-subspace code. Two tricks keep
    # the per-row work linear in what's written:
    # - single-element `transform` lambdas BIND intermediates (a
    #   lambda variable evaluates once however often it's referenced),
    #   so `nv` / `dots` / `b` aren't re-derived per use;
    # - `explode(array(struct(...)))` is a Generate node — a
    #   projection-collapse barrier, so the residual materializes once
    #   per row instead of being re-inlined into all 2·M code-band
    #   expressions (CollapseProject re-derived the whole assignment
    #   chain per band: measured ~8× wall on this corpus).
    assign_expr = (
        f"element_at(transform(array({NV_EXPR}), nv -> "
        f"element_at(transform(array(transform({roster_lit}, cv -> "
        "aggregate(zip_with(nv, cv, (x, y) -> x * y), 0.0D, (a, v) -> a + v))), "
        "dots -> element_at(transform(array("
        "CAST(array_position(dots, array_max(dots)) - 1 AS INT)), b -> "
        f"struct(b AS b, zip_with(nv, element_at({roster_lit}, b + 1), "
        "(x, y) -> x - y) AS rv)"
        "), 1)), 1)), 1)"
    )
    assigned = spread(emb).select(
        "vec_id", F.expr(f"explode(array({assign_expr}))").alias("_a")
    ).select("vec_id", F.col("_a.b").alias("_bidx"), F.col("_a.rv").alias("_rv"))

    def code_expr(m: int) -> str:
        band = (
            f"transform({rcb_band_lit(m)}, cv -> "
            f"aggregate(zip_with(slice(_rv, {m * PQ_DSUB + 1}, {PQ_DSUB}), cv, "
            "(x, y) -> (x - y) * (x - y)), 0.0D, (a, v) -> a + v))"
        )
        # bind the band distances so argmin evaluates them once
        return (
            f"element_at(transform(array({band}), bd -> "
            "CAST(array_position(bd, array_min(bd)) - 1 AS INT)), 1)"
        )

    encoded = assigned.select(
        "vec_id",
        "_bidx",
        *[F.expr(code_expr(m)).alias(f"_c{m}") for m in range(PQ_M)],
    )
    probe_df = local_rows(
        spark, probes, "query_id long, _qcidx int, _dtab array<array<double>>"
    )
    adc = F.expr(
        " + ".join(
            f"element_at(element_at(_dtab, {m + 1}), _c{m} + 1)" for m in range(PQ_M)
        )
    )
    scored = (
        encoded.join(F.broadcast(probe_df), F.col("_bidx") == F.col("_qcidx"))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", adc.alias("_adc"))
    )
    ws = Window.partitionBy("query_id").orderBy(F.col("_adc").asc(), F.col("vec_id").asc())
    shortlist = (
        scored.withColumn("_r", F.row_number().over(ws))
        .where(F.col("_r") <= IVFPQ_SHORTLIST)
        .select("query_id", "vec_id")
    )
    # exact re-rank: only shortlisted ids fetch their full vectors
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("_qid"), F.col("embedding").alias("_qvec")
    )
    rescored = (
        # broadcast the ≤ |queries|·shortlist id list — the corpus-side
        # vector fetch must never shuffle the corpus
        F.broadcast(shortlist)
        .join(emb.select("vec_id", "embedding", "label"), "vec_id")
        .join(F.broadcast(queries), F.col("query_id") == F.col("_qid"))
        .select(
            "query_id",
            "vec_id",
            "label",
            cosine(F.col("_qvec"), F.col("embedding")).alias("sim"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        rescored.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "vec_id", "label", "sim")
    )


def _sub(a: str, b: str) -> str:
    return (
        f"list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
    )


SIM_IVFPQ_RERANK_SQL = f"""
WITH norme AS MATERIALIZED (
  SELECT vec_id, {_PQ_NORM_SQL} AS nv FROM embeddings
), cents AS MATERIALIZED (
  SELECT CAST(vec_id // {CENTROID_STRIDE} AS INT) AS cidx, nv AS cv
  FROM norme
  WHERE vec_id % {CENTROID_STRIDE} = 0
    AND vec_id < {CENTROID_STRIDE * N_CENTROIDS_CAP}
), bucketed AS MATERIALIZED (
  SELECT vec_id, nv, cidx, {_sub('nv', 'cv')} AS rv
  FROM (
    SELECT e.vec_id, e.nv, c.cidx, c.cv,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_SQL_DOT.format(a='e.nv', b='c.cv')} DESC, c.cidx ASC
           ) AS rn
    FROM norme e CROSS JOIN cents c
  ) WHERE rn = 1
), rcb AS MATERIALIZED (
  -- gap-tolerant donor rule (twin of pq_donor_pref); c = rank by
  -- vec_id (== vec_id // stride when all stride donors are present)
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS c, cbv FROM (
    SELECT vec_id, rv AS cbv FROM bucketed
    ORDER BY {SQL_PQ_DONOR_PREF}, vec_id
    LIMIT {PQ_K}
  )
), subs AS (
  SELECT unnest(range({PQ_M})) AS m
), codes AS MATERIALIZED (
  SELECT vec_id, m, c FROM (
    SELECT vec_id, m, c,
           ROW_NUMBER() OVER (
             PARTITION BY vec_id, m ORDER BY dist ASC, c ASC
           ) AS rn
    FROM (
      SELECT b.vec_id, s.m, r.c,
             {_PQ_SUBDIST_SQL.format(a='b.rv', b='r.cbv', dsub=PQ_DSUB)} AS dist
      FROM bucketed b CROSS JOIN rcb r CROSS JOIN subs s
    )
  ) WHERE rn = 1
), probes AS MATERIALIZED (
  SELECT query_id, cidx, {_sub('qnv', 'cv')} AS qrv
  FROM (
    SELECT q.vec_id AS query_id, q.nv AS qnv, c.cidx, c.cv,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_SQL_DOT.format(a='q.nv', b='c.cv')} DESC, c.cidx ASC
           ) AS pr
    FROM norme q CROSS JOIN cents c
    WHERE q.vec_id < {N_QUERIES}
  ) WHERE pr <= {IVFPQ_PROBES}
), dtab AS MATERIALIZED (
  SELECT p.query_id, p.cidx, s.m, r.c,
         {_PQ_SUBDIST_SQL.format(a='p.qrv', b='r.cbv', dsub=PQ_DSUB)} AS qdist
  FROM probes p CROSS JOIN rcb r CROSS JOIN subs s
), adc AS MATERIALIZED (
  SELECT t.query_id, cd.vec_id,
         {' + '.join(f"MAX(CASE WHEN cd.m = {m} THEN t.qdist END)" for m in range(PQ_M))} AS adc
  FROM codes cd
  JOIN bucketed b ON b.vec_id = cd.vec_id
  JOIN dtab t ON t.cidx = b.cidx AND t.m = cd.m AND t.c = cd.c
  WHERE cd.vec_id <> t.query_id
  GROUP BY 1, 2
), shortlist AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY adc ASC, vec_id ASC
           ) AS r
    FROM adc
  ) WHERE r <= {IVFPQ_SHORTLIST}
), rescored AS (
  SELECT s.query_id, s.vec_id, e.label,
         {_sql_cosine('q.embedding', 'e.embedding')} AS sim
  FROM shortlist s
  JOIN embeddings e ON e.vec_id = s.vec_id
  JOIN embeddings q ON q.vec_id = s.query_id
)
SELECT query_id, rank, vec_id, label, sim FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY sim DESC, vec_id ASC
  ) AS rank
  FROM rescored
) WHERE rank <= {TOP_K}
"""

IVFPQ_QUERIES = {"sim_ivfpq_rerank_topk": sim_ivfpq_rerank_topk}
IVFPQ_ORACLES = {
    "sim_ivfpq_rerank_topk": guard_table_sql(
        SIM_IVFPQ_RERANK_SQL, "embeddings", SQL_EMB_OK
    )
}
