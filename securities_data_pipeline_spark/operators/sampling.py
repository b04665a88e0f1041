"""Dataset sampling / mixing operators for training-data pipelines.

A 100 TB corpus is never trained on verbatim: sources are sampled at
per-stratum rates (dataset mixing) and capped by token budgets
(curriculum sizing). Both operators here are **deterministic** — the
sampling decision is a pure function of the row key via the stable
md5-derived hash family (functions/hashing.py), so:

- resampling is reproducible across runs, engines, and cluster sizes
  (no RNG state, no partition-order dependence — Bernoulli sampling
  you can re-run byte-identically anywhere);
- the exact same selection is expressible in ANSI SQL → oracle-checked;
- at scale it's a narrow filter/window over the scan — no shuffle for
  rate sampling, one bounded shuffle per stratum for budgeting.

Reference tie-in: the dev-mode ``sample(5)`` (py_pipeline/
extract.py:62-63) is the degenerate case; P8's ordered-hash exact-N
sample generalizes to these corpus-scale forms.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from securities_data_pipeline_spark.functions.hashing import (
    seeded_hash64,
    sql_seeded_hash64,
    sql_stable_hash64,
    stable_hash64,
)
from securities_data_pipeline_spark.sources.tables import materialize, table

# demo mixing rates per language stratum (per-mille, exact integers so
# both engines compare the same way)
LANG_RATES_PM: dict[str, int] = {"en": 900, "de": 500, "fr": 250, "es": 100}
DEFAULT_RATE_PM = 50

TOKEN_BUDGET = 2_000  # per-language token budget for the demo query


def hash_bernoulli(key: Column, rate_pm: Column | int) -> Column:
    """Deterministic Bernoulli trial: keep iff
    ``stable_hash64(key) % 1000 < rate_pm``. The hash is uniform on
    [0, 2^60), so the selection rate converges to rate_pm/1000 while
    staying a pure row-level predicate (re-runnable, engine-portable,
    pushable below joins)."""
    rate = F.lit(rate_pm) if isinstance(rate_pm, int) else rate_pm
    return F.pmod(stable_hash64(key), F.lit(1000)) < rate


def sample_stratified(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    rates_pm: dict[str, int],
    default_pm: int = DEFAULT_RATE_PM,
) -> DataFrame:
    """Per-stratum deterministic sampling (dataset mixing): each
    stratum keeps its configured fraction. One CASE + one hash per
    row, no shuffle; the predicate composes with pushdown."""
    rate = F.lit(default_pm)
    for s, pm in rates_pm.items():
        rate = F.when(F.col(stratum_col) == s, F.lit(pm)).otherwise(rate)
    return df.where(hash_bernoulli(F.col(key_col).cast("string"), rate))


def t_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked mixing query: language-stratified document
    sample with per-stratum keep counts."""
    docs = table(spark, sf_dir, "documents")
    kept = sample_stratified(docs, "doc_id", "lang", LANG_RATES_PM)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("sum_chars"),
    )


def _sql_rate_case() -> str:
    whens = " ".join(
        f"WHEN lang = '{s}' THEN {pm}" for s, pm in LANG_RATES_PM.items()
    )
    return f"CASE {whens} ELSE {DEFAULT_RATE_PM} END"


T_SAMPLE_STRATIFIED_SQL = f"""
SELECT lang, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE {sql_stable_hash64("CAST(doc_id AS VARCHAR)")} % 1000 < {_sql_rate_case()}
GROUP BY lang
"""


def _hash_order_before_sum(
    key_col: str, part_col: str, tokens_col: str
) -> Column:
    """Exclusive prefix sum of ``tokens_col`` in deterministic hash
    order within ``part_col`` — THE shared ordering/frame of the
    budget filter and the sequence packer (one definition, so the
    hash, tie-break, and frame can never drift apart between them;
    `_sql_before_sum` is its oracle twin)."""
    h = stable_hash64(F.col(key_col).cast("string"))
    w = (
        Window.partitionBy(part_col)
        .orderBy(h.asc(), F.col(key_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return F.coalesce(F.sum(tokens_col).over(w), F.lit(0).cast("long"))


def _sql_before_sum(part: str, key: str = "doc_id", tokens: str = "n_tokens") -> str:
    h = sql_stable_hash64(f"CAST({key} AS VARCHAR)")
    return (
        f"""COALESCE(SUM({tokens}) OVER (
           PARTITION BY {part} ORDER BY {h} ASC, {key} ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"""
    )


def token_budget_filter(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    tokens_col: str,
    budget: int,
) -> DataFrame:
    """Keep documents per stratum, in deterministic hash order, until
    the running token total exceeds ``budget`` (the first overflowing
    doc is kept so every non-empty stratum yields at least one doc).

    The hash order is an unbiased, reproducible shuffle; the cumsum is
    one window per stratum — a single bounded shuffle at scale, and
    the window spec is shared with any other per-stratum ordering.
    """
    before = _hash_order_before_sum(key_col, stratum_col, tokens_col)
    return df.withColumn("_before", before).where(F.col("_before") < budget).drop("_before")


def t_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked budgeting query: whitespace-token budget of
    TOKEN_BUDGET per language, deterministic document order."""
    from securities_data_pipeline_spark.operators.textops import token_count

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count().alias("n_tokens")
    )
    kept = token_budget_filter(docs, "doc_id", "lang", "n_tokens", TOKEN_BUDGET)
    return kept.select("doc_id", "lang", "n_tokens")


def _sql_token_budget() -> str:
    from securities_data_pipeline_spark.operators.textops import _sql_words

    return f"""
WITH toks AS (
  SELECT doc_id, lang, len({_sql_words()}) AS n_tokens FROM documents
), ordered AS (
  SELECT doc_id, lang, n_tokens,
         {_sql_before_sum('lang')} AS before_sum
  FROM toks
)
SELECT doc_id, lang, n_tokens FROM ordered WHERE before_sum < {TOKEN_BUDGET}
"""


SEQ_LEN = 512  # training context length (tokens) per packed sequence
N_SHARDS = 8  # packing shards — each packs independently


def pack_sequences(
    df: DataFrame,
    key_col: str,
    tokens_col: str,
    seq_len: int = SEQ_LEN,
    n_shards: int = N_SHARDS,
) -> DataFrame:
    """Assign each document a (shard, pack_id, offset) slot in a
    stream of fixed-``seq_len`` training sequences — the contiguous
    -fill packing of a streaming batch packer (documents concatenate
    in deterministic hash order; a sequence boundary may split a doc,
    exactly like GPT-style pretraining token streams).

    Scale shape: the corpus first hash-partitions into ``n_shards``
    independent packing shards, so the running-total window only ever
    orders ``corpus/n_shards`` rows — at 100 TB, shards = O(10k) and
    each window partition stays executor-sized. One shuffle total
    (the per-shard window sort); the assignment itself is arithmetic
    on the cumulative token count, no iteration, no Python.
    """
    h = stable_hash64(F.col(key_col).cast("string"))
    shard = F.pmod(h, F.lit(n_shards))
    before = _hash_order_before_sum(key_col, "shard", tokens_col)
    return (
        df.withColumn("shard", shard)
        .withColumn("_before", before)
        .select(
            key_col,
            "shard",
            # integer division, not floor(double /): a double quotient
            # loses exactness once the per-shard cumulative token count
            # passes 2^53 — the same int64-exactness rule as
            # round6_ratio; `div` stays in long arithmetic
            F.expr(f"_before DIV {int(seq_len)}").alias("pack_id"),
            F.pmod(F.col("_before"), F.lit(seq_len)).alias("offset"),
            F.col(tokens_col).alias("n_tokens"),
        )
    )


def t_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked packing query: documents → 512-token sequence
    slots across 8 shards."""
    from securities_data_pipeline_spark.operators.textops import token_count

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", token_count().alias("n_tokens")
    )
    return pack_sequences(docs, "doc_id", "n_tokens")


def _sql_pack_sequences() -> str:
    from securities_data_pipeline_spark.operators.textops import _sql_words

    h = sql_stable_hash64("CAST(doc_id AS VARCHAR)")
    return f"""
WITH toks AS (
  SELECT doc_id, len({_sql_words()}) AS n_tokens, {h} % {N_SHARDS} AS shard
  FROM documents
), ordered AS (
  SELECT doc_id, shard, n_tokens,
         {_sql_before_sum('shard')} AS before_sum
  FROM toks
)
SELECT doc_id, shard,
       CAST(before_sum // {SEQ_LEN} AS BIGINT) AS pack_id,
       CAST(before_sum % {SEQ_LEN} AS BIGINT) AS offset,
       n_tokens
FROM ordered
"""


# train/val/test thresholds in per-mille of the hash space
SPLIT_TRAIN_PM = 900
SPLIT_VAL_PM = 950  # (900, 950] → val; rest → test
SPLIT_SEED = 7  # independent of the sampling hash above


def split_col(key: Column) -> Column:
    """Deterministic train/val/test assignment: a seeded hash of the
    row key bucketed by per-mille thresholds. Pure row-level
    projection — no shuffle, reproducible on any engine or cluster
    size, and documents never migrate between splits when the corpus
    grows (the hash doesn't depend on corpus contents)."""
    bucket = F.pmod(seeded_hash64(key, SPLIT_SEED), F.lit(1000))
    return (
        F.when(bucket < SPLIT_TRAIN_PM, "train")
        .when(bucket < SPLIT_VAL_PM, "val")
        .otherwise("test")
    )


def t_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked split query: per-split document and char
    totals (the split-manifest summary a training run records)."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(split_col(F.col("doc_id").cast("string")).alias("split"), "n_chars")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
    )


def _sql_train_split() -> str:
    h = sql_seeded_hash64("CAST(doc_id AS VARCHAR)", SPLIT_SEED)
    return f"""
SELECT CASE WHEN {h} % 1000 < {SPLIT_TRAIN_PM} THEN 'train'
            WHEN {h} % 1000 < {SPLIT_VAL_PM} THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY 1
"""


MIX_TARGET_FRAC = 0.4  # keep ~40% of the corpus overall


def t_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted dataset mixing (α = 0.5): per-stratum keep
    rates derived FROM the corpus instead of hand-configured — stratum
    s gets a share ∝ √n_s of the target row count, which up-weights
    small sources and tempers dominant ones (the standard
    multilingual/multi-source rebalancing rule). The per-stratum rate
    is fixed to integer per-mille with a round-then-floor guard so
    both engines derive the identical rate from the identical counts,
    then applied as the same zero-shuffle hash-Bernoulli predicate as
    ``sample_stratified``.

    Scale shape: the rate table is a strata-sized aggregate (dozens of
    rows at any corpus size) broadcast back onto the scan — the corpus
    itself never shuffles. Output is the per-stratum mixing manifest:
    corpus count, derived rate, kept count."""
    docs = table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(
        F.sum("n").alias("nn"), F.sum(F.sqrt(F.col("n"))).alias("ssq")
    )
    rates = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.col("n").alias("n_total"),
            F.least(
                F.lit(1000),
                F.floor(
                    F.round(
                        F.lit(1000.0)
                        * MIX_TARGET_FRAC
                        * F.col("nn")
                        * F.sqrt(F.col("n"))
                        / (F.col("ssq") * F.col("n")),
                        9,
                    )
                ),
            )
            .cast("int")
            .alias("rate_pm"),
        )
        .transform(materialize)
    )
    kept = (
        docs.join(F.broadcast(rates), "lang")
        .where(hash_bernoulli(F.col("doc_id").cast("string"), F.col("rate_pm")))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return rates.join(kept, "lang", "left").select(
        "lang", "n_total", "rate_pm", F.coalesce("n_kept", F.lit(0)).alias("n_kept")
    )


def _sql_temperature_mix() -> str:
    h = sql_stable_hash64("CAST(doc_id AS VARCHAR)")
    return f"""
WITH counts AS (
  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
), tot AS (
  SELECT SUM(n) AS nn, SUM(sqrt(n)) AS ssq FROM counts
), rates AS (
  SELECT lang, n AS n_total,
         CAST(LEAST(1000, floor(round(
           1000.0 * {MIX_TARGET_FRAC} * nn * sqrt(n) / (ssq * n), 9))) AS INT) AS rate_pm
  FROM counts CROSS JOIN tot
), kept AS (
  SELECT d.lang, COUNT(*) AS n_kept
  FROM documents d JOIN rates r ON d.lang = r.lang
  WHERE {h} % 1000 < r.rate_pm
  GROUP BY d.lang
)
SELECT r.lang, r.n_total, r.rate_pm, COALESCE(k.n_kept, 0) AS n_kept
FROM rates r LEFT JOIN kept k ON r.lang = k.lang
"""


SHUFFLE_SEED = 11
SHUFFLE_BUCKETS = 64


def global_shuffle_order(
    df: DataFrame, key_col: str, n_buckets: int = SHUFFLE_BUCKETS
) -> DataFrame:
    """Deterministic global shuffle: assign every row a dense
    0-based position in seeded-hash order — the reproducible corpus
    permutation a training run reads examples in.

    A naive ``row_number() OVER (ORDER BY hash)`` funnels the whole
    corpus through one partition, so this is the distributed
    zipWithIndex shape instead: hash-bucket the rows, rank inside
    each bucket (window over corpus/n_buckets rows), and add each
    bucket's start offset, computed from the tiny per-bucket count
    aggregate (n_buckets rows — its cumsum window is driver-scale)
    and broadcast back. Two scans of one narrow column, one
    executor-sized sort, no global bottleneck at any corpus size.
    """
    h = seeded_hash64(F.col(key_col).cast("string"), SHUFFLE_SEED)
    with_b = df.withColumn("_h", h).withColumn(
        "bucket", F.pmod(F.col("_h"), F.lit(n_buckets))
    )
    wb = Window.partitionBy("bucket").orderBy(F.col("_h").asc(), F.col(key_col).asc())
    wo = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        with_b.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            "bucket",
            F.coalesce(F.sum("_n").over(wo), F.lit(0).cast("long")).alias("_offset"),
        )
    )
    return (
        with_b.withColumn("_rn", F.row_number().over(wb))
        .join(F.broadcast(offsets), "bucket")
        .select(
            key_col,
            "bucket",
            (F.col("_offset") + F.col("_rn") - 1).alias("position"),
        )
    )


def t_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked shuffle query: every document's position in the
    seeded global permutation."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    return global_shuffle_order(docs, "doc_id")


def _sql_global_shuffle() -> str:
    h = sql_seeded_hash64("CAST(doc_id AS VARCHAR)", SHUFFLE_SEED)
    return f"""
SELECT doc_id,
       {h} % {SHUFFLE_BUCKETS} AS bucket,
       ROW_NUMBER() OVER (
         ORDER BY {h} % {SHUFFLE_BUCKETS} ASC, {h} ASC, doc_id ASC
       ) - 1 AS position
FROM documents
"""


ES_SEED = 7101
ES_K = 50
_ES_U_BITS = 40  # u granularity: (hash mod 2^40 + 1) / 2^40 is an EXACT double


def weighted_sample_key(key: Column, weight: Column, seed: int = ES_SEED) -> Column:
    """Efraimidis–Spirakis (2006) weighted-reservoir key: the k rows
    with the largest ``u^(1/w)`` are a weighted sample WITHOUT
    replacement. We order by the monotone-equivalent ``ln(u)/w``
    (larger = better, since ln u <= 0 and w > 0) — same selection, one
    ``pow`` cheaper, and numerically tamer for tiny u.

    Determinism: u is derived from the md5 hash family, and
    ``(m+1)/2^40`` is a division by a power of two of a 41-bit integer
    — an EXACT double, bit-identical in any engine. The only inexact
    step is ``ln``; both engines compute it to <=1 ulp from identical
    inputs, so orderings can differ only between keys within ~1 ulp of
    each other (tested: the selection-boundary gap at sf0.01 is >1e9
    ulps — see tests/test_transforms.py)."""
    m = F.pmod(seeded_hash64(key.cast("string"), seed), F.lit(1 << _ES_U_BITS))
    u = (m + F.lit(1)).cast("double") / F.lit(float(1 << _ES_U_BITS))
    return F.log(u) / weight.cast("double")


def weighted_sample_topk(
    df: DataFrame, key_col: str, weight_col: str, k: int = ES_K
) -> DataFrame:
    """Top-k by the E-S key: a distributed TakeOrdered (per-partition
    heaps, no global sort, no full shuffle), then ranks assigned on the
    k surviving rows — the single-partition window is bounded by k, not
    the corpus. This is THE quality-weighted subsampling shape for
    100 TB curation: weight = quality score or token count, one narrow
    scan, driver traffic = k rows."""
    # w > 0 guard (the key's docstring assumes it): a zero weight makes
    # ln(u)/w hit -inf/NaN, whose NULL-vs-IEEE handling and sort order
    # differ between engines. Semantically, weight 0 = probability 0 =
    # never sampled, so dropping the row first is exact, not a fudge.
    keyed = df.where(F.col(weight_col) > 0).withColumn(
        "_es", weighted_sample_key(F.col(key_col), F.col(weight_col))
    )
    top = keyed.orderBy(F.col("_es").desc(), F.col(key_col).asc()).limit(k)
    w = Window.orderBy(F.col("_es").desc(), F.col(key_col).asc())
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        *[F.col(c) for c in df.columns],
    )


def t_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked weighted sample: 50 documents drawn without
    replacement with probability proportional to length (n_chars)."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return weighted_sample_topk(docs, "doc_id", "n_chars")


def _sql_sample_weighted() -> str:
    h = sql_seeded_hash64("CAST(doc_id AS VARCHAR)", ES_SEED)
    u = f"CAST(({h}) % {1 << _ES_U_BITS} + 1 AS DOUBLE) / {float(1 << _ES_U_BITS)}"
    return f"""
WITH keyed AS (
  SELECT doc_id, lang, n_chars, ln({u}) / n_chars AS es
  FROM documents
  WHERE n_chars > 0
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY es DESC, doc_id ASC) AS BIGINT) AS rank,
       doc_id, lang, n_chars
FROM keyed
ORDER BY es DESC, doc_id ASC
LIMIT {ES_K}
"""


def t_split_leakage_free(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-cluster-aware train/val/test split: the split key is
    the document's CONNECTED-COMPONENT label, not its own id, so two
    near-duplicate documents can never straddle a split boundary — the
    eval-leakage failure mode of doc-level splitting (a test doc whose
    paraphrase sits in train). ``t_train_split`` is the doc-level
    baseline; this is the one a real eval pipeline must use.

    Plan: ``dedup_components`` labels (LSH candidate pairs → connected
    components) → ``split_col`` on the component label (pure
    projection) → per-split counts. Output is the split
    manifest (docs + clusters per split); the zero-cross-split
    invariant is structural (split = f(component)) and pinned by test.
    """
    from securities_data_pipeline_spark.operators.dedup import dedup_components

    labels = dedup_components(spark, sf_dir)
    return (
        labels.select(
            "doc_id",
            split_col(F.col("component").cast("string")).alias("split"),
            "component",
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("component").alias("n_clusters"),
        )
    )


def _sql_split_leakage_free() -> str:
    from securities_data_pipeline_spark.operators.dedup import _sql_reach_prefix

    h = sql_seeded_hash64("CAST(component AS VARCHAR)", SPLIT_SEED)
    return f"""
{_sql_reach_prefix()}
SELECT CASE WHEN {h} % 1000 < {SPLIT_TRAIN_PM} THEN 'train'
            WHEN {h} % 1000 < {SPLIT_VAL_PM} THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT component) AS n_clusters
FROM labels GROUP BY 1
"""


SAMPLING_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "t_sample_stratified": t_sample_stratified,
    "t_token_budget": t_token_budget,
    "t_pack_sequences": t_pack_sequences,
    "t_train_split": t_train_split,
    "t_global_shuffle": t_global_shuffle,
    "t_temperature_mix": t_temperature_mix,
    "t_sample_weighted": t_sample_weighted,
    "t_split_leakage_free": t_split_leakage_free,
}

SAMPLING_ORACLES: dict[str, str] = {
    "t_sample_stratified": T_SAMPLE_STRATIFIED_SQL,
    "t_token_budget": _sql_token_budget(),
    "t_pack_sequences": _sql_pack_sequences(),
    "t_train_split": _sql_train_split(),
    "t_global_shuffle": _sql_global_shuffle(),
    "t_temperature_mix": _sql_temperature_mix(),
    "t_sample_weighted": _sql_sample_weighted(),
    "t_split_leakage_free": _sql_split_leakage_free(),
}
