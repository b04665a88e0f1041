"""Boilerplate detection and redaction over the documents table —
the sub-document curation passes a training-data pipeline runs after
whole-document dedup.

- **Chunk-level duplication** (`t_chunk_dedup`): split each document
  into fixed-width word chunks, hash each chunk, and measure per
  document what share of its chunks also appear in other documents.
  High share = boilerplate (headers, footers, templates) — the
  signal CCNet/RefinedWeb-style pipelines use to strip repeated
  passages that whole-document MinHash can't see.
- **Term redaction** (`t_redact_terms`): masked rewrite of the token
  stream from a denylist. The same plumbing handles regex PII masking
  (emails/phones via ``F.regexp_replace``) — the synthetic corpus
  contains no PII-shaped strings, so the deterministic denylist stands
  in for the pattern set.

Scale notes (100 TB):
- chunk hashes are 8-byte ints — the groupBy and the join shuffle
  sketches, never text. The exploded chunk relation is used twice
  (document-frequency aggregate + join back), so it is
  materialized: one scan + one chunk expansion total, the
  at-scale analog of materializing the chunk index.
- the document-frequency aggregate partial-combines map-side; a
  production run would also cap pathological chunks (stop-chunk
  df ceiling) exactly like dedup.py's bucket caps.
- redaction is a narrow projection — scan speed, zero shuffles.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from securities_data_pipeline_spark.functions.expr import let
from securities_data_pipeline_spark.functions.hashing import sql_stable_hash64, stable_hash64
from securities_data_pipeline_spark.operators.textops import _sql_words, words_col
from securities_data_pipeline_spark.sources.tables import materialize, table

CHUNK_W = 8  # words per chunk (non-overlapping)

REDACT_TERMS = ("value", "hash", "merge", "batch")
REDACT_MASK = "[masked]"


def chunk_hashes(text=None) -> F.Column:
    """Array of stable 60-bit hashes of consecutive CHUNK_W-word chunks
    (last chunk may be short). One projection; the ``let`` binding keeps
    the word array from being re-evaluated per chunk lambda."""
    return let(
        words_col() if text is None else words_col(text),
        lambda ws: F.transform(
            F.sequence(
                F.lit(0), F.floor((F.size(ws) - F.lit(1)) / F.lit(CHUNK_W)).cast("int")
            ),
            lambda j: stable_hash64(
                F.array_join(F.slice(ws, j * CHUNK_W + 1, CHUNK_W), " ")
            ),
        ),
    )


def _sql_chunk_hashes() -> str:
    gram = sql_stable_hash64(
        f"array_to_string(w[CAST(j * {CHUNK_W} + 1 AS BIGINT) : "
        f"CAST(j * {CHUNK_W} + {CHUNK_W} AS BIGINT)], ' ')"
    )
    return (
        f"list_transform(range(0, CAST(floor((len(w) - 1) / {CHUNK_W}) AS BIGINT) + 1), "
        f"j -> {gram})"
    )


def t_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate share: fraction of the document's
    word chunks that occur (by hash) in at least one OTHER document."""
    # NOT spread (r11, measured): the chunk-hash map is cheap relative
    # to the groupBy shuffle that follows — a pre-shuffle repartition
    # read +0.3 s in an interleaved A/B at sf0.1
    docs = table(spark, sf_dir, "documents")
    ch = docs.select(
        "doc_id", F.explode(chunk_hashes()).alias("ch")
    ).transform(materialize)
    dfreq = ch.groupBy("ch").agg(F.count_distinct("doc_id").alias("df"))
    return (
        ch.join(dfreq, "ch")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("df") > 1, 1).otherwise(0)).cast("long").alias("n_dup_chunks"),
        )
        .withColumn(
            "dup_share",
            F.round(F.col("n_dup_chunks").cast("double") / F.col("n_chunks"), 6),
        )
    )


T_CHUNK_DEDUP_SQL = f"""
WITH ws AS (
  SELECT doc_id, {_sql_words()} AS w FROM documents
), chunks AS MATERIALIZED (
  SELECT doc_id, unnest({_sql_chunk_hashes()}) AS ch FROM ws
), dfreq AS (
  SELECT ch, COUNT(DISTINCT doc_id) AS df FROM chunks GROUP BY ch
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       round(CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
         AS dup_share
FROM chunks JOIN dfreq USING (ch)
GROUP BY doc_id
"""


SLIDE_W = 16  # words per sliding chunk
SLIDE_STRIDE = 8  # 50% overlap — the context-packing/RAG default


def t_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunker — the doc→chunk explosion a
    training/RAG pipeline runs before embedding or packing: windows of
    ``SLIDE_W`` words every ``SLIDE_STRIDE`` (50 % overlap), the tail
    window kept short rather than dropped (no text is silently lost).
    Output: (doc_id, chunk_idx, n_tokens, chunk_hash).

    Plan: one narrow projection (``let``-bound word array shared by
    all windows) then a single explode — zero shuffles, scan-speed at
    any corpus size; the hash is the 60-bit md5 family so downstream
    chunk-level dedup/joins shuffle 8-byte ints, never chunk text.
    """
    docs = table(spark, sf_dir, "documents")
    chunks = let(
        words_col(),
        lambda ws: F.transform(
            F.sequence(
                F.lit(0),
                F.floor((F.size(ws) - F.lit(1)) / F.lit(SLIDE_STRIDE)).cast("int"),
            ),
            lambda j: F.struct(
                j.cast("long").alias("chunk_idx"),
                F.least(
                    F.lit(SLIDE_W), F.size(ws) - j * SLIDE_STRIDE
                ).cast("long").alias("n_tokens"),
                stable_hash64(
                    F.array_join(F.slice(ws, j * SLIDE_STRIDE + 1, SLIDE_W), " ")
                ).alias("chunk_hash"),
            ),
        ),
    )
    return docs.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id", "c.chunk_idx", "c.n_tokens", "c.chunk_hash"
    )


def _sql_chunk_sliding() -> str:
    gram = sql_stable_hash64(
        f"array_to_string(w[CAST(j * {SLIDE_STRIDE} + 1 AS BIGINT) : "
        f"CAST(j * {SLIDE_STRIDE} + {SLIDE_W} AS BIGINT)], ' ')"
    )
    return f"""
WITH ws AS (
  SELECT doc_id, {_sql_words()} AS w FROM documents
), wins AS (
  SELECT doc_id, w,
         unnest(range(0, CAST(floor((len(w) - 1) / {SLIDE_STRIDE}) AS BIGINT) + 1)) AS j
  FROM ws
)
SELECT doc_id,
       CAST(j AS BIGINT) AS chunk_idx,
       CAST(least({SLIDE_W}, len(w) - j * {SLIDE_STRIDE}) AS BIGINT) AS n_tokens,
       {gram} AS chunk_hash
FROM wins
"""


def t_redact_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Masked rewrite of the token stream from a denylist, with the
    per-document masked-token count."""
    docs = table(spark, sf_dir, "documents")
    deny = F.array(*[F.lit(t) for t in REDACT_TERMS])
    masked = F.transform(
        words_col(),
        lambda w: F.when(F.array_contains(deny, w), F.lit(REDACT_MASK)).otherwise(w),
    )
    return docs.select(
        "doc_id",
        F.size(F.filter(words_col(), lambda w: F.array_contains(deny, w)))
        .cast("long")
        .alias("n_masked"),
        F.array_join(masked, " ").alias("masked_text"),
    )


T_REDACT_SQL = f"""
SELECT doc_id,
       CAST(len(list_filter({_sql_words()}, w -> w IN {REDACT_TERMS!r})) AS BIGINT)
         AS n_masked,
       array_to_string(
         list_transform({_sql_words()},
                        w -> CASE WHEN w IN {REDACT_TERMS!r}
                                  THEN '{REDACT_MASK}' ELSE w END),
         ' ') AS masked_text
FROM documents
"""


SPAN_L = 3  # words per corruption span
SPAN_PCT = 15  # percent of spans masked
SPAN_SENTINEL = "<mask>"
SPAN_SEED = 11


def t_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption: the token stream splits into
    fixed-width spans; ~15% of spans (selected by a deterministic
    hash of (doc_id, span index) — reproducible across runs, shards,
    and engines) are replaced by a sentinel token. Emits the span
    accounting plus the corrupted text's fingerprint — the
    denoising-objective preprocessing pass, as a narrow zero-shuffle
    projection that corrupts 100 TB at scan speed.
    """
    docs = table(spark, sf_dir, "documents")
    corrupted = let(
        words_col(),
        lambda ws: F.flatten(
            F.transform(
                F.sequence(
                    F.lit(0), F.floor((F.size(ws) - F.lit(1)) / F.lit(SPAN_L)).cast("int")
                ),
                lambda j: F.when(
                    stable_hash64(
                        F.concat_ws(":", F.lit(SPAN_SEED), F.col("doc_id"), j)
                    )
                    % 100
                    < SPAN_PCT,
                    F.array(F.lit(SPAN_SENTINEL)),
                ).otherwise(F.slice(ws, j * SPAN_L + 1, SPAN_L)),
            )
        ),
    )
    n_spans = F.floor((F.size(words_col()) - F.lit(1)) / F.lit(SPAN_L)).cast("long") + 1
    return docs.select(
        "doc_id",
        n_spans.alias("n_spans"),
        F.size(F.filter(corrupted, lambda t: t == SPAN_SENTINEL)).cast("long").alias(
            "n_masked_spans"
        ),
        F.md5(F.array_join(corrupted, " ")).alias("corrupted_fp"),
    )


def _sql_span_corruption() -> str:
    h = sql_stable_hash64(f"concat('{SPAN_SEED}', ':', doc_id, ':', j)")
    span = (
        f"CASE WHEN {h} % 100 < {SPAN_PCT} THEN ['{SPAN_SENTINEL}'] "
        f"ELSE w[CAST(j * {SPAN_L} + 1 AS BIGINT) : CAST(j * {SPAN_L} + {SPAN_L} AS BIGINT)] END"
    )
    return f"""
WITH ws AS (
  SELECT doc_id, {_sql_words()} AS w FROM documents
), corr AS (
  SELECT doc_id, len(w) AS n_words,
         flatten(list_transform(
           range(0, CAST(floor((len(w) - 1) / {SPAN_L}) AS BIGINT) + 1),
           j -> {span})) AS c
  FROM ws
)
SELECT doc_id,
       CAST(floor((n_words - 1) / {SPAN_L}) AS BIGINT) + 1 AS n_spans,
       CAST(len(list_filter(c, t -> t = '{SPAN_SENTINEL}')) AS BIGINT) AS n_masked_spans,
       md5(array_to_string(c, ' ')) AS corrupted_fp
FROM corr
"""


# ---------------------------------------------------------------------------
# structured-PII span scan (regex detect + mask)
#
# t_redact_terms handles denylist TOKENS; this is the regex-span tier:
# detect and mask pattern-shaped spans (numeric identifiers, emails,
# phones) anywhere in a raw text/JSON column. Patterns are restricted
# to the Java∩RE2 common subset (character classes + bounded repeats,
# no backrefs/lookarounds) so Spark and the DuckDB oracle compile them
# identically. A zero-shuffle projection: at 100 TB this runs at scan
# speed, and the masked rewrite lands next to the original for the
# quarantine/error-channel pattern (S6) to route.

#: name → (regex, mask); applied in this order to the masked rewrite.
#: ORDER MATTERS: composite patterns (email) must mask before their
#: sub-patterns (digit runs) — num_id-first would rewrite the digits
#: inside "john1234@x.com" and the mangled text would no longer match
#: the email regex, leaking the local-part fragment and domain.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": ("[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}", "<EMAIL>"),
    # digit runs ≥3: account-number/ID-shaped spans (events.props carries
    # these; the email pattern is the corpus' natural negative control)
    "num_id": ("[0-9]{3,}", "<NUM>"),
}


def pii_scan(df: DataFrame, text_col: str, id_cols: list[str]) -> DataFrame:
    """Per-row count of each PII pattern in ``text_col`` plus the fully
    masked rewrite (patterns applied in declaration order)."""
    counts = [
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(rx), F.lit(0)))
        .cast("long")
        .alias(f"n_{name}")
        for name, (rx, _) in PII_PATTERNS.items()
    ]
    masked = F.col(text_col)
    for rx, mask in PII_PATTERNS.values():
        masked = F.regexp_replace(masked, rx, mask)
    return df.select(*id_cols, *counts, masked.alias("masked"))


def t_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan over the events JSON payload — the column in the corpus
    that actually carries numeric-identifier spans (email stays a
    negative control here)."""
    ev = table(spark, sf_dir, "events")
    return pii_scan(ev, "props", ["event_id"])


def _sql_pii_scan() -> str:
    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(props, '{rx}')) AS BIGINT) AS n_{name}"
        for name, (rx, _) in PII_PATTERNS.items()
    )
    masked = "props"
    for rx, mask in PII_PATTERNS.values():
        masked = f"regexp_replace({masked}, '{rx}', '{mask}', 'g')"
    return f"""
SELECT event_id,
       {counts},
       {masked} AS masked
FROM events
"""


BOILERPLATE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "t_chunk_dedup": t_chunk_dedup,
    "t_chunk_sliding": t_chunk_sliding,
    "t_redact_terms": t_redact_terms,
    "t_span_corruption": t_span_corruption,
    "t_pii_scan": t_pii_scan,
}

BOILERPLATE_ORACLES: dict[str, str] = {
    "t_chunk_dedup": T_CHUNK_DEDUP_SQL,
    "t_chunk_sliding": _sql_chunk_sliding(),
    "t_redact_terms": T_REDACT_SQL,
    "t_span_corruption": _sql_span_corruption(),
    "t_pii_scan": _sql_pii_scan(),
}
