"""Text-analysis operators over the documents table.

Training-data-pipeline surface (BASELINE.json north star): token
counting, quality scoring, language ID, document fingerprinting. All
pure ``pyspark.sql.functions`` — JVM-side, whole-stage codegen, no
Python in the hot path — so a 100 TB documents table processes at scan
speed with zero shuffles (every operator here is a narrow projection).

Each operator also emits an equivalent DuckDB oracle; both sides are
generated from the same constants (stopword lists, regexes) so the
semantics can't drift.

The language-ID heuristic is the real stopword-profile plumbing with
deliberately tiny profiles (the synthetic corpus shares one vocabulary
across langs — detection quality is meaningless there, determinism is
what the gate checks). Swap ``LANG_PROFILES`` for real per-language
stopword/n-gram profiles in production.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from securities_data_pipeline_spark.functions.hashing import (
    seeded_hash64,
    sql_seeded_hash64,
    sql_stable_hash64,
)
from securities_data_pipeline_spark.sources.tables import local_rows, materialize, spread, table

# one source of truth for both engines
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "value", "fast"),
    "de": ("der", "und", "hash", "window"),
    "fr": ("le", "et", "query", "merge"),
    "es": ("el", "y", "table", "scan"),
}
LANG_ORDER = ("en", "de", "fr", "es")  # deterministic tie-break priority
STOPWORDS = ("the", "a", "of", "and", "to", "in")
WS_RE = r"\s+"


def words_col(text: Column | str = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(F.lower(c)), WS_RE)


def _sql_words(expr: str = "text") -> str:
    return f"regexp_split_to_array(trim(lower({expr})), '\\s+')"


def token_count(text: Column | str = "text") -> Column:
    return F.size(words_col(text))


def stopword_count(text: Column | str = "text", stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    sw = F.array(*[F.lit(w) for w in stopwords])
    return F.size(F.filter(words_col(text), lambda w: F.array_contains(sw, w)))


def quality_score(text: Column | str = "text") -> Column:
    """Length + stopword-ratio + mean-token-length composite in [0,~1].

    score = 0.4·min(n_tokens/100, 1)
          + 0.3·min(stopword_ratio·5, 1)
          + 0.3·min(avg_token_len/8, 1), rounded HALF-UP to 6 dp.

    Evaluated in EXACT int64 arithmetic over the common denominator
    D = 2000·n: numerator N = min(8n², 800n) + min(3000·sw, 600n)
    + min(75·chars, 600n), and the 6-dp half-up rounding is the
    integer floor of (2·N·10⁶ + D)/(2D). Rounding a binary DOUBLE at
    a .5×10⁻⁶ boundary is engine-dependent (Spark rounds the shortest
    decimal rendering, DuckDB the binary value — they disagree on
    exact ties; observed on 3 of 5000 docs at sf0.1), so the tie is
    resolved in integers where both engines agree bit-for-bit.
    Overflow-safe to ~10⁴-token documents (2·N·10⁶ < 2⁶³).
    """
    n = token_count(text).cast("long")
    sw = stopword_count(text).cast("long")
    chars = F.length(F.array_join(words_col(text), "")).cast("long")
    num = (
        F.least(F.lit(8) * n * n, F.lit(800) * n)
        + F.least(F.lit(3000) * sw, F.lit(600) * n)
        + F.least(F.lit(75) * chars, F.lit(600) * n)
    )
    den = F.lit(2000) * n
    m = F.lit(2) * num * F.lit(1_000_000) + den
    d2 = F.lit(2) * den
    # exact integer floor division: m and d2 are longs, m - m%d2 is an
    # exact multiple, and the double quotient of exact values < 2^53
    # is itself exact
    micro = ((m - m % d2) / d2).cast("long")
    return micro.cast("double") / F.lit(1_000_000.0)


def lang_scores(text: Column | str = "text") -> dict[str, Column]:
    words = words_col(text)
    out = {}
    for lang, profile in LANG_PROFILES.items():
        prof = F.array(*[F.lit(w) for w in profile])
        out[lang] = F.size(F.filter(words, lambda w: F.array_contains(prof, w)))
    return out


def lang_id(text: Column | str = "text") -> Column:
    """Stopword-profile argmax with fixed priority tie-break; 'und'
    (undetermined) when no profile matches at all.

    Built as a forward when-chain — the first satisfied branch wins,
    exactly like the oracle's ``CASE WHEN ... WHEN ... ELSE``.
    """
    scores = lang_scores(text)
    case: Column | None = None
    for lang in LANG_ORDER:
        cond = scores[lang] > 0
        for other in LANG_ORDER:
            if other == lang:
                continue
            # ties go to the earlier lang in LANG_ORDER: >= against
            # later langs, strict > against earlier ones
            if LANG_ORDER.index(other) > LANG_ORDER.index(lang):
                cond = cond & (scores[lang] >= scores[other])
            else:
                cond = cond & (scores[lang] > scores[other])
        case = F.when(cond, lang) if case is None else case.when(cond, lang)
    return case.otherwise("und")


def fingerprint(text: Column | str = "text") -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase
    text — the exact-dedup key."""
    return F.md5(F.array_join(words_col(text), " "))


# ---------------------------------------------------------------------------
# query registry entries


def round6_ratio(num: Column, den: Column) -> Column:
    """HALF-UP 6-dp round of ``num/den`` (non-negative integers) in
    pure int64 arithmetic: floor((num·2e6 + den) / (2·den)) / 1e6.
    ``round(double, 6)`` diverges across engines whenever the true
    ratio sits on a 6-dp half-way boundary (Spark rounds the shortest
    decimal rendering, DuckDB the binary double — the quality_score
    docstring records 3 such docs in 5000 at sf0.1); integer half-up
    is deterministic everywhere. The quotient is made EXACTLY
    divisible before the double division (subtract the pmod) — a bare
    floor(a/b) over int64s can misround when the true quotient sits
    just under an integer."""
    t = num.cast("long") * F.lit(2_000_000) + den.cast("long")
    d = F.lit(2) * den.cast("long")
    return ((t - F.pmod(t, d)) / d).cast("double") / F.lit(1_000_000.0)


def _sql_round6_ratio(num: str, den: str) -> str:
    return (
        f"CAST((({num}) * 2000000 + ({den})) // (2 * ({den})) AS DOUBLE) / 1000000.0"
    )


def t_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    n = token_count().alias("n_tokens")
    return docs.select(
        "doc_id",
        n,
        stopword_count().alias("n_stopwords"),
        round6_ratio(
            F.length(F.array_join(words_col(), "")), token_count()
        ).alias("avg_token_len"),
    )


T_TOKEN_STATS_SQL = f"""
SELECT doc_id,
       len({_sql_words()}) AS n_tokens,
       len(list_filter({_sql_words()}, w -> w IN {STOPWORDS!r})) AS n_stopwords,
       {_sql_round6_ratio(f"len(array_to_string({_sql_words()}, ''))", f"len({_sql_words()})")} AS avg_token_len
FROM documents
"""


def t_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score().alias("quality"))


def _sql_quality() -> str:
    return f"""
SELECT doc_id,
  CAST((2 * (least(8*n*n, 800*n) + least(3000*sw, 600*n) + least(75*chars, 600*n))
        * 1000000 + 2000*n) // (2 * 2000*n) AS DOUBLE) / 1000000.0 AS quality
FROM (
  SELECT doc_id,
         len(w) AS n,
         len(list_filter(w, x -> x IN {STOPWORDS!r})) AS sw,
         len(array_to_string(w, '')) AS chars
  FROM (SELECT doc_id, {_sql_words()} AS w FROM documents)
)
"""


def t_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(table(spark, sf_dir, "documents"))
    return docs.select("doc_id", "lang", lang_id().alias("lang_pred"))


def _sql_lang_id() -> str:
    w = _sql_words()
    score = {
        lang: f"len(list_filter({w}, x -> x IN {profile!r}))"
        for lang, profile in LANG_PROFILES.items()
    }
    # same argmax logic: earlier lang in LANG_ORDER wins ties (>=
    # against later langs, > against earlier)
    cases = []
    for lang in LANG_ORDER:
        conds = []
        for other in LANG_ORDER:
            if other == lang:
                continue
            op = ">=" if LANG_ORDER.index(other) > LANG_ORDER.index(lang) else ">"
            conds.append(f"{score[lang]} {op} {score[other]}")
        conds.append(f"{score[lang]} > 0")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return f"""
SELECT doc_id, lang,
       CASE {' '.join(cases)} ELSE 'und' END AS lang_pred
FROM documents
"""


def t_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint().alias("fp"))


T_FINGERPRINT_SQL = f"""
SELECT doc_id, md5(array_to_string({_sql_words()}, ' ')) AS fp
FROM documents
"""


# ---------------------------------------------------------------------------
# BPE-ish subword tokenization (regex-based)

# letter runs / digit runs / single punctuation — the word-boundary
# pre-split every byte-pair tokenizer applies before merges; identical
# RE2/Java-regex semantics in both engines
BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def t_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-ish token stats: count + distinct count of regex
    pre-tokens. Narrow projection — scan-speed at 100 TB."""
    docs = table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_PATTERN), 0)
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_bpe"),
    )


T_TOKEN_BPE_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(lower(text), '{BPE_PATTERN}')) AS n_bpe_tokens,
       len(list_distinct(regexp_extract_all(lower(text), '{BPE_PATTERN}'))) AS n_unique_bpe
FROM documents
"""


# ---------------------------------------------------------------------------
# winnowing fingerprints (rolling-hash document sketch)

WINNOW_K = 8  # character k-gram length
WINNOW_W = 4  # winnowing window (k-grams per window)


def t_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's
    MOSS sketch): hash every k-char gram of the normalized text, then
    keep the minimum hash of each sliding window of w grams; the
    distinct selected hashes are the document's fingerprint set.

    Guarantees at least one fingerprint per window-length match
    between documents — the standard plagiarism/near-dup sketch that,
    unlike MinHash, localizes WHERE the overlap is.

    All per-row expression work in ONE projection, with ``let``
    bindings so the normalized text and the gram-hash array each
    evaluate once per row (a naive chained-select version gets
    CollapseProject-inlined into the window lambda and goes O(n²) —
    see functions/expr.py). Output explodes to (doc_id, fp) rows
    ready for an inverted-index join. ~|text| md5s per doc; at 100 TB
    the sketch is computed at scan speed and only the fingerprints
    (8 bytes × |text|/w) shuffle, never the text.
    """
    from securities_data_pipeline_spark.functions.expr import let
    from securities_data_pipeline_spark.functions.hashing import stable_hash64

    # no text → no fingerprint, on BOTH sides (fuzz-found): a NULL text
    # propagates NULL through the gram hash, where DuckDB's concat
    # ignores the NULL ('0x' || NULL = '0x') and its BIGINT cast then
    # errors, while Spark's concat yields NULL — the engines disagree
    # on the garbage row, so the garbage row must not reach the hash
    # ~|text| md5s per doc, all per-row — spread the single-split scan
    # (A/B sf0.1: 6.06 -> 2.55 s; no-op at cluster scale)
    docs = spread(table(spark, sf_dir, "documents").where(F.col("text").isNotNull()))
    fps = let(
        F.array_join(words_col(), " "),
        lambda t: let(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(t) - (WINNOW_K - 1), F.lit(1))),
                lambda i: stable_hash64(F.substring(t, i, WINNOW_K)),
            ),
            lambda hs: F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(1), F.greatest(F.size(hs) - (WINNOW_W - 1), F.lit(1))
                    ),
                    lambda j: F.array_min(F.slice(hs, j, WINNOW_W)),
                )
            ),
        ),
    )
    return docs.select("doc_id", F.explode(fps).alias("fp"))


def _sql_winnow(k: int = WINNOW_K, w: int = WINNOW_W) -> str:
    gram_hash = sql_stable_hash64(f"substring(t, CAST(i AS INT), {k})")
    return f"""
WITH norm AS MATERIALIZED (
  SELECT doc_id, array_to_string({_sql_words()}, ' ') AS t FROM documents
  WHERE text IS NOT NULL
), grams AS MATERIALIZED (
  SELECT doc_id,
         list_transform(range(1, greatest(len(t) - {k - 1}, 1) + 1),
                        i -> {gram_hash}) AS hs
  FROM norm
), sel AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(hs) - {w - 1}, 1) + 1),
                                      j -> list_aggregate(hs[j : j + {w - 1}], 'min'))) AS fps
  FROM grams
)
SELECT doc_id, unnest(fps) AS fp FROM sel
"""


N_IDF_TERMS = 20


def t_idf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus document-frequency / IDF: the inverted-index statistic
    every quality/rarity filter needs. One explode of per-doc DISTINCT
    terms (so df counts documents, not occurrences), one groupBy on
    the term, and a one-row corpus-count broadcast for the IDF ratio.
    At 100 TB the term aggregate partial-combines map-side; the
    single-row cross join is a broadcast, never a shuffle."""
    docs = table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    dfreq = (
        docs.select(F.explode(F.array_distinct(words_col())).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return (
        dfreq.crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            "df",
            F.round(
                F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")), 6
            ).alias("idf"),
        )
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(N_IDF_TERMS)
    )


T_IDF_SQL = f"""
WITH terms AS (
  SELECT doc_id, unnest(list_distinct({_sql_words()})) AS term FROM documents
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM terms WHERE term <> '' GROUP BY term
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
)
SELECT term, df,
       round(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS idf
FROM dfreq CROSS JOIN n
ORDER BY df DESC, term ASC
LIMIT {N_IDF_TERMS}
"""


# ---------------------------------------------------------------------------
# tokenizer vocabulary construction

VOCAB_SIZE = 100


def token_stream(docs: DataFrame) -> DataFrame:
    """The exploded non-empty token stream — ONE tokenization shared by
    every frequency consumer (vocab, heavy hitters) so their
    tokenization can never drift apart."""
    return docs.select(F.explode(words_col()).alias("token")).where(F.col("token") != "")


def ranked_head(counts: DataFrame, n: int, rank_col: str) -> DataFrame:
    """Deterministic top-``n`` of a (token, n_occurrences) table:
    count desc, token asc — Spark plans the limit as
    TakeOrderedAndProject (per-partition heap + driver merge, never a
    full sort), and the rank window runs over just the surviving n
    rows."""
    from pyspark.sql import Window

    order = [F.col("n_occurrences").desc(), F.col("token").asc()]
    return (
        counts.orderBy(*order)
        .limit(n)
        .withColumn(rank_col, F.row_number().over(Window.orderBy(*order)))
    )


def t_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary construction: global token frequencies →
    rank-ordered token ids, the table a BPE/WordPiece trainer seeds
    from. One exploded token aggregate (map-side partial combine, so
    only distinct (token, count) pairs shuffle) followed by a global
    top-``VOCAB_SIZE`` (``ranked_head``)."""
    counts = (
        token_stream(table(spark, sf_dir, "documents"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    return ranked_head(counts, VOCAB_SIZE, "token_id")


T_VOCAB_SQL = f"""
WITH toks AS (
  SELECT unnest({_sql_words()}) AS token FROM documents
), counts AS (
  SELECT token, COUNT(*) AS n_occurrences FROM toks WHERE token <> '' GROUP BY token
), ranked AS (
  SELECT token, n_occurrences,
         ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token ASC) AS token_id
  FROM counts
)
SELECT token, n_occurrences, token_id FROM ranked WHERE token_id <= {VOCAB_SIZE}
"""


TFIDF_DOC_TOPK = 3


def t_tfidf_doc_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-``TFIDF_DOC_TOPK`` terms
    by tf·idf — the per-doc mirror of ``t_idf_top_terms``' corpus
    statistic, and the feature a retrieval/tagging pipeline stores
    per document.

    Plan: one exploded (doc, term, tf) aggregate; df from a second
    aggregate over its DISTINCT (doc, term) projection (no re-scan of
    documents); the vocab-sized df table broadcasts back, and the
    per-doc top-k window rides the doc_id shuffle the tf aggregate
    already produced. The tf·idf score rounds at 6 dp BEFORE ranking,
    with (score desc, term asc) tie-breaks, so ranks are
    engine-exact."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    toks = docs.select(
        "doc_id", F.explode(words_col()).alias("term")
    ).where(F.col("term") != "").transform(materialize)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        tf.select("doc_id", "term").groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    score = F.round(
        F.col("tf").cast("double")
        * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
        6,
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "term", "tf", "df", score.alias("tfidf"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TFIDF_DOC_TOPK)
    )


T_TFIDF_DOC_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_sql_words()}) AS term FROM documents
), toks_ne AS (
  SELECT doc_id, term FROM toks WHERE term <> ''
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks_ne GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT doc_id, term, tf, df,
         round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6)
           AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf,
       CAST(rn AS INTEGER) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term ASC) AS rn
  FROM scored
)
WHERE rn <= {TFIDF_DOC_TOPK}
"""


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters (bounded-memory top-N)
#
# t_vocab's exact top-N shuffles every distinct (token, count) pair —
# fine while vocab fits a shuffle, but the 100 TB raw-token stream
# (pre-normalization web text: typo-space ~ billions of distinct
# tokens) wants a bounded-memory first pass. Misra-Gries gives it with
# a proof: an MG(C) summary per partition keeps ≤ C counters no matter
# how many tokens stream through, and a token can be absent from EVERY
# partition's summary only if its global count ≤ total/C — so the
# union of summaries contains every token with frequency > n/C.

HH_TOPN = 20
HH_CAPACITY = 64  # per-partition MG counters


def mg_candidates(toks: DataFrame, capacity: int = HH_CAPACITY) -> DataFrame:
    """Per-partition Misra-Gries(``capacity``) summaries of a token
    stream, unioned and deduped: ≤ ``capacity`` candidates per input
    partition regardless of stream size (the bound tests assert), and
    every token with global frequency > n/capacity survives."""
    import pandas as pd

    def mg(parts) -> "pd.DataFrame":
        counters: dict[str, int] = {}
        for pdf in parts:
            for tok in pdf["token"].values:
                if tok in counters:
                    counters[tok] += 1
                elif len(counters) < capacity:
                    counters[tok] = 1
                else:  # decrement-all step; drop exhausted counters
                    dead = []
                    for k in counters:
                        counters[k] -= 1
                        if counters[k] == 0:
                            dead.append(k)
                    for k in dead:
                        del counters[k]
        yield pd.DataFrame({"token": sorted(counters)})

    return toks.mapInPandas(mg, schema="token string").distinct()


def t_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-``HH_TOPN`` tokens via the two-pass sketch→verify
    pattern:

    1. per-partition Misra-Gries(``HH_CAPACITY``) over the token
       stream (``mapInPandas`` — genuinely imperative per-partition
       state, the documented exception to the no-Python rule); only
       ≤ C candidate tokens per partition emerge;
    2. exact recount restricted to the candidate set (broadcast
       semi-join on the exploded stream) → deterministic top-N
       (count desc, token asc).

    The result is provably the true top-N whenever the Nth frequency
    exceeds total/(C+1) (pigeonhole over per-partition MG guarantees).
    That operating condition is ASSERTED at runtime, not assumed: a
    corpus/partitioning where the Nth recounted frequency falls at or
    below total/(C+1) raises instead of returning a possibly-partial
    top-N whose content would depend on physical partitioning. Because
    the output is exact under the (checked) condition, a plain SQL
    top-N is the oracle — the approximate ALGORITHM is verified, not
    an approximate answer. The check costs one extra count pass over
    the token stream plus two jobs on the checkpointed 20-row result.

    Tokenization and the top-N tail are the SAME code as ``t_vocab``
    (``token_stream`` / ``ranked_head``), so the two operators cannot
    drift; only the candidate restriction differs."""
    # three consumers (MG pass, exact recount, total count) — without
    # materialization the full corpus scan+tokenize runs three times
    toks = token_stream(table(spark, sf_dir, "documents")).transform(materialize)
    exact = (
        toks.join(F.broadcast(mg_candidates(toks)), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    exact = exact.transform(materialize, eager=True)  # feeds result + both guards
    result = ranked_head(exact, HH_TOPN, "rank").transform(materialize, eager=True)
    total = toks.count()
    if total:
        # Exactness holds under EITHER condition:
        # (a) full coverage — candidate occurrences sum to the stream
        #     total, i.e. every token survived MG (vocabulary ≤ C per
        #     partition), exact for any distribution;
        # (b) pigeonhole — rank-N frequency > total/(C+1), the MG
        #     survival guarantee. This arm additionally requires the
        #     result to actually CONTAIN N rows: with m < N surviving
        #     candidates, min(n_occurrences) is the rank-m frequency,
        #     and a passing threshold on it says nothing about the
        #     missing true ranks m+1..N.
        covered = exact.agg(F.sum("n_occurrences")).first()[0] or 0
        nth = result.agg(F.min("n_occurrences")).first()[0]
        full_topn = result.count() == HH_TOPN
        if covered != total and (
            nth is None or not full_topn or nth * (HH_CAPACITY + 1) <= total
        ):
            raise RuntimeError(
                f"t_heavy_hitters exactness condition violated: rank-"
                f"{HH_TOPN} frequency {nth} ≤ total/(C+1) = "
                f"{total}/{HH_CAPACITY + 1} and candidates cover only "
                f"{covered}/{total} occurrences — the Misra-Gries "
                "survival guarantee no longer covers the requested "
                "top-N; raise HH_CAPACITY (or lower HH_TOPN) for this "
                "corpus"
            )
    return result


T_HEAVY_HITTERS_SQL = f"""
WITH toks AS (
  SELECT unnest({_sql_words()}) AS token FROM documents
), counts AS (
  SELECT token, COUNT(*) AS n_occurrences FROM toks WHERE token <> '' GROUP BY token
), ranked AS (
  SELECT token, n_occurrences,
         ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token ASC) AS rank
  FROM counts
)
SELECT token, n_occurrences, rank FROM ranked WHERE rank <= {HH_TOPN}
"""


# ---------------------------------------------------------------------------
# unigram LM log-probability (the perplexity-filter shape)


def t_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram log-probability — the corpus-LM
    fluency score CCNet-style pipelines threshold on (their 5-gram
    KenLM perplexity, reduced to the unigram case so the statistic is
    exactly recomputable by the oracle).

    Plan: one exploded token aggregate builds the unigram frequency
    table (map-side partial combine — only distinct (token, count)
    pairs shuffle); the corpus total re-sums the tiny frequency table;
    scoring joins the exploded stream to the BROADCAST frequency table
    and re-aggregates per document. At 100 TB the frequency table is
    the only broadcast (vocab-sized, ~1 M rows), and the per-doc
    aggregate rides the doc_id partitioning.

    Float determinism: per-token log-probs are rounded to 9 dp and
    summed as exact decimals, so the per-doc mean is independent of
    token order; ln() agrees across engines at that rounding
    (precedent: t_idf_top_terms).
    """
    docs = table(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.explode(words_col()).alias("token"))
        .where(F.col("token") != "")
        # two consumers (frequency aggregate + scoring join) —
        # materialize the exploded stream once instead of re-scanning
        # and re-exploding documents
        .transform(materialize)
    )
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("n_total"))
    logp = F.round(
        F.log(F.col("cnt").cast("double") / F.col("n_total").cast("double")), 9
    ).cast("decimal(18,9)")
    return (
        toks.join(F.broadcast(freq), "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(
                F.sum(logp).cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("avg_logprob"),
        )
    )


T_UNIGRAM_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_sql_words()}) AS token FROM documents
), toks_ne AS (
  SELECT doc_id, token FROM toks WHERE token <> ''
), freq AS (
  SELECT token, COUNT(*) AS cnt FROM toks_ne GROUP BY token
), total AS (
  SELECT SUM(cnt) AS n_total FROM freq
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       round(CAST(SUM(CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(n_total AS DOUBLE)), 9)
                           AS DECIMAL(18,9))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS avg_logprob
FROM toks_ne JOIN freq USING (token) CROSS JOIN total
GROUP BY doc_id
"""


def t_fluency_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: rank every document by its
    unigram-LM fluency score and split the corpus into head / middle /
    tail terciles — the bucket label CCNet trains per-bucket filters
    on (Wenzek et al.; their KenLM perplexity reduces to
    ``t_unigram_logprob``'s statistic here, so the bucket edges are
    exactly recomputable).

    Plan — the scalable exact-global-rank pattern, NOT a bare
    ``Window.orderBy`` (a global window with no partitionBy funnels
    every row through ONE reducer — the single-partition trap):

    1. ``repartitionByRange`` on (score desc, doc_id asc) — Spark
       samples range boundaries, so the sort spreads over all
       partitions;
    2. per-partition row counts → cumulative offsets (one tiny driver
       collect, #partitions rows — O(cluster), not O(data));
    3. global rank = offset[partition] + intra-partition row_number
       (window PARTITIONED by spark_partition_id — parallel);
    4. NTILE arithmetic on the rank with driver-computed boundaries
       (bucket sizes differ by ≤1, larger buckets first — ANSI NTILE,
       so the plain-NTILE oracle pins it exactly).
    """
    from pyspark.sql import Window

    scored = t_unigram_logprob(spark, sf_dir)
    order = [F.col("avg_logprob").desc(), F.col("doc_id").asc()]
    n_part = max(2, scored.sparkSession.sparkContext.defaultParallelism // 4)
    # the eager materialize pins partition ids: the counts pass and the
    # ranking pass must see the SAME physical partitioning
    # __pid must be MATERIALIZED as a column on the range-partitioned
    # data before any further exchange: spark_partition_id() is
    # physical-evaluation-time, so referencing it after the window's
    # own shuffle would read the post-shuffle id, not the range id
    ordered = (
        scored.repartitionByRange(n_part, *order)
        .sortWithinPartitions(*order)
        .withColumn("__pid", F.spark_partition_id())
        .transform(materialize, eager=True)
    )
    sizes = dict(
        ordered.groupBy("__pid").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    offsets, acc = {}, 0
    for p in sorted(sizes):
        offsets[p] = acc
        acc += sizes[p]
    n = acc
    q, r = divmod(n, 3)
    # ANSI NTILE boundaries: bucket i (1-based) ends at i*q + min(i, r)
    b1, b2 = q + min(1, r), 2 * q + min(2, r)
    off_expr = F.element_at(
        F.create_map(
            *[F.lit(v) for p in sorted(offsets) for v in (p, offsets[p])]
        ),
        F.col("__pid"),
    )
    w = Window.partitionBy("__pid").orderBy(*order)
    rank = off_expr + F.row_number().over(w)
    bucket = (
        F.when(rank <= F.lit(b1), "head")
        .when(rank <= F.lit(b2), "middle")
        .otherwise("tail")
    )
    return ordered.select("doc_id", "avg_logprob", bucket.alias("bucket"))


T_FLUENCY_BUCKETS_SQL = f"""
WITH scored AS ({T_UNIGRAM_SQL.strip()})
SELECT doc_id,
       avg_logprob,
       (['head', 'middle', 'tail'])[
         NTILE(3) OVER (ORDER BY avg_logprob DESC, doc_id ASC)
       ] AS bucket
FROM scored
"""


def t_doc_len_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two document-length histogram — the first diagnostic
    every corpus intake runs (truncation cliffs and boilerplate spikes
    show up as bucket anomalies). Bucket = floor(log2(n_chars + 0.5)):
    the +0.5 keeps the argument strictly between powers of two, so the
    floor cannot flip on an engine's last-ulp log difference — integer
    inputs map to the same bucket everywhere. Single map-side-combined
    aggregate; output one row per occupied bucket."""
    docs = table(spark, sf_dir, "documents")
    bucket = F.floor(F.log2(F.col("n_chars") + F.lit(0.5))).cast("long")
    return (
        docs.groupBy(bucket.alias("len_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.round(F.avg(F.col("n_chars").cast("decimal(18,2)")).cast("double"), 6)
            .alias("avg_chars"),
        )
    )


T_DOC_LEN_HIST_SQL = """
SELECT CAST(floor(log2(n_chars + 0.5)) AS BIGINT) AS len_bucket,
       COUNT(*) AS n_docs,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars,
       round(CAST(AVG(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE), 6) AS avg_chars
FROM documents
GROUP BY 1
"""


def t_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram conditional log-probability with
    add-one smoothing — one LM order up from ``t_unigram_logprob``,
    the tier where a perplexity filter starts seeing word ORDER
    (scrambled text scores like fluent text under a unigram LM;
    a bigram LM penalizes it).

    P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V); score = mean log P over
    the doc's consecutive token pairs (docs with < 2 tokens emit no
    row — no bigram events exist for them, both engines agree).

    Plan: the pair stream is a zero-shuffle projection (adjacent
    element_at over the token array — no self-join); the bigram and
    unigram frequency tables aggregate with map-side combine and
    BROADCAST back onto the stream (at 100 TB the bigram table is the
    larger broadcast — cap it with a min-count floor, or pivot this
    join to a shuffle join, before vocab² outgrows executor memory);
    the per-doc aggregate rides doc_id partitioning. Determinism: the
    unigram op's idiom — per-pair log-probs round to 9 dp, sum as
    exact decimals (order-independent), one double division at the
    end."""
    return bigram_logprob(table(spark, sf_dir, "documents"))


def bigram_logprob(docs: DataFrame) -> DataFrame:
    # per-row pair/token projections dominate — spread a small
    # single-split scan over the cores (no-op at cluster scale;
    # A/B sf0.1: 8.2 -> 2.4 s). Decimal per-doc sums stay
    # order-independent, so values are partition-invariant.
    docs = spread(docs)
    warr = F.filter(words_col(), lambda x: x != F.lit(""))
    pair_t = "array<struct<w1:string,w2:string>>"
    pairs_col = F.when(
        F.size(warr) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(warr) - 1),
            lambda i: F.struct(
                F.element_at(warr, i).alias("w1"),
                F.element_at(warr, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast(pair_t))
    pairs = (
        docs.select("doc_id", F.explode(pairs_col).alias("p"))
        .select("doc_id", "p.w1", "p.w2")
        .transform(materialize)  # feeds the count table AND scoring
    )
    c12 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    # two consumers (unigram counts + distinct-vocab size) — tokenize
    # once, like the unigram op's stream
    toks = token_stream(docs).transform(materialize)
    c1 = toks.groupBy(F.col("token").alias("w1")).agg(F.count(F.lit(1)).alias("c1"))
    vocab_n = toks.select("token").distinct().agg(F.count(F.lit(1)).alias("v"))
    logp = F.round(
        F.log(
            (F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("v")).cast("double")
        ),
        9,
    ).cast("decimal(18,9)")
    return (
        pairs.join(F.broadcast(c12), ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(vocab_n))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(
                F.sum(logp).cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("avg_logprob"),
        )
    )


T_BIGRAM_SQL = f"""
WITH w AS (
  SELECT doc_id, list_filter({_sql_words()}, x -> x <> '') AS w FROM documents
), pairs AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
        FROM w WHERE len(w) >= 2)
), c12 AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY w1, w2
), toks AS (
  SELECT unnest(w) AS w1 FROM w
), c1 AS (
  SELECT w1, COUNT(*) AS c1 FROM toks GROUP BY w1
), vocab AS (
  SELECT COUNT(DISTINCT w1) AS v FROM toks
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       round(CAST(SUM(CAST(round(ln(CAST(c12 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE)), 9)
                           AS DECIMAL(18,9))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS avg_logprob
FROM pairs JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vocab
GROUP BY doc_id
"""


def t_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy (bits/char) — the
    gibberish / keyboard-mash / low-diversity curation signal (natural
    prose sits ~3.5-4.5 bits; repeated-character spam collapses toward
    0; uniform random base64 pushes ~6).

    Plan: pure per-row higher-order functions — chars, their distinct
    set, and per-char counts never leave the row, so the op runs at
    scan speed with ZERO shuffles (an explode→groupBy formulation
    would shuffle every character of a 100 TB corpus). The char array,
    its size, and each per-char count bind through ``let`` so they
    evaluate once (HOF lambdas are interpreted per element — an
    inlined split would recompute O(distinct_chars) times per row).
    Float rule: each −p·log2(p) term rounds to 9 dp and accumulates as
    exact DECIMAL over the SORTED distinct-char order, and the final
    6-dp round ALSO happens in exact decimal before the double cast —
    a 9-dp sum landing exactly on a 6-dp half-way boundary rounds
    engine-dependently in binary double (found at sf0.1, doc 1120)
    but identically (HALF_UP) in decimal. NULL text counts as empty
    (entropy 0), matching the oracle's LEFT-JOIN shape."""
    from securities_data_pipeline_spark.functions.expr import let

    docs = table(spark, sf_dir, "documents")
    text = F.coalesce(F.col("text"), F.lit(""))
    chars = F.filter(F.split(text, ""), lambda x: x != F.lit(""))
    dec = "decimal(18,9)"

    def term(cnt: "F.Column", n: "F.Column") -> "F.Column":
        p = cnt / n
        return F.round(p * F.log2(p), 9).cast(dec)

    ent = let(
        chars,
        lambda cs: let(
            F.size(cs).cast("double"),
            lambda n: F.round(
                F.lit(0).cast(dec)
                - F.aggregate(
                    F.transform(
                        F.array_sort(F.array_distinct(cs)),
                        lambda c: let(
                            F.size(F.filter(cs, lambda x: x == c)).cast("double"),
                            lambda cnt: term(cnt, n),
                        ),
                    ),
                    F.lit(0).cast(dec),
                    lambda a, t: (a + t).cast(dec),
                ),
                6,
            ).cast("double"),
        ),
    )
    return docs.select(
        "doc_id",
        F.length(text).cast("long").alias("n_chars_text"),
        ent.alias("entropy"),
    )


T_CHAR_ENTROPY_SQL = """
WITH ch AS (
  SELECT doc_id, substring(COALESCE(text, ''), CAST(i AS INT), 1) AS c
  FROM documents, unnest(range(1, len(COALESCE(text, '')) + 1)) AS t(i)
), counts AS (
  SELECT doc_id, c, COUNT(*) AS cnt FROM ch GROUP BY 1, 2
), tot AS (
  SELECT doc_id, SUM(cnt) AS n FROM counts GROUP BY 1
)
SELECT d.doc_id,
       CAST(len(COALESCE(d.text, '')) AS BIGINT) AS n_chars_text,
       COALESCE(CAST(round(
         CAST(0 AS DECIMAL(18,9)) - SUM(CAST(round(
           (CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))
           * log2(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS DECIMAL(18,9))),
         6) AS DOUBLE), 0.0) AS entropy
FROM documents d
LEFT JOIN counts USING (doc_id)
LEFT JOIN tot USING (doc_id)
GROUP BY d.doc_id, d.text
"""


# ---------------------------------------------------------------------------
# count-min sketch contract

CMS_DEPTH = 4  # hash rows — error probability decays as (1/2)^depth
CMS_WIDTH = 64  # counters per row — overestimate ~ total/width; sized
#  so collisions actually occur on this corpus (width 256 swallowed the
#  whole vocabulary and made every estimate trivially exact)
CMS_SEED = 301  # hash-family seed base (one seeded md5 per row)


def t_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch contract (the a6/a9 sketch-verification
    pattern applied to frequency estimation): build the D×W CMS cell
    table over the token stream, estimate the exact top-N tokens'
    counts from it, and emit the one-sided guarantee —
    ``cms_n >= exact_n`` for every probe (CMS never underestimates;
    the overestimate is bounded by colliding mass ~ total/width per
    row, minimized over D rows).

    Spark shape of a CMS: each token contributes D (row, position)
    increments via seeded stable hashes; ONE groupBy over ≤ D·W cells
    is the whole sketch — fixed-size state however large the corpus,
    the same bounded-memory contract as the HLL and KLL tiers. The
    probe side broadcasts N·D (row, position) lookups against the
    cell table and takes the per-token min. The oracle recomputes
    cells, probes, and both counts exactly (the md5 hash family is
    engine-portable), so the driver verifies the ALGORITHM, not a
    tolerance."""
    # two consumers: cells + exact counts; spread: D hashes/token are per-row CPU
    toks = token_stream(spread(table(spark, sf_dir, "documents"))).transform(materialize)
    positions = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                F.pmod(
                    seeded_hash64(F.col("token"), CMS_SEED + d), F.lit(CMS_WIDTH)
                )
                .cast("int")
                .alias("pos"),
            )
            for d in range(CMS_DEPTH)
        ]
    )
    cells = (
        toks.select(F.explode(positions).alias("c"))
        .groupBy(F.col("c.d").alias("d"), F.col("c.pos").alias("pos"))
        .agg(F.count(F.lit(1)).alias("cell_n"))
    )
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_occurrences"))
    probes = (
        ranked_head(exact, HH_TOPN, "rank")
        .select(
            "rank",
            "token",
            F.col("n_occurrences").alias("exact_n"),
            F.explode(positions).alias("c"),
        )
        .select(
            "rank", "token", "exact_n",
            F.col("c.d").alias("d"), F.col("c.pos").alias("pos"),
        )
    )
    return (
        F.broadcast(probes)
        .join(cells, ["d", "pos"])
        .groupBy("rank", "token", "exact_n")
        .agg(F.min("cell_n").alias("cms_n"))
        .select(
            "rank", "token", "exact_n", "cms_n",
            (F.col("cms_n") >= F.col("exact_n")).alias("overestimate_ok"),
        )
    )


def _sql_cms_heavy_hitters() -> str:
    pos = lambda d: f"{sql_seeded_hash64('token', CMS_SEED + d)} % {CMS_WIDTH}"
    pos_rows = " UNION ALL ".join(
        f"SELECT token, {d} AS d, {pos(d)} AS pos FROM toks2" for d in range(CMS_DEPTH)
    )
    return f"""
WITH toks AS MATERIALIZED (
  SELECT unnest({_sql_words()}) AS token FROM documents
), toks2 AS MATERIALIZED (
  SELECT token FROM toks WHERE token <> ''
), tokpos AS MATERIALIZED (
  {pos_rows}
), cells AS MATERIALIZED (
  SELECT d, pos, COUNT(*) AS cell_n FROM tokpos GROUP BY d, pos
), exact AS (
  SELECT token, COUNT(*) AS n_occurrences FROM toks2 GROUP BY token
), top AS (
  SELECT token, n_occurrences AS exact_n,
         ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token ASC) AS rank
  FROM exact QUALIFY rank <= {HH_TOPN}
), probe AS (
  SELECT t.rank, t.token, t.exact_n, p.d, p.pos
  FROM top t JOIN (SELECT DISTINCT token, d, pos FROM tokpos) p USING (token)
)
SELECT rank, token, exact_n, CAST(MIN(cell_n) AS BIGINT) AS cms_n,
       MIN(cell_n) >= exact_n AS overestimate_ok
FROM probe JOIN cells USING (d, pos)
GROUP BY rank, token, exact_n
"""


# ---------------------------------------------------------------------------
# hashed n-gram linear classifier (fastText-style quality filter)

FT_BUCKETS = 1024  # feature-hashing dimension (Weinberger et al. 2009)
FT_SEED = 4801  # gram -> bucket hash seed
FT_W_SEED = 4802  # bucket -> weight hash seed


def _unigram_bigram_grams(w: Column) -> Column:
    """Unigrams + '_'-joined bigrams — the fastText feature set with
    n=2. Guarded sequence: Spark's ``sequence(1, 0)`` DESCENDS
    ([1, 0]) instead of yielding empty, so single-token docs must
    short-circuit to no bigrams."""
    bigrams = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.concat_ws("_", F.element_at(w, i), F.element_at(w, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(w, bigrams)


def hashed_linear_score(text: Column | str = "text") -> tuple[Column, Column]:
    """(n_grams, score) of a hashed-n-gram linear text classifier in
    the fastText style (Joulin et al. 2016): features are uni+bigrams
    hashed into FT_BUCKETS buckets (the hashing trick — no vocabulary
    to broadcast), the score is the mean bucket weight. Real
    deployments load trained weights as a broadcast FT_BUCKETS-row
    table; here the weights are derived deterministically from the
    bucket id (millis in [-1000, 1000]) so the whole pipeline —
    feature hashing, bucket lookup, mean, thresholding — is
    oracle-checkable without a model artifact.

    Everything stays in int64 until one exact half-up 6-dp division
    (round6_ratio, sign-extended): zero floats mid-plan, zero shuffles,
    zero Python — a 100 TB quality filter at scan speed."""
    grams = _unigram_bigram_grams(words_col(text))
    wm = F.transform(
        grams,
        lambda g: F.pmod(
            seeded_hash64(
                F.pmod(seeded_hash64(g, FT_SEED), F.lit(FT_BUCKETS)).cast("string"),
                FT_W_SEED,
            ),
            F.lit(2001),
        )
        - F.lit(1000),
    )
    s = F.aggregate(wm, F.lit(0).cast("long"), lambda acc, x: acc + x)
    n = F.size(grams).cast("long")
    den = F.lit(1000) * n
    score = F.when(s >= 0, round6_ratio(s, den)).otherwise(-round6_ratio(-s, den))
    return n, score


def t_quality_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the hashed-gram score is ~2 md5s per token, all per-row — the
    # single biggest spread win on the board (A/B sf0.1: 14.0 -> 1.3 s)
    docs = spread(table(spark, sf_dir, "documents"))
    n, score = hashed_linear_score()
    return docs.select(
        "doc_id",
        n.alias("n_grams"),
        score.alias("score"),
        (score > 0).alias("keep"),
    )


def _sql_quality_linear() -> str:
    bucket = f"({sql_seeded_hash64('g', FT_SEED)}) % {FT_BUCKETS}"
    wm = f"({sql_seeded_hash64(f'CAST({bucket} AS VARCHAR)', FT_W_SEED)}) % 2001 - 1000"
    return f"""
WITH g AS (
  SELECT doc_id,
         list_concat(
           w,
           list_transform(range(1, len(w)), i -> w[i] || '_' || w[i + 1])
         ) AS grams
  FROM (SELECT doc_id, {_sql_words()} AS w FROM documents)
), s AS (
  SELECT doc_id,
         CAST(len(grams) AS BIGINT) AS n_grams,
         CAST(list_aggregate(list_transform(grams, g -> {wm}), 'sum') AS BIGINT) AS sm
  FROM g
)
SELECT doc_id, n_grams,
       CASE WHEN sm >= 0 THEN {_sql_round6_ratio('sm', '1000 * n_grams')}
            ELSE -{_sql_round6_ratio('-sm', '1000 * n_grams')} END AS score,
       CASE WHEN sm >= 0 THEN {_sql_round6_ratio('sm', '1000 * n_grams')}
            ELSE -{_sql_round6_ratio('-sm', '1000 * n_grams')} END > 0 AS keep
FROM s
"""


# ---------------------------------------------------------------------------
# BM25 retrieval
#
# The sparse-retrieval scorer a decontamination / eval-leakage audit
# runs against the training corpus: given a query term set, rank
# documents by Okapi BM25. Reference parity: the reference has no
# retrieval surface at all — this is part of the LLM-pipeline
# extension mandate (text analysis / retrieval over `documents`).

BM25_QUERY_TERMS: tuple[str, ...] = ("query", "merge", "window", "hash")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 50


def t_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-``BM25_TOPK`` documents for a fixed query term
    set.

    Plan (scale notes): the exploded token stream filters to the
    query's terms BEFORE any aggregation, so only matching (doc, term)
    pairs ever shuffle — at 100 TB the tf aggregate is proportional to
    the posting lists of 4 terms, not the corpus. Document length and
    the corpus (n_docs, total_dl) roll up from one narrow projection
    of the same scan; both broadcast back (single-row / per-doc dim).
    Per-term contributions quantize HALF-UP to int64 micro-units
    before the per-doc sum — the sum is order-independent (exact
    integer), so ranking survives partition-order permutation (the
    invariance gate) and the 6-dp boundary class that engine-native
    ``round()`` reopens (ADVICE r5).
    """
    docs = table(spark, sf_dir, "documents")
    words_ne = F.filter(words_col(), lambda w: w != "")
    # (doc_id, dl) is 16 bytes/doc — checkpoint it so the stats
    # aggregate and the per-doc join share ONE tokenizing scan
    dl = docs.select("doc_id", F.size(words_ne).alias("dl")).transform(materialize)
    stats = dl.agg(
        F.count("dl").alias("n_docs"),
        F.sum("dl").alias("total_dl"),
    )
    toks = (
        docs.select("doc_id", F.explode(words_col()).alias("term"))
        .where(F.col("term").isin(*BM25_QUERY_TERMS))
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    avgdl = F.col("total_dl").cast("double") / F.col("n_docs").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tfc = F.col("tf").cast("double")
    denom = tfc + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl").cast("double") / avgdl
    )
    contrib = idf * tfc * F.lit(BM25_K1 + 1.0) / denom
    # tie-free half-up micro-unit quantization (contrib >= 0 always:
    # this idf form is ln(1 + x) with x > 0)
    contrib_u = F.floor(contrib * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")

    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", contrib_u.alias("contrib_u"))
        .groupBy("doc_id")
        .agg(
            F.sum("contrib_u").alias("score_u"),
            F.count(F.lit(1)).alias("n_terms_matched"),
        )
    )
    return (
        scored.orderBy(F.col("score_u").desc(), F.col("doc_id").asc())
        .limit(BM25_TOPK)
        .select(
            "doc_id",
            "n_terms_matched",
            (F.col("score_u").cast("double") / F.lit(1_000_000.0)).alias("bm25"),
        )
    )


def _sql_bm25() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    return f"""
WITH dl AS (
  SELECT doc_id, len(list_filter({_sql_words()}, w -> w <> '')) AS dl
  FROM documents
), stats AS (
  SELECT COUNT(dl) AS n_docs, SUM(dl) AS total_dl FROM dl
), toks AS (
  SELECT doc_id, unnest({_sql_words()}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks
  WHERE term IN ({terms}) GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), contrib AS (
  SELECT doc_id,
         CAST(floor(
           ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                    / (CAST(df AS DOUBLE) + 0.5))
           * CAST(tf AS DOUBLE) * {BM25_K1 + 1.0}
           / (CAST(tf AS DOUBLE)
              + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * CAST(dl AS DOUBLE)
                             / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
           * 1000000.0 + 0.5) AS BIGINT) AS contrib_u
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
), scored AS (
  SELECT doc_id, SUM(contrib_u) AS score_u, COUNT(*) AS n_terms_matched
  FROM contrib GROUP BY doc_id
)
SELECT doc_id, n_terms_matched,
       CAST(score_u AS DOUBLE) / 1000000.0 AS bm25
FROM scored
ORDER BY score_u DESC, doc_id ASC
LIMIT {BM25_TOPK}
"""


TEXT_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "t_token_stats": t_token_stats,
    "t_vocab": t_vocab,
    "t_quality": t_quality,
    "t_lang_id": t_lang_id,
    "t_fingerprint": t_fingerprint,
    "t_token_bpe": t_token_bpe,
    "t_winnow_fingerprint": t_winnow_fingerprint,
    "t_char_entropy": t_char_entropy,
    "t_idf_top_terms": t_idf_top_terms,
    "t_unigram_logprob": t_unigram_logprob,
    "t_heavy_hitters": t_heavy_hitters,
    "t_bigram_logprob": t_bigram_logprob,
    "t_fluency_buckets": t_fluency_buckets,
    "t_doc_len_hist": t_doc_len_hist,
    "t_tfidf_doc_terms": t_tfidf_doc_terms,
    "t_cms_heavy_hitters": t_cms_heavy_hitters,
    "t_quality_linear": t_quality_linear,
    "t_bm25_topk": t_bm25_topk,
}

TEXT_ORACLES: dict[str, str] = {
    "t_token_stats": T_TOKEN_STATS_SQL,
    "t_vocab": T_VOCAB_SQL,
    "t_quality": _sql_quality(),
    "t_lang_id": _sql_lang_id(),
    "t_fingerprint": T_FINGERPRINT_SQL,
    "t_token_bpe": T_TOKEN_BPE_SQL,
    "t_winnow_fingerprint": _sql_winnow(),
    "t_char_entropy": T_CHAR_ENTROPY_SQL,
    "t_idf_top_terms": T_IDF_SQL,
    "t_unigram_logprob": T_UNIGRAM_SQL,
    "t_heavy_hitters": T_HEAVY_HITTERS_SQL,
    "t_bigram_logprob": T_BIGRAM_SQL,
    "t_fluency_buckets": T_FLUENCY_BUCKETS_SQL,
    "t_doc_len_hist": T_DOC_LEN_HIST_SQL,
    "t_tfidf_doc_terms": T_TFIDF_DOC_SQL,
    "t_cms_heavy_hitters": _sql_cms_heavy_hitters(),
    "t_quality_linear": _sql_quality_linear(),
    "t_bm25_topk": _sql_bm25(),
}


# ---------------------------------------------------------------------------
# BPE merge training (iterative, fully distributed)

N_BPE_MERGES = 6


def t_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge TRAINING (Sennrich et al. 2016): learn the
    first ``N_BPE_MERGES`` merge rules from the corpus — the step
    ``t_token_bpe`` (which APPLIES a fixed merge-ish regex) and
    ``t_vocab`` (which seeds the trainer) lead up to. Training runs on
    the DISTINCT-WORD table with frequencies (the standard trick: state
    is vocabulary-sized, never corpus-sized), each word spelled as
    space-joined characters plus the ``_`` end-of-word symbol. Per
    round: weighted adjacent-symbol-pair counts → the argmax pair
    (count desc, pair asc — deterministic) → merge applied to every
    word. Output: the merge table (rank, pair, merged symbol, count) —
    the artifact a tokenizer ships.

    Distributed counting, bounded driver state: each round's winner is
    ONE row (the merge rule a tokenizer ships — the same bounded class
    as the centroid/codebook collects), pulled to the driver and
    applied to every word as one literal string replace inside
    whole-stage codegen; the vocabulary-sized word state itself never
    leaves the executors.

    Semantics pinned on BOTH engines: merge application is ONE
    non-overlapping left-to-right replace of `` s1 s2 `` per round
    (boundary spaces; the trailing space consumed by a match prevents
    the next overlapping match). For runs of 4+ identical symbols this
    merges the first site per scan rather than every alternate site —
    a conservative single-pass application (later rounds catch the
    remaining sites); both engines apply the identical rule, and pair
    COUNTING is position-exact. Words are restricted to ``^[a-z]+$``
    (byte-level alphabets are a container away; the a-z filter keeps
    the alphabet disjoint from the separator and end symbols on both
    engines).

    No reference counterpart (extension operator; the tokenizer-
    training tier of the text family).
    """
    winners, _w = _bpe_train_loop(spark, sf_dir)
    return winners.orderBy("merge_rank")


def _bpe_train_loop(
    spark: SparkSession, sf_dir: str, n_merges: int = N_BPE_MERGES
) -> tuple[DataFrame, DataFrame]:
    """The distributed merge-training loop shared by ``t_bpe_train``
    (which ships the merge table) and ``t_bpe_apply`` (which certifies
    the ENCODED corpus under it): returns ``(winners, final_words)``
    where ``final_words`` is the (repr, freq) word state AFTER all
    merges — i.e. the corpus encoded under the trained table, since
    applying the merge table in rank order to the initial char-spelled
    state is exactly what each training round already did.

    Optimization round 11 (guide §1.2 step 1, the ed0a32f Lloyd-trainer
    precedent): the per-round winner is ONE row of bounded driver state
    (the merge rule a tokenizer ships), so it collects to the driver
    and re-enters the next round's word state as string LITERALS
    instead of a crossJoin(broadcast(limit-1)) arm. That removes, per
    round, one broadcast build and one localCheckpoint materialization
    plus the chained re-analysis of a growing plan — the profiled cost
    was ~3 s of driver-side build per invocation on top of the
    checkpoint jobs; the word state is now w0 (one lazy checkpoint of
    the vocabulary aggregate) under a chain of narrow literal replaces
    that Catalyst plans once. Per-round argmax ordering, the replace
    semantics, and the empty-winner degenerate case (no pairs anywhere
    → the cartesian with an empty 1-row relation EMPTIES the word
    state, exactly as the oracle's ``w{r} = w{r-1} × win{r}``) are
    pinned identical."""
    docs = table(spark, sf_dir, "documents")
    words = (
        token_stream(docs)
        .where(F.col("token").rlike("^[a-z]+$"))
        .groupBy(F.col("token").alias("word"))
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    w = words.select(
        F.concat(
            F.regexp_replace(F.col("word"), "(.)", "$1 "), F.lit("_")
        ).alias("repr"),
        "freq",
    ).transform(materialize)

    # split once per row into _syms, then pair adjacent symbols — the
    # SQL-string lambda keeps codegen-cache-stable names (see dedup's
    # _shingles_from_sql) and avoids re-splitting repr per field
    pair_structs = F.expr(
        "transform(slice(_syms, 1, size(_syms) - 1),"
        " (s, i) -> struct(s AS s1, element_at(_syms, i + 2) AS s2))"
    )
    winner_rows: list[tuple] = []
    for rank in range(1, n_merges + 1):
        top = (
            w.select(F.expr("split(repr, ' ')").alias("_syms"), "freq")
            .select(F.explode(pair_structs).alias("p"), "freq")
            .select(F.col("p.s1").alias("s1"), F.col("p.s2").alias("s2"), "freq")
            .groupBy("s1", "s2")
            .agg(F.sum("freq").cast("long").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("s1").asc(), F.col("s2").asc())
            .limit(1)
            .collect()
        )
        if not top:
            # no adjacent pairs anywhere (empty vocab, or every word
            # fully merged): the old 1-row winner relation was EMPTY
            # and its cartesian EMPTIED the word state — same here
            w = w.where(F.lit(False))
            continue
        s1, s2, cnt = top[0]["s1"], top[0]["s2"], top[0]["cnt"]
        winner_rows.append((rank, s1, s2, s1 + s2, cnt))
        w = w.select(
            F.trim(
                F.replace(
                    F.concat(F.lit(" "), F.col("repr"), F.lit(" ")),
                    F.lit(f" {s1} {s2} "),
                    F.lit(f" {s1}{s2} "),
                )
            ).alias("repr"),
            "freq",
        )
    winners = local_rows(
        spark,
        winner_rows,
        "merge_rank INT, left_sym STRING, right_sym STRING,"
        " merged STRING, pair_count BIGINT",
    )
    return winners, w


def _sql_bpe_ctes(n_merges: int = N_BPE_MERGES) -> str:
    """The unrolled-CTE word-state chain (w0 … w{n}, win1 … win{n})
    shared by the train and apply oracles: per round, position-joined
    adjacent pairs, an argmax, and the boundary-space replace threaded
    into the next round's word state.

    Every chained CTE is MATERIALIZED: DuckDB 1.0 INLINES un-hinted
    CTEs, and each w{{r}}/win{{r}} here is referenced twice downstream
    (the pair-count of round r+1 AND the next word state / the final
    report), so inlining re-evaluates the chain EXPONENTIALLY in the
    round count — measured 5.8 s inlined vs 0.1 s materialized for the
    6-round train oracle at sf0.01, and the apply certificate (which
    fans the final state out to 11 metric rows) only finishes at all
    with the hint."""
    parts = [
        f"""WITH toks AS MATERIALIZED (
  SELECT unnest({_sql_words()}) AS token FROM documents
), wrd AS MATERIALIZED (
  SELECT token AS word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM toks WHERE regexp_matches(token, '^[a-z]+$') GROUP BY token
), w0 AS MATERIALIZED (
  SELECT regexp_replace(word, '(.)', '\\1 ', 'g') || '_' AS repr, freq FROM wrd
)"""
    ]
    for r in range(1, n_merges + 1):
        prev = f"w{r - 1}"
        parts.append(
            f""", s{r} AS MATERIALIZED (
  SELECT repr, freq,
         unnest(string_split(repr, ' ')) AS sym,
         generate_subscripts(string_split(repr, ' '), 1) AS pos
  FROM {prev}
), c{r} AS MATERIALIZED (
  SELECT a.sym AS s1, b.sym AS s2, CAST(SUM(a.freq) AS BIGINT) AS cnt
  FROM s{r} a JOIN s{r} b ON a.repr = b.repr AND b.pos = a.pos + 1
  GROUP BY a.sym, b.sym
), win{r} AS MATERIALIZED (
  SELECT s1, s2, cnt FROM c{r} ORDER BY cnt DESC, s1 ASC, s2 ASC LIMIT 1
), w{r} AS MATERIALIZED (
  SELECT trim(replace(' ' || w.repr || ' ',
                      ' ' || v.s1 || ' ' || v.s2 || ' ',
                      ' ' || v.s1 || v.s2 || ' ')) AS repr,
         w.freq
  FROM {prev} w, win{r} v
)"""
        )
    return "".join(parts)


def _sql_bpe_train(n_merges: int = N_BPE_MERGES) -> str:
    """Unrolled-CTE twin of the merge-training loop (the logreg-GD
    oracle pattern), reporting the merge table."""
    selects = " UNION ALL ".join(
        f"SELECT {r} AS merge_rank, s1 AS left_sym, s2 AS right_sym,"
        f" s1 || s2 AS merged, cnt AS pair_count FROM win{r}"
        for r in range(1, n_merges + 1)
    )
    return f"{_sql_bpe_ctes(n_merges)}\n{selects} ORDER BY merge_rank"


TEXT_QUERIES["t_bpe_train"] = t_bpe_train
TEXT_ORACLES["t_bpe_train"] = _sql_bpe_train()


def t_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE APPLY certificate — closes the text family's training loop
    the way ``sim_ivf_retrain_recall`` / ``sim_pq_retrain_recall``
    closed the ANN ones (VERDICT r10 next-round #2): encode the corpus
    under the TRAINED merge table from ``t_bpe_train`` and report the
    encoded token budget side by side with the fixed ``t_token_bpe``
    regex baseline — tokens per doc under both tokenizers, the
    compression ratio vs the un-merged character baseline, the corpus
    coverage of the top-ranked merge, and the share of corpus tokens
    that are merged (multi-char) symbols. This is the certificate a
    tokenizer swap ships with: train → encode → compare budgets →
    decide.

    Encoding reuses the training loop's final word state: applying the
    merge table in rank order to the char-spelled vocabulary is
    BY CONSTRUCTION what the training rounds already did (one
    non-overlapping left-to-right boundary-space replace per rank —
    the documented semantics both engines pin), so the encoded corpus
    is the loop's ``w_final`` and the apply pass adds zero new shuffle
    stages: token budgets are ONE hash aggregate over the
    vocabulary-sized (repr, freq) table (weighted by freq — never
    corpus-expanded), the regex baseline is one aggregate at scan
    speed over documents, and the top-merge row joins in as a 1-row
    broadcast (the allowlisted scalar-BNLJ class). All ratios are
    int/int double divisions (exact in both engines) rounded to 6 dp;
    empty-alphabet corpora degrade to NULL ratios identically on both
    sides (guarded denominators).

    Output is scalar (metric, value) rows — the enforced registry
    contract.

    No reference counterpart (extension operator; completes the
    tokenizer-training tier of the text family).
    """
    winners, w = _bpe_train_loop(spark, sf_dir)
    top1 = winners.where(F.col("merge_rank") == 1).select(
        F.col("merged").alias("top1")
    )
    syms = F.split(F.col("repr"), " ")
    in_repr = F.contains(
        F.concat(F.lit(" "), F.col("repr"), F.lit(" ")),
        F.concat(F.lit(" "), F.col("top1"), F.lit(" ")),
    )

    def _lsum(col):
        return F.coalesce(F.sum(col), F.lit(0)).cast("long")

    wmet = w.crossJoin(F.broadcast(top1)).agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        _lsum(F.col("freq")).alias("occ"),
        _lsum(
            F.col("freq")
            * F.length(F.replace(F.col("repr"), F.lit(" "), F.lit("")))
        ).alias("tok_char"),
        _lsum(F.col("freq") * F.size(syms)).alias("tok_tr"),
        _lsum(
            F.col("freq") * F.size(F.filter(syms, lambda s: F.length(s) > 1))
        ).alias("tok_merged"),
        _lsum(F.when(in_repr, F.col("freq")).otherwise(F.lit(0))).alias(
            "top1_occ"
        ),
    )
    docs = table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_PATTERN), 0)
    dmet = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        _lsum(
            F.when(F.col("text").isNotNull(), F.size(toks)).otherwise(F.lit(0))
        ).alias("tok_regex"),
    )

    def _ratio(num, den):
        return F.when(den > 0, F.round(num.cast("double") / den.cast("double"), 6))

    m = dmet.crossJoin(wmet).select(
        F.col("n_docs").cast("double").alias("v_n_docs"),
        F.col("tok_regex").cast("double").alias("v_tok_regex"),
        F.col("n_words").cast("double").alias("v_n_words"),
        F.col("occ").cast("double").alias("v_occ"),
        F.col("tok_char").cast("double").alias("v_tok_char"),
        F.col("tok_tr").cast("double").alias("v_tok_tr"),
        _ratio(F.col("tok_tr"), F.col("n_docs")).alias("v_tpd_tr"),
        _ratio(F.col("tok_regex"), F.col("n_docs")).alias("v_tpd_rx"),
        _ratio(F.col("tok_tr"), F.col("tok_char")).alias("v_comp"),
        _ratio(F.col("top1_occ"), F.col("occ")).alias("v_top1"),
        _ratio(F.col("tok_merged"), F.col("tok_tr")).alias("v_mshare"),
    )
    return m.select(
        F.expr(
            "stack(11, "
            "'bpe_compression_ratio', v_comp, "
            "'merged_token_share', v_mshare, "
            "'n_distinct_words', v_n_words, "
            "'n_docs', v_n_docs, "
            "'tokens_char_baseline', v_tok_char, "
            "'tokens_per_doc_regex', v_tpd_rx, "
            "'tokens_per_doc_trained', v_tpd_tr, "
            "'tokens_regex_baseline', v_tok_regex, "
            "'tokens_trained', v_tok_tr, "
            "'top1_merge_coverage', v_top1, "
            "'word_occurrences', v_occ) AS (metric, value)"
        )
    ).orderBy("metric")


def _sql_bpe_apply(n_merges: int = N_BPE_MERGES) -> str:
    """Oracle twin of the apply certificate: the SAME unrolled training
    CTEs as ``_sql_bpe_train`` (the encoded corpus is the final word
    state), then the token-budget aggregates and the metric unpivot."""
    wn = f"w{n_merges}"
    return f"""{_sql_bpe_ctes(n_merges)}
, wmet AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(COALESCE(SUM(freq), 0) AS BIGINT) AS occ,
         CAST(COALESCE(SUM(freq * length(replace(repr, ' ', ''))), 0) AS BIGINT) AS tok_char,
         CAST(COALESCE(SUM(freq * len(string_split(repr, ' '))), 0) AS BIGINT) AS tok_tr,
         CAST(COALESCE(SUM(freq * len(list_filter(string_split(repr, ' '), s -> length(s) > 1))), 0) AS BIGINT) AS tok_merged,
         CAST(COALESCE(SUM(CASE WHEN contains(' ' || repr || ' ',
                                 ' ' || (SELECT s1 || s2 FROM win1) || ' ')
                            THEN freq ELSE 0 END), 0) AS BIGINT) AS top1_occ
  FROM {wn}
), dmet AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COALESCE(SUM(COALESCE(len(regexp_extract_all(lower(text), '{BPE_PATTERN}')), 0)), 0) AS BIGINT) AS tok_regex
  FROM documents
), c AS MATERIALIZED (SELECT * FROM dmet, wmet)
SELECT metric, value FROM (
  SELECT 'bpe_compression_ratio' AS metric,
         CASE WHEN tok_char > 0 THEN round(CAST(tok_tr AS DOUBLE) / tok_char, 6) END AS value FROM c
  UNION ALL SELECT 'merged_token_share',
         CASE WHEN tok_tr > 0 THEN round(CAST(tok_merged AS DOUBLE) / tok_tr, 6) END FROM c
  UNION ALL SELECT 'n_distinct_words', CAST(n_words AS DOUBLE) FROM c
  UNION ALL SELECT 'n_docs', CAST(n_docs AS DOUBLE) FROM c
  UNION ALL SELECT 'tokens_char_baseline', CAST(tok_char AS DOUBLE) FROM c
  UNION ALL SELECT 'tokens_per_doc_regex',
         CASE WHEN n_docs > 0 THEN round(CAST(tok_regex AS DOUBLE) / n_docs, 6) END FROM c
  UNION ALL SELECT 'tokens_per_doc_trained',
         CASE WHEN n_docs > 0 THEN round(CAST(tok_tr AS DOUBLE) / n_docs, 6) END FROM c
  UNION ALL SELECT 'tokens_regex_baseline', CAST(tok_regex AS DOUBLE) FROM c
  UNION ALL SELECT 'tokens_trained', CAST(tok_tr AS DOUBLE) FROM c
  UNION ALL SELECT 'top1_merge_coverage',
         CASE WHEN occ > 0 THEN round(CAST(top1_occ AS DOUBLE) / occ, 6) END FROM c
  UNION ALL SELECT 'word_occurrences', CAST(occ AS DOUBLE) FROM c
) ORDER BY metric
"""


TEXT_QUERIES["t_bpe_apply"] = t_bpe_apply
TEXT_ORACLES["t_bpe_apply"] = _sql_bpe_apply()


# ---------------------------------------------------------------------------
# PMI co-occurrence over the top vocabulary

PMI_VOCAB = 30  # co-occurrence is O(PMI_VOCAB²/2) per doc — the cap IS the plan
PMI_MIN_COOC = 3  # pairs must co-occur in ≥ this many docs (PMI noise floor)
PMI_TOP = 50


def t_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information co-occurrence over the top
    ``PMI_VOCAB`` vocabulary tokens: which frequent words appear in
    the SAME documents far more often than independence predicts —
    the corpus-statistics view (collocations, topic seeds, template
    detection) that complements the adjacency-only bigram LM.

    pmi(a,b) = ln( P(a,b) / (P(a)·P(b)) ) with document-level
    probabilities (c_ab·n) / (c_a·c_b), n = corpus size.

    Scale shape: the vocabulary cap bounds the quadratic — per-doc
    membership is ≤ PMI_VOCAB distinct rows, so the doc_id self-join
    expands to ≤ C(30,2) = 435 pair rows per doc and the pair
    aggregate shuffles (token_a, token_b) pairs only. The vocab itself
    is a broadcast semi-join against the token stream; marginals and
    corpus size are 1-row/30-row broadcast factors. All-integer counts
    convert to double once, the ln argument is assembled in the
    identical operation order in both engines, and the output rounds
    to 6 dp before the deterministic (pmi desc, token_a, token_b)
    top-``PMI_TOP`` cut.

    No reference counterpart (extension operator; text-analysis
    family's corpus-statistics tier).
    """
    # NO spread here (optimization round 12, VERDICT r11 #1): the r11
    # session A/B kept a spread() before the tokenize/explode stages,
    # but the round-11 driver contradicted it at BOTH core counts
    # (1.13 s r10 → 2.12 s at 32c / 1.46 s at 8c) — the added
    # round-robin exchange costs more than the map fan-out saves on
    # this short pipeline (two consumers but each is one cheap
    # tokenize pass). Reverted to the r10 scan-partitioned form.
    docs = table(spark, sf_dir, "documents")
    vocab = ranked_head(
        token_stream(docs)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences")),
        PMI_VOCAB,
        "token_id",
    ).select("token")
    membership = (
        docs.select("doc_id", F.explode(words_col()).alias("token"))
        .where(F.col("token") != "")
        .join(F.broadcast(vocab), "token")
        .select("doc_id", "token")
        .distinct()
        .transform(materialize)  # feeds marginals AND the pair join
    )
    n_docs = docs.select(F.count(F.lit(1)).cast("long").alias("n"))
    marg = membership.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    a = membership.select("doc_id", F.col("token").alias("token_a"))
    b = membership.select("doc_id", F.col("token").alias("token_b"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("token_a") < F.col("token_b"))
        .groupBy("token_a", "token_b")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
        .where(F.col("c_ab") >= PMI_MIN_COOC)
    )
    out = (
        pairs.crossJoin(F.broadcast(n_docs))
        .join(
            F.broadcast(marg.select(F.col("token").alias("token_a"), F.col("c").alias("c_a"))),
            "token_a",
        )
        .join(
            F.broadcast(marg.select(F.col("token").alias("token_b"), F.col("c").alias("c_b"))),
            "token_b",
        )
        .select(
            "token_a",
            "token_b",
            "c_ab",
            F.round(
                F.log(
                    (F.col("c_ab").cast("double") * F.col("n").cast("double"))
                    / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return out.orderBy(
        F.col("pmi").desc(), F.col("token_a").asc(), F.col("token_b").asc()
    ).limit(PMI_TOP)


T_PMI_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_sql_words()}) AS token FROM documents
), counts AS (
  SELECT token, COUNT(*) AS n_occurrences FROM toks WHERE token <> '' GROUP BY token
), vocab AS (
  SELECT token FROM (
    SELECT token,
           ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token ASC) AS token_id
    FROM counts
  ) WHERE token_id <= {PMI_VOCAB}
), membership AS (
  SELECT DISTINCT t.doc_id, t.token
  FROM toks t JOIN vocab v ON t.token = v.token
), nd AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
), marg AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM membership GROUP BY token
), pairs AS (
  SELECT a.token AS token_a, b.token AS token_b,
         CAST(COUNT(*) AS BIGINT) AS c_ab
  FROM membership a JOIN membership b
    ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY a.token, b.token
  HAVING COUNT(*) >= {PMI_MIN_COOC}
)
SELECT token_a, token_b, c_ab,
       round(ln((CAST(c_ab AS DOUBLE) * CAST(n AS DOUBLE))
                / (CAST(ma.c AS DOUBLE) * CAST(mb.c AS DOUBLE))), 6) AS pmi
FROM pairs, nd
JOIN marg ma ON ma.token = token_a
JOIN marg mb ON mb.token = token_b
ORDER BY pmi DESC, token_a ASC, token_b ASC
LIMIT {PMI_TOP}
"""

TEXT_QUERIES["t_pmi_cooccurrence"] = t_pmi_cooccurrence
TEXT_ORACLES["t_pmi_cooccurrence"] = T_PMI_SQL


ZIPF_TOP = 1000  # fit over the top-N ranks — the cap IS the plan


def t_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: least-squares slope /
    intercept / R² of ln(freq) against ln(rank) for the top
    ``ZIPF_TOP`` tokens — the corpus-health statistic that flags
    template-heavy or synthetic text (natural language sits near slope
    −1; boilerplate floods flatten the head, token soup steepens the
    tail). Seeds quality dashboards next to the repetition and
    fluency filters.

    Plan: ONE exploded token aggregate (map-side combine — only
    distinct (token, count) pairs shuffle), the deterministic
    ``ranked_head`` top-N (TakeOrderedAndProject, never a full sort),
    and the regression on ≤1000 rows via the a8_corr_moments
    discipline: ln values round to 9 dp and quantize to DECIMAL(18,9),
    moments sum exactly (products as DECIMAL(38,18)), and the
    near-cancelling closed-form differences are computed on exact
    decimals before the one double conversion — bit-identical across
    engines and partitionings. The cap bounds the moment input, so
    the whole statistic is corpus-size-independent past the
    frequency aggregate.
    """
    counts = (
        token_stream(table(spark, sf_dir, "documents"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    ranked = ranked_head(counts, ZIPF_TOP, "rank")
    d9 = "decimal(18,9)"
    x = F.round(F.log(F.col("rank").cast("double")), 9).cast(d9)
    y = F.round(F.log(F.col("n_occurrences").cast("double")), 9).cast(d9)
    m = ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum((x * x).cast("decimal(38,18)")).alias("sxx"),
        F.sum((y * y).cast("decimal(38,18)")).alias("syy"),
        F.sum((x * y).cast("decimal(38,18)")).alias("sxy"),
    )
    # closed form in DOUBLE from the exact decimal sums: each sum
    # converts once (deterministically — same decimal, same nearest
    # double on both engines) and the combination runs in the same op
    # order, so parity holds; unlike a8_corr_moments the Zipf fit is
    # nowhere near the cancellation regime (slope ≈ −1, R² ≈ 0.9 on
    # natural text), and full-precision decimal products here overflow
    # DuckDB's 38-digit multiply.
    nd = F.col("n_terms").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    cov_n = nd * F.col("sxy").cast("double") - sxd * syd
    var_x = nd * F.col("sxx").cast("double") - sxd * sxd
    var_y = nd * F.col("syy").cast("double") - syd * syd
    slope = cov_n / var_x
    return m.select(
        F.col("n_terms").cast("long").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((syd - slope * sxd) / nd, 6).alias("intercept"),
        F.round(cov_n * cov_n / (var_x * var_y), 6).alias("r2"),
    )


T_ZIPF_SQL = f"""
WITH toks AS (
  SELECT unnest({_sql_words()}) AS token FROM documents
), counts AS (
  SELECT token, COUNT(*) AS n_occurrences
  FROM toks WHERE token <> '' GROUP BY token
), ranked AS (
  SELECT n_occurrences,
         ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token ASC) AS rank
  FROM counts
  ORDER BY n_occurrences DESC, token ASC LIMIT {ZIPF_TOP}
), vals AS (
  SELECT CAST(round(ln(CAST(rank AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
         CAST(round(ln(CAST(n_occurrences AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
  FROM ranked
), m AS (
  SELECT COUNT(*) AS n_terms, SUM(x) AS sx, SUM(y) AS sy,
         SUM(CAST(x * x AS DECIMAL(38,18))) AS sxx,
         SUM(CAST(y * y AS DECIMAL(38,18))) AS syy,
         SUM(CAST(x * y AS DECIMAL(38,18))) AS sxy
  FROM vals
), c AS (
  SELECT n_terms,
         CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov_n,
         CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS var_x,
         CAST(n_terms AS DOUBLE) * CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS var_y,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
  FROM m
)
SELECT CAST(n_terms AS BIGINT) AS n_terms,
       round(cov_n / var_x, 6) AS zipf_slope,
       round((syd - cov_n / var_x * sxd) / CAST(n_terms AS DOUBLE), 6)
         AS intercept,
       round(cov_n * cov_n / (var_x * var_y), 6) AS r2
FROM c
"""

TEXT_QUERIES["t_zipf_fit"] = t_zipf_fit
TEXT_ORACLES["t_zipf_fit"] = T_ZIPF_SQL
