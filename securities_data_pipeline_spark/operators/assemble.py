"""End-to-end dataset assembly: the curation operators composed into
one pipeline query, proving they chain — quality gate → exact dedup →
deterministic split → manifest.

Every stage reuses the exact operator the standalone queries verify
(`t_quality_filter`'s micro-unit median gate, `dedup_exact`'s
fingerprint keep-min, `t_train_split`'s hash-Bernoulli split), so the
composed oracle doubles as an integration check across operator
families — the "run your whole pipeline on this engine" demonstration.

Scale shape (100 TB): the scored projection materializes ONCE
(``materialize``) and feeds the threshold aggregate and the gate; the
threshold is a one-row broadcast; dedup survives on a window over the
16-byte fingerprint (one shuffle of hashes, text never moves); the
split is a zero-shuffle hash projection; the manifest is a 3-row
aggregate. Total: two exchanges end-to-end.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from securities_data_pipeline_spark.operators.curation import SCORE_SCALE
from securities_data_pipeline_spark.operators.sampling import (
    SPLIT_SEED,
    SPLIT_TRAIN_PM,
    SPLIT_VAL_PM,
    split_col,
)
from securities_data_pipeline_spark.functions.hashing import sql_seeded_hash64
from securities_data_pipeline_spark.operators.textops import (
    _sql_words,
    fingerprint,
    quality_score,
    token_count,
)
from securities_data_pipeline_spark.sources.tables import materialize, table


def t_assemble_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-split manifest (docs, tokens) of the assembled dataset:
    keep documents at/above the corpus-median quality, drop exact
    duplicates (min doc_id canonical), split train/val/test."""
    docs = table(spark, sf_dir, "documents")
    scored = (
        docs.select(
            "doc_id",
            quality_score().alias("q"),
            fingerprint().alias("fp"),
            token_count().cast("long").alias("n_tok"),
        )
        .withColumn("si", F.round(F.col("q") * SCORE_SCALE).cast("long"))
        .transform(materialize)
    )
    thr = scored.agg(F.expr("percentile(si, 0.5)").alias("thr"))
    kept = scored.crossJoin(F.broadcast(thr)).where(
        F.col("si").cast("double") >= F.col("thr")
    )
    surv = kept.withColumn(
        "canon", F.min("doc_id").over(Window.partitionBy("fp"))
    ).where(F.col("doc_id") == F.col("canon"))
    return (
        surv.select(split_col(F.col("doc_id").cast("string")).alias("split"), "n_tok")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )


def _sql_assemble() -> str:
    from securities_data_pipeline_spark.operators.textops import _sql_quality

    h = sql_seeded_hash64("CAST(doc_id AS VARCHAR)", SPLIT_SEED)
    return f"""
WITH q AS ({_sql_quality()}),
base AS (
  SELECT d.doc_id,
         md5(array_to_string({_sql_words("d.text")}, ' ')) AS fp,
         len({_sql_words("d.text")}) AS n_tok,
         CAST(round(quality * {SCORE_SCALE}) AS BIGINT) AS si
  FROM documents d JOIN q ON q.doc_id = d.doc_id
),
kept AS (
  SELECT * FROM base
  WHERE CAST(si AS DOUBLE) >=
        (SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY si) FROM base)
),
surv AS (
  SELECT * FROM (
    SELECT doc_id, n_tok, MIN(doc_id) OVER (PARTITION BY fp) AS canon FROM kept
  ) WHERE doc_id = canon
)
SELECT CASE WHEN {h} % 1000 < {SPLIT_TRAIN_PM} THEN 'train'
            WHEN {h} % 1000 < {SPLIT_VAL_PM} THEN 'val'
            ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM surv GROUP BY 1
"""


ASSEMBLE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "t_assemble_manifest": t_assemble_manifest,
}

ASSEMBLE_ORACLES: dict[str, str] = {
    "t_assemble_manifest": _sql_assemble(),
}
