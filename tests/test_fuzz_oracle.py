"""CI pin of the adversarial-content oracle fuzz (tools/fuzz_oracle.py).

The full fuzzer sweeps every documents-only query over a 400-doc
pathological corpus; that's a multi-minute tool run. This test pins a
small slice — the content classes and query families that actually
diverged when the fuzzer first ran (NULL text → ``[NULL]`` shingle
arrays → phantom near-dup buckets; NULLS-ordering drift in the
percentile ranks; NULL-propagating gram hashes in winnowing) — so a
regression in any of those fixes fails CI, not the next fuzz run.

Representative queries, one per formerly-failing root cause:
- ``dedup_minhash_pairs`` — the ``array_compact`` shingle fix
  (``operators/dedup.py:_shingles_from``) feeding the LSH band path.
- ``dedup_ngram_jaccard`` — the same fix through the explode/self-join
  verifier (DuckDB ``unnest(NULL)`` emits nothing; Spark must too).
- ``t_len_percentiles`` — NULL ``n_chars`` excluded before ranking
  (Spark sorts NULLS FIRST asc, DuckDB NULLS LAST).
- ``t_winnow_fingerprint`` — NULL text dropped before the gram hash
  (DuckDB ``'0x' || NULL`` = ``'0x'`` then CAST errors; Spark → NULL).
- ``t_token_stats`` — always-passing control: a clean-side baseline
  proving the harness itself compares correctly.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from tests.conftest import oracle_rows
from tools.fuzz_oracle import gen_documents

QUERIES = [
    "t_token_stats",
    "t_len_percentiles",
    "t_winnow_fingerprint",
    "dedup_minhash_signature",
    "dedup_minhash_pairs",
    "dedup_ngram_jaccard",
]


@pytest.fixture(scope="module")
def fuzz_dir(spark, tmp_path_factory):
    scratch = str(tmp_path_factory.mktemp("fuzz_docs"))
    docs = spark.createDataFrame(
        gen_documents(120, 11),
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(scratch, "documents.parquet")
    )
    return scratch


@pytest.mark.parametrize("name", QUERIES)
def test_adversarial_corpus_matches_oracle(spark, fuzz_dir, name, capsys):
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(fuzz_dir, 'documents.parquet')}/*.parquet'"
    )
    # the corpus must actually exercise the pathological classes —
    # a silently-empty result would make this test vacuous
    assert oracle_rows(spark, con, name, fuzz_dir, capsys) > 0


def test_corpus_contains_pathological_classes(spark, fuzz_dir):
    docs = spark.read.parquet(os.path.join(fuzz_dir, "documents.parquet"))
    from pyspark.sql import functions as F

    stats = docs.agg(
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)).alias("nulls"),
        F.sum(F.when(F.col("text") == "", 1).otherwise(0)).alias("empties"),
        # NB: F.trim strips only ' ' — use a regex so tab/newline soup counts
        F.sum(
            F.when(F.col("text").rlike(r"^\s*$") & (F.col("text") != ""), 1).otherwise(0)
        ).alias("blanks"),
    ).first()
    assert stats.nulls > 0 and stats.empties > 0 and stats.blanks > 0
