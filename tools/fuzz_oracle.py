"""Adversarial-content oracle fuzz: the fixed testdata never contains
an empty document, a whitespace-only document, a 10 000-char single
token, combining-mark unicode, or an emoji-only line — but a 100 TB
crawl contains all of them on the first day. This harness generates a
deterministic pathological ``documents`` table, then runs every
documents-only query through the SAME Spark-vs-DuckDB comparison as
the main gate. A query that is oracle-exact on clean data but diverges
on garbage (regex word-split disagreement, shingle-of-empty, NULL text,
division by zero length) fails HERE first, not in production.

Content classes (seeded, reproducible): empty string, NULL text,
whitespace-only, single char, punctuation-only, digits, one huge token,
many tiny tokens, CJK, accented latin (composed AND decomposed forms —
the engines must agree byte-for-byte, not canonically), emoji,
mixed-script, newline/tab soup, and near-duplicate perturbations so
the dedup family has real work.

Usage: python tools/fuzz_oracle.py [n_docs] [seed] [scratch_root]
"""

from __future__ import annotations

import os
import random
import shutil
import sys

sys.path.insert(0, ".")

# queries whose input surface is documents.parquet only — anything
# touching other tables can't run against the scratch dir
DOC_QUERIES = [
    "t_token_stats",
    "t_vocab",
    "t_quality",
    "t_quality_filter",
    "t_quality_linear",
    "t_lang_id",
    "t_char_entropy",
    "t_fingerprint",
    "t_winnow_fingerprint",
    "t_idf_top_terms",
    "t_unigram_logprob",
    "t_bigram_logprob",
    "t_fluency_buckets",
    "t_chunk_dedup",
    "t_chunk_sliding",
    "t_redact_terms",
    "t_repetition_filter",
    "t_doc_len_hist",
    "t_profile_columns",
    "t_len_percentiles",
    "t_sample_weighted",
    "t_global_shuffle",
    "t_source_cap",
    "t_curation_funnel",
    "dedup_exact",
    "dedup_minhash_signature",
    "dedup_minhash_pairs",
    "dedup_minhash_pairs_wide",
    "dedup_minhash_pairs_capped",
    "dedup_minhash_estimate",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_capped",
    "dedup_containment",
    "dedup_components",
    "dedup_cluster_stats",
    "dedup_soft_weights",
    "dedup_resolve",
    "dedup_incremental",
    "dedup_triangle_stats",
    "dedup_link_prediction",
    "dedup_link_prediction_capped",  # r8: the per-node neighbor-cap tier
    "dedup_simhash_wide",  # r7: 60-bit / 4-band production geometry
    "dedup_simhash_wide_capped",  # r7: width + cap 64, the registered default
    "t_bpe_train",  # r8: iterative merge training (incl. empty-alphabet edge)
    "t_bpe_apply",  # r11: trained-table encode certificate (same edge cases)
    "t_pmi_cooccurrence",  # r8: PMI over the capped top vocabulary
    "t_zipf_fit",  # r9: rank-frequency regression must absorb degenerate vocab
    "t_bm25_topk",
    "t_split_leakage_free",
    "t_quality_logreg",
    "dedup_banding_curve",
    "mm_near_dedup",
    "mm_binary_meta",
    "mm_payload_dedup",
]

# includes two BM25_QUERY_TERMS so the retrieval scorer sees matches
# on the pathological corpus, not just an empty posting list
_WORDS = ["alpha", "beta", "gamma", "delta", "data", "train", "model", "the", "of",
          "merge", "window"]

_PATHOLOGICAL = [
    "",  # empty
    None,  # NULL text
    "   \t  \n ",  # whitespace soup
    "x",  # single char
    "!!! ??? ... ;;; ---",  # punctuation only
    "12345 67890 00001",  # digits
    "a" * 10_000,  # one huge token
    " ".join("t" for _ in range(2_000)),  # many tiny tokens
    "数据 管道 火花 引擎 分布 式 计算",  # CJK
    "café résumé naïve",  # composed accents
    "café résumé naïve",  # decomposed accents
    "🙂🙂🙂 🚀 🚀 🙂",  # emoji
    "mixed 混合 texte ελληνικά русский",  # mixed script
    "line1\nline2\r\nline3\ttabbed",  # newline/tab soup
    "null-byte? no: ",  # control chars
]


def gen_documents(n: int, seed: int):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        kind = i % (len(_PATHOLOGICAL) + 2)
        if kind < len(_PATHOLOGICAL):
            text = _PATHOLOGICAL[kind]
        elif kind == len(_PATHOLOGICAL):
            # normal-ish doc for the dedup family to bite on
            text = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(5, 60)))
        else:
            # near-duplicate of a previous normal doc
            base = rows[rng.randrange(max(1, len(rows)))][1] or "seed text here"
            text = base + " perturb" + str(rng.randint(0, 3))
        rows.append(
            (
                i,
                text,
                rng.choice(["en", "de", "fr", "zz"]),
                rng.choice(["web", "books", "code"]),
                len(text) if text is not None else None,
            )
        )
    return rows


def main() -> int:
    import duckdb

    from tools.check_oracle import compare, report
    from securities_data_pipeline_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 400
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 7
    scratch_root = sys.argv[3] if len(sys.argv) > 3 else "/tmp"
    scratch = os.path.join(scratch_root, "sdp_fuzz_oracle")
    os.makedirs(scratch, exist_ok=True)

    spark = get_spark("oracle-fuzz")
    docs = spark.createDataFrame(
        gen_documents(n, seed),
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    path = os.path.join(scratch, "documents.parquet")
    docs.coalesce(2).write.mode("overwrite").parquet(path)

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}/*.parquet'")

    status = report(*compare(spark, con, DOC_QUERIES, scratch))
    shutil.rmtree(scratch, ignore_errors=True)
    return status


if __name__ == "__main__":
    raise SystemExit(main())
