"""Adversarial-vector oracle fuzz for the similarity/ANN family.

The fixed ``embeddings.parquet`` testdata is uniformly well-behaved:
every vector is 64-dim, finite, non-zero. A 100 TB embedding store is
not — encoder crashes emit zero vectors, fp16 overflow emits inf,
data bugs emit NaN, schema drift emits wrong-dim or NULL arrays. Any
of those can silently poison a cosine top-k (NaN ranks first/last
differently per engine; a zero-norm denominator is 0/0) — so this
harness generates a deterministic pathological ``embeddings`` table
and runs every embeddings-only registered query through the SAME
Spark-vs-DuckDB comparison as the main correctness gate.

Vector classes (seeded, reproducible): all-zero (norm 0 → cosine
0/0), NULL embedding, empty array, short (3-dim) and long (96-dim)
arrays, NaN component, ±inf components, huge (1e30) and tiny (1e-30)
magnitudes, exact duplicates, 1e-6 near-duplicates, NULL label, plus
a bulk of ordinary random vectors so rankings have real structure.

Usage: python tools/fuzz_embeddings.py [n_vecs] [seed] [scratch_root]
"""

from __future__ import annotations

import math
import os
import random
import shutil
import sys

sys.path.insert(0, ".")

EMB_QUERIES = [
    "sim_bruteforce_topk",
    "sim_range_search",
    "sim_mmr_rerank",
    "sim_cluster_sample",
    "sim_ivf_topk",
    "sim_ivf_recall",
    "sim_ivf_probe_curve",  # r11: probe sweep (degenerate corpora -> NULL guards)
    "sim_kmeans_assign",
    "sim_knn_graph",
    "sim_lsh_topk",
    "sim_lsh_recall",
    "sim_quantize",
    "sim_label_centroid_dist",
    "sim_pq_topk",
    "sim_pq_rerank_topk",
    "sim_pq_recall",
    "sim_ivfpq_rerank_topk",
    "dedup_embedding_cosine",
    "dedup_embedding_resolve",
    "dedup_semdedup",
    "dedup_semdedup_capped",  # r9: anchor-capped production twin
    "m_quarantine_report",  # r9: reject-rate audit over the raw scan
    "f_array_stats",
    "s_stream_ivf_assign",  # streaming ingest face: gated assign vs raw oracle
    "sim_hard_negatives",
    "sim_kmeans_train",  # r9: Lloyd training; garbage vectors must not poison centroids
    "sim_pq_train",  # r9: subspace-Lloyd codebook training on gated corpus
    "sim_ivf_retrain_recall",  # r10: before/after roster report (train+probe)
    "sim_pq_retrain_recall",  # r10: donor-vs-trained codebook certificate
]

DIM = 64


def _rand_vec(rng: random.Random, scale: float = 1.0) -> list[float]:
    return [rng.gauss(0.0, 1.0) * scale for _ in range(DIM)]


def gen_embeddings(n: int, seed: int):
    """(vec_id, embedding, label) rows, ~1/8 of them pathological."""
    rng = random.Random(seed)
    rows: list[tuple] = []
    for i in range(n):
        label = rng.randrange(8)
        kind = i % 16
        if kind == 3:
            vec = [0.0] * DIM  # zero vector: norm 0
        elif kind == 5:
            vec = None  # NULL embedding
        elif kind == 7:
            vec = []  # empty array
        elif kind == 9:
            vec = _rand_vec(rng)[:3]  # wrong dim (short)
        elif kind == 11:
            vec = _rand_vec(rng) + _rand_vec(rng)[: DIM // 2]  # wrong dim (long)
        elif kind == 13:
            vec = _rand_vec(rng)
            vec[rng.randrange(DIM)] = math.nan
        elif kind == 15:
            vec = _rand_vec(rng)
            vec[rng.randrange(DIM)] = math.inf
            vec[rng.randrange(DIM)] = -math.inf
        elif kind == 2:
            vec = _rand_vec(rng, 1e30)  # huge magnitude (dot → inf)
        elif kind == 6:
            vec = _rand_vec(rng, 1e-30)  # tiny magnitude (dot → 0)
        elif kind == 10 and rows:
            # exact duplicate of an earlier vector (may itself be bad)
            vec = rows[rng.randrange(len(rows))][1]
        elif kind == 14 and rows:
            donor = rows[rng.randrange(len(rows))][1]
            if donor and len(donor) == DIM and all(math.isfinite(x) for x in donor):
                vec = list(donor)
                vec[rng.randrange(DIM)] += 1e-6  # near-duplicate
            else:
                vec = _rand_vec(rng)
        else:
            vec = _rand_vec(rng)
        if kind == 12:
            label = None  # NULL label (IVF/centroid family)
        rows.append((i, vec, label))
    return rows


def main() -> int:
    import duckdb

    from tools.check_oracle import compare, report
    from securities_data_pipeline_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 400
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 7
    scratch_root = sys.argv[3] if len(sys.argv) > 3 else "/tmp"
    scratch = os.path.join(scratch_root, "sdp_fuzz_embeddings")
    os.makedirs(scratch, exist_ok=True)

    spark = get_spark("embeddings-fuzz")
    emb = spark.createDataFrame(
        gen_embeddings(n, seed),
        "vec_id long, embedding array<float>, label int",
    )
    path = os.path.join(scratch, "embeddings.parquet")
    emb.coalesce(2).write.mode("overwrite").parquet(path)
    # clean sf0.001 events beside the adversarial vectors (the
    # fuzz_events dim-copy convention): m_quarantine_report reads BOTH
    # gated tables, and its adversarial-embeddings face runs here
    ev_src = "/root/testdata/sf0.001/events.parquet"
    ev_dst = os.path.join(scratch, "events.parquet")
    if os.path.exists(ev_src) and not os.path.exists(ev_dst):
        (shutil.copytree if os.path.isdir(ev_src) else shutil.copy)(
            ev_src, ev_dst
        )

    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{path}/*.parquet'")
    if os.path.exists(ev_dst):
        con.sql(f"CREATE VIEW events AS SELECT * FROM '{ev_dst}'")

    status = report(*compare(spark, con, EMB_QUERIES, scratch))
    shutil.rmtree(scratch, ignore_errors=True)
    return status


if __name__ == "__main__":
    raise SystemExit(main())
