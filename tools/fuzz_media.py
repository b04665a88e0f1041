"""Adversarial-media fuzz: the fifth fuzz axis (VERDICT r6 item 5).

The mm_* family was the only query surface with no adversarial sweep —
at 100 TB corrupt media is guaranteed (truncated downloads, zero-byte
files, NULL blobs, duplicate doc_ids from URL aliasing, payloads that
straddle Arrow batch boundaries). Two sweeps:

1. **Oracle sweep** — a deterministic pathological ``documents`` table
   (ASCII-only text classes: the mm_resize/mm_frame_sample oracles
   slice VARCHAR *characters* while the engine slices payload *bytes*,
   byte-equivalent only for ASCII — a DOCUMENTED oracle limitation,
   DuckDB has no blob substring/md5; non-ASCII bytes are exercised by
   sweep 2, which needs no SQL twin). Runs every registered mm_*
   query through the same Spark-vs-DuckDB comparison as the main gate.
   Classes: NULL text, empty, 1 char, frame/resize boundary lengths
   (FRAME_BYTES±1, exact multiples, RESIZE_BYTES±1), huge 200k-char
   payloads, repeated patterns (frame-level dups), tab/newline soup,
   duplicate doc_ids (same and different payloads), near-duplicate
   truncations/overwrites for the near-dedup tier.

2. **Direct binary sweep** — true binary garbage through the
   mapInPandas operators (extract_features / resize_media /
   frame_sample): NULL payload, b"", single byte, all-0xFF, embedded
   NULs, invalid UTF-8, ~1 MiB blobs, NULL meta struct, duplicate
   doc_ids. Invariants checked (no SQL twin exists for raw binary):
   - Arrow batch boundary: identical results at
     ``maxRecordsPerBatch=2`` vs default (every batch split exercised)
   - partition invariance: identical results at 1 vs 8 partitions
   - NULL policy: NULL payload → (n_bytes 0, NULL feature) in
     extract_features, zero frames in frame_sample, zero-filled blob
     in resize_media — never a task death

Usage: python tools/fuzz_media.py [n_docs] [seed] [scratch_root]
"""

from __future__ import annotations

import os
import random
import shutil
import string
import sys

sys.path.insert(0, ".")

MM_QUERIES = [
    "mm_binary_meta",
    "mm_payload_dedup",
    "mm_feature_extract",
    "mm_resize",
    "mm_frame_sample",
    "mm_near_dedup",
    "mm_near_dedup_capped",
    "mm_feature_knn",
    "mm_dataset_card",  # r10: per-modality composition card (meta-only)
    "s_stream_mm_card",  # r11: incremental card (bucketed median, merge sink)
]

ASCII = string.ascii_letters + string.digits + " .,;:!?-_()[]"


def gen_documents(n: int, seed: int):
    """(doc_id, text, lang, source, n_chars) rows, ASCII-only text,
    ~1/2 pathological."""
    from securities_data_pipeline_spark.operators.multimodal import (
        FRAME_BYTES,
        RESIZE_BYTES,
    )

    rng = random.Random(seed)

    def rand_text(k: int) -> str:
        return "".join(rng.choice(ASCII) for _ in range(k))

    rows: list[tuple] = []
    for i in range(n):
        kind = i % 16
        if kind == 1:
            text = None  # NULL payload
        elif kind == 3:
            text = ""  # zero-byte payload
        elif kind == 5:
            text = rng.choice(ASCII)  # 1 byte
        elif kind == 7:
            # frame boundary: exactly k frames, k frames ± 1 byte
            k = rng.randrange(1, 5)
            text = rand_text(FRAME_BYTES * k + rng.choice([-1, 0, 1]))
        elif kind == 9:
            # resize boundary: around the cycle length
            text = rand_text(RESIZE_BYTES + rng.choice([-1, 0, 1]))
        elif kind == 11:
            text = rand_text(200_000)  # huge payload
        elif kind == 13:
            text = rand_text(rng.randrange(4, 12)) * rng.randrange(
                8, 40
            )  # repeated pattern: frame-level dups
        elif kind == 15:
            text = "\t\n ".join(rand_text(3) for _ in range(rng.randrange(2, 9)))
        elif kind == 2 and rows:
            # exact duplicate payload under a NEW doc_id (URL aliasing)
            text = rows[rng.randrange(len(rows))][1]
        elif kind == 6 and rows:
            # truncation near-duplicate (mm_near_dedup's target class)
            donor = next(
                (r[1] for r in reversed(rows) if r[1] and len(r[1]) > 64), None
            )
            text = donor[: len(donor) - rng.randrange(1, 9)] if donor else rand_text(80)
        else:
            text = rand_text(rng.randrange(8, 400))
        doc_id = i
        if kind == 10 and rows:
            doc_id = rows[rng.randrange(len(rows))][0]  # duplicate doc_id
        rows.append(
            (doc_id, text, "en", f"src{i % 3}", len(text) if text else 0)
        )
    return rows


def gen_media_rows(seed: int):
    """True binary garbage for the direct operator sweep."""
    rng = random.Random(seed)
    blob = lambda k: bytes(rng.randrange(256) for _ in range(k))  # noqa: E731
    rows = [
        (0, "image/png", None, None),  # NULL payload AND NULL meta
        (1, "image/png", b"", {"width": 1, "height": 1, "sample_rate": None, "n_frames": None}),
        (2, "audio/wav", b"\xff", None),  # 1 byte, NULL meta
        (3, "audio/wav", b"\xff" * 64, {"width": None, "height": None, "sample_rate": 44100, "n_frames": None}),
        (4, "video/mp4", b"\x00" * 193, None),  # embedded NULs, frame+1
        (5, "video/mp4", blob(64 * 3), None),  # exact frame multiple
        (6, "image/jpeg", b"\xc3\x28" * 40, None),  # invalid UTF-8 bytes
        (7, "image/jpeg", blob(1 << 20), None),  # ~1 MiB
        (8, "image/png", blob(127), None),  # resize boundary - 1
        (9, "image/png", blob(129), None),  # resize boundary + 1
    ]
    dup_payload = rows[3][2]
    rows.append((10, "audio/wav", dup_payload, None))  # exact dup payload
    rows.append((3, "audio/wav", blob(32), None))  # duplicate doc_id
    return rows


def binary_sweep(spark) -> list[str]:
    from securities_data_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_features,
        frame_sample,
        resize_media,
    )

    problems: list[str] = []
    rows = gen_media_rows(11)

    def run_all(df):
        return {
            "features": sorted(
                (r.doc_id, r.n_bytes, tuple(r.feature) if r.feature else None)
                for r in extract_features(df).collect()
            ),
            "resized": sorted(
                (r.doc_id, bytes(r.payload) if r.payload is not None else None)
                for r in resize_media(df).collect()
            ),
            "frames": sorted(
                (r.doc_id, r.frame_idx, r.frame_md5)
                for r in frame_sample(df).collect()
            ),
        }

    base = spark.createDataFrame(rows, MEDIA_SCHEMA)

    default_batch = spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"
    )
    try:
        ref = run_all(base.coalesce(1))
        # Arrow batch boundary: force a split between every 2 rows
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
        tiny = run_all(base.coalesce(1))
        if tiny != ref:
            problems.append("arrow-batch-boundary: results differ at maxRecordsPerBatch=2")
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", default_batch
        )
    # partition invariance
    many = run_all(base.repartition(8))
    if many != ref:
        problems.append("partition-invariance: results differ at 8 partitions")

    # NULL-policy assertions
    feats = {r[0]: r for r in ref["features"]}
    if feats[0][1] != 0 or feats[0][2] is not None:
        problems.append(f"null-payload feature policy violated: {feats[0]}")
    if any(r[0] == 0 for r in ref["frames"]):
        problems.append("null payload produced frames")
    resized0 = [p for d, p in ref["resized"] if d == 0]
    if resized0 != [b"\x00" * 128]:
        problems.append(f"null payload resize policy violated: {resized0!r}")

    for p in problems:
        print(f"FAIL binary-sweep: {p}")
    if not problems:
        print(
            f"PASS binary-sweep: {len(rows)} pathological blobs through 3 "
            f"operators, batch-boundary + partition invariance + NULL policy hold"
        )
    return problems


def main() -> int:
    import duckdb

    from tools.check_oracle import compare, report
    from securities_data_pipeline_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 400
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 7
    scratch_root = sys.argv[3] if len(sys.argv) > 3 else "/tmp"
    scratch = os.path.join(scratch_root, "sdp_fuzz_media")
    os.makedirs(scratch, exist_ok=True)

    spark = get_spark("media-fuzz")
    docs = spark.createDataFrame(
        gen_documents(n, seed),
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    path = os.path.join(scratch, "documents.parquet")
    docs.coalesce(2).write.mode("overwrite").parquet(path)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}/*.parquet'")

    failures, errors = compare(spark, con, MM_QUERIES, scratch)
    problems = binary_sweep(spark)
    status = report(failures, errors)
    print(f"{len(problems)} binary-sweep problems")
    shutil.rmtree(scratch, ignore_errors=True)
    return 1 if status or problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
