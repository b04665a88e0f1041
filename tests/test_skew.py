"""Skew-mitigation semantics + plan shape (bucketed joins: test_bucketing.py)."""

import pytest
from pyspark.sql import functions as F

from securities_data_pipeline_spark.operators.skew import (
    salted_group_sum,
    salted_join,
)
from tests.conftest import rows


def _skewed_df(spark):
    # key "hot" has 5000 rows, others 10 each — the shape that pins a
    # single reducer in a naive groupBy
    hot = spark.range(5000).select(F.lit("hot").alias("k"), F.col("id").alias("v"))
    cold = spark.range(100).select(
        F.concat(F.lit("c"), (F.col("id") % 10).cast("string")).alias("k"),
        F.col("id").alias("v"),
    )
    return hot.unionByName(cold)


def test_salted_group_sum_matches_direct(spark):
    df = _skewed_df(spark)
    direct = {
        (r.k): (r.s, r.n)
        for r in df.groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("n")).collect()
    }
    salted = {
        (r.k): (r.sum_v, r.n_rows) for r in salted_group_sum(df, ["k"], ["v"]).collect()
    }
    assert salted == direct


def test_bloom_filter_no_false_negatives(spark):
    """Every key that went INTO the bitmap must pass the in-plan probe
    (bloom's one-sided guarantee — the join's exactness rests on it);
    the bitmap stays its fixed word count regardless of key volume."""
    from pyspark.sql import functions as F

    from securities_data_pipeline_spark.operators.skew import (
        BLOOM_JOIN_BITS,
        bloom_filter_build,
        bloom_might_contain,
    )

    keys = spark.range(0, 5000, 7).select(F.col("id").alias("k"))
    words = bloom_filter_build(keys, "k")
    assert len(words) == BLOOM_JOIN_BITS // 64
    misses = keys.where(~bloom_might_contain(F.col("k"), words)).count()
    assert misses == 0


def test_salted_join_matches_direct(spark):
    big = _skewed_df(spark)
    small = spark.createDataFrame(
        [("hot", "H"), ("c1", "C1"), ("nomatch", "X")], "k string, label string"
    )
    direct = rows(big.join(small, "k"), "k", "v")
    salted = rows(salted_join(big, small, "k"), "k", "v")
    assert salted == direct
    # left join keeps unmatched big rows exactly once
    direct_l = rows(big.join(small, "k", "left"), "k", "v")
    salted_l = rows(salted_join(big, small, "k", how="left"), "k", "v")
    assert salted_l == direct_l


def test_stratified_sampling_deterministic_and_rate_bounded(spark):
    from securities_data_pipeline_spark.operators.sampling import sample_stratified

    df = spark.range(2000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("s"),
    )
    kept = sample_stratified(df, "k", "s", {"a": 500, "b": 100})
    counts = {r.s: r.n for r in kept.groupBy("s").agg(F.count("*").alias("n")).collect()}
    # ~50% of 1000 'a' rows, ~10% of 1000 'b' rows; generous bounds
    assert 400 <= counts["a"] <= 600
    assert 50 <= counts["b"] <= 160
    # determinism: the same rows every run
    again = {r.k for r in sample_stratified(df, "k", "s", {"a": 500, "b": 100}).collect()}
    assert again == {r.k for r in kept.collect()}


def test_token_budget_keeps_first_overflowing_doc(spark):
    from securities_data_pipeline_spark.operators.sampling import token_budget_filter

    df = spark.createDataFrame(
        [(i, "x", 40) for i in range(10)], "doc_id long, lang string, n_tokens long"
    )
    kept = token_budget_filter(df, "doc_id", "lang", "n_tokens", 100)
    got = kept.collect()
    # 40+40 < 100, third doc overflows but is kept (before-sum 80 < 100)
    assert len(got) == 3


def test_pack_sequences_slots_are_contiguous_per_shard(spark):
    from securities_data_pipeline_spark.operators.sampling import pack_sequences

    df = spark.createDataFrame(
        [(i, 100 + i) for i in range(40)], "doc_id long, n_tokens long"
    )
    packed = pack_sequences(df, "doc_id", "n_tokens", seq_len=512, n_shards=4)
    rows = packed.collect()
    assert len(rows) == 40
    # within each shard the (pack_id, offset) slots must reconstruct a
    # single contiguous token stream: sorted by global position, each
    # doc starts exactly where the previous one ended
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r.pack_id * 512 + r.offset)
        pos = 0
        for r in shard_rows:
            assert r.pack_id * 512 + r.offset == pos
            pos += r.n_tokens


def test_train_split_deterministic_and_stable_under_growth(spark):
    from securities_data_pipeline_spark.operators.sampling import split_col

    small = spark.range(500).select(F.col("id").cast("string").alias("k"))
    big = spark.range(2000).select(F.col("id").cast("string").alias("k"))
    s1 = {r.k: r.split for r in small.select("k", split_col(F.col("k")).alias("split")).collect()}
    s2 = {r.k: r.split for r in big.select("k", split_col(F.col("k")).alias("split")).collect()}
    # same key → same split regardless of corpus size
    assert all(s2[k] == v for k, v in s1.items())
    # rough proportions: 90/5/5
    from collections import Counter

    c = Counter(s2.values())
    assert c["train"] > 1600 and 40 <= c["val"] <= 180 and 40 <= c["test"] <= 180


def test_global_shuffle_order_is_a_permutation(spark):
    from securities_data_pipeline_spark.operators.sampling import global_shuffle_order

    df = spark.range(1000).select(F.col("id").alias("doc_id"))
    out = global_shuffle_order(df, "doc_id", n_buckets=8)
    rows = out.collect()
    assert sorted(r.position for r in rows) == list(range(1000))
    # deterministic across runs
    again = {r.doc_id: r.position for r in global_shuffle_order(df, "doc_id", n_buckets=8).collect()}
    assert all(again[r.doc_id] == r.position for r in rows)
    # hash order, not input order: the identity permutation is not reproduced
    assert any(r.doc_id != r.position for r in rows)


def test_temperature_mix_upweights_small_strata(spark, tmp_path):
    from securities_data_pipeline_spark.operators.sampling import t_temperature_mix

    rows = [(i, "x", "en" if i < 1600 else "fr", "s", 10) for i in range(2000)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {r.lang: r for r in t_temperature_mix(spark, str(tmp_path)).collect()}
    # α=0.5 tempering: the minority stratum keeps a HIGHER fraction
    assert out["fr"].rate_pm > out["en"].rate_pm
    # overall kept mass lands near the 40% target
    kept = sum(r.n_kept for r in out.values())
    assert 600 <= kept <= 1000
    # kept counts track the derived rates
    for r in out.values():
        assert abs(r.n_kept / r.n_total - r.rate_pm / 1000) < 0.1


def test_aqe_splits_skewed_join_partition(spark):
    """Runtime evidence that AQE's skew-join splitting engages: with
    the skew thresholds lowered to test scale, a sort-merge join whose
    probe side has one dominant key must show skew=true in the final
    adaptive plan (on a cluster the default 256 MB thresholds do this
    for real partitions — same mechanism, same plan marker)."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        hot = spark.range(60_000).select(
            F.lit("hot").alias("k"), F.col("id").alias("v")
        )
        cold = spark.range(64).select(
            F.concat(F.lit("c"), F.col("id").cast("string")).alias("k"),
            F.col("id").alias("v"),
        )
        left = hot.unionByName(cold)
        right = spark.createDataFrame(
            [("hot", 1)] + [(f"c{i}", i) for i in range(64)], "k string, w int"
        )
        joined = left.join(right, "k")
        # execute THIS DataFrame's plan (count() would finalize a
        # different QueryExecution and leave this one isFinalPlan=false)
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_salt_is_retry_deterministic_and_spreads_duplicates(spark):
    """ADVICE r4: the shuffle salt must not depend on intra-partition
    row order (monotonically_increasing_id), or a retried map task can
    produce different salts than its first attempt. The salt is now a
    hash of (spark_partition_id, row content): order-independent, and
    literal duplicate rows still spread across salts when they live in
    different partitions."""
    from securities_data_pipeline_spark.operators.skew import _retry_safe_salt

    df = spark.range(64).select(F.lit("hot").alias("k"), F.lit(1).alias("v"))
    df = df.repartition(8)  # 64 identical rows over 8 partitions
    plan = df.select(_retry_safe_salt(df, 16).alias("s"))._jdf.queryExecution().toString()
    assert "monotonically" not in plan
    salts = {r.s for r in df.select(_retry_safe_salt(df, 16).alias("s")).collect()}
    # identical rows in DIFFERENT partitions hash to independent salts
    assert len(salts) > 1
    # and the same scan evaluated twice assigns identical salts
    a = sorted(r.s for r in df.select(_retry_safe_salt(df, 16).alias("s")).collect())
    b = sorted(r.s for r in df.select(_retry_safe_salt(df, 16).alias("s")).collect())
    assert a == b


def test_salted_ops_reject_reserved_scratch_columns(spark):
    """An input already using _salt (or a partial-agg name) must fail
    loudly — withColumn would silently overwrite the business column
    and the final drop would delete it."""
    import pytest as _pytest

    from securities_data_pipeline_spark.operators.skew import (
        salted_group_sum,
        salted_join,
    )

    df = spark.createDataFrame([("a", 1, 9)], "k string, v long, _salt long")
    with _pytest.raises(ValueError, match="reserves scratch columns"):
        salted_group_sum(df, ["k"], ["v"])
    small = spark.createDataFrame([("a", "L")], "k string, label string")
    with _pytest.raises(ValueError, match="reserves scratch columns"):
        salted_join(df, small, "k")
    with _pytest.raises(ValueError, match="reserves scratch columns"):
        salted_join(small, df, "k")


def test_spread_contract(spark):
    """spread() must be a no-op exactly where repartition would be
    waste: already-spread inputs and streaming frames; and it must
    fan a single-partition frame out to default parallelism."""
    from pyspark.sql import functions as F

    from securities_data_pipeline_spark.sources.tables import spread

    par = spark.sparkContext.defaultParallelism
    one = spark.range(100).coalesce(1)
    assert one.rdd.getNumPartitions() == 1
    assert spread(one).rdd.getNumPartitions() == par

    wide = spark.range(1000).repartition(par + 4)
    assert spread(wide) is wide  # guard returns the input untouched

    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", "1")
        .load()
    )
    assert spread(stream) is stream  # .rdd is illegal on streaming frames
