"""Skew mitigation + co-located (bucketed) joins — the two manual
shuffle levers for 100 TB workloads (SURVEY §4 scale notes).

AQE's skew-join splitting handles most skew at runtime; these are the
explicit tools for the cases AQE can't fix:

- ``salted_group_sum``: two-phase aggregation for a *skewed grouping
  key* (one boilerplate symbol/document dominating). Phase 1 groups by
  (key, salt) — the hot key's rows spread over ``n_salts`` reducers —
  phase 2 groups the ~n_salts× smaller partials by key alone.
  Algebraic aggregates (sum/count/min/max) compose exactly, so the
  result is bit-identical to the unsalted plan.
- ``salted_join``: broadcast-free join against a *skewed build side*:
  the small side is replicated once per salt (explode), the big side
  gets a retry-deterministic salt (see ``_retry_safe_salt``), and the
  join key becomes (key, salt) — the hot key's probe rows land on
  n_salts reducers instead of one.
- bucketed tables live in ``plans/bucketing.py``: pre-shuffle a fact
  table ONCE into ``n`` buckets by join key (`df.write.bucketBy`).
  Every later equi-join/agg on that key reads co-located buckets and
  skips its Exchange entirely — the batch analog of the reference's
  PK-clustered warehouse tables (py_pipeline/load.py merge keys).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SALTS = 16


def _retry_safe_salt(df: DataFrame, n_salts: int) -> Column:
    """Shuffle salt that is DETERMINISTIC under task retry.

    ``monotonically_increasing_id()`` depends on intra-partition row
    ORDER, which is not stable for post-shuffle inputs: a fetch-failure
    retry can recompute a map task with different ids → different
    salts, and reducers mixing old- and new-attempt outputs
    double-count or drop rows (the classic nondeterministic-shuffle-key
    hazard). Hashing ``spark_partition_id() + row content`` instead is
    order-independent, so any retry of the same partition reproduces
    identical salts for identical rows.

    Spread trade-off: duplicate hot-key rows co-resident in ONE
    partition share a salt, while duplicates in different partitions
    get independent salts — so the effective spread for the
    boilerplate-duplicate case is min(n_input_partitions, n_salts).
    Scans and round-robin layouts spread duplicates across input
    splits, so this holds in practice; the one degenerate layout (input
    already hash-partitioned BY the hot key) is exactly the skewed
    shuffle this operator exists to replace and should not appear
    upstream of it.
    """
    return F.pmod(
        F.xxhash64(F.spark_partition_id(), *[F.col(c) for c in df.columns]),
        F.lit(n_salts),
    ).cast("int")


def _require_free(df: DataFrame, names: list[str], op: str) -> None:
    """Fail loudly when an input already uses one of the operator's
    scratch column names — `withColumn` would silently OVERWRITE a
    business column and the final drop would delete it from the
    output (the payload-clash guard pattern from asof.py)."""
    clash = set(names) & set(df.columns)
    if clash:
        raise ValueError(
            f"{op} reserves scratch columns {sorted(clash)}; "
            "rename them on the input first"
        )


def salted_group_sum(
    df: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    n_salts: int = DEFAULT_SALTS,
) -> DataFrame:
    """Two-phase skew-safe groupBy: exact ``sum`` + ``count`` per key.

    Output: ``keys + [sum_<c> ...] + n_rows``. Equal to the direct
    ``groupBy(keys).agg(sum, count)`` for any input (algebraic
    re-association), but the widest reducer sees ~1/n_salts of the
    hottest key.

    The salt is ``_retry_safe_salt`` (partition-id + row-content hash):
    deterministic under task retry, and still spreads duplicate
    hot-key rows across reducers because duplicates arriving from
    different input splits hash to independent salts (see the spread
    trade-off note on ``_retry_safe_salt``). The aggregate's value is
    salt-independent either way.
    """
    _require_free(
        df, ["_salt", "_pcnt", *[f"_psum_{c}" for c in sum_cols]], "salted_group_sum"
    )
    salt = _retry_safe_salt(df, n_salts).alias("_salt")
    partial = (
        df.select(*df.columns, salt)
        .groupBy(*keys, "_salt")
        .agg(
            *[F.sum(c).alias(f"_psum_{c}") for c in sum_cols],
            F.count(F.lit(1)).alias("_pcnt"),
        )
    )
    return partial.groupBy(*keys).agg(
        *[F.sum(f"_psum_{c}").alias(f"sum_{c}") for c in sum_cols],
        F.sum("_pcnt").alias("n_rows"),
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = DEFAULT_SALTS,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the big side's hot keys spread across
    ``n_salts`` reducers.

    The small side is replicated n_salts times (one row per salt), the
    big side is salted with the retry-deterministic partition+content
    hash (``_retry_safe_salt`` — retried map tasks must reproduce
    identical salts or reducers mix attempt outputs), and the shuffle
    key becomes (key, salt). Semantically identical to
    ``big.join(small, key, how)`` for the big-side-preserving joins
    (each big row still matches exactly the same small rows); joins
    that preserve the SMALL side (right/full outer) would emit every
    unmatched small-side replica n_salts times, so they are rejected
    rather than silently wrong."""
    allowed = {"inner", "left", "leftouter", "left_outer", "left_semi",
               "leftsemi", "left_anti", "leftanti", "semi", "anti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join supports big-side-preserving joins only, not {how!r}: "
            "right/full outer would duplicate unmatched small-side replicas "
            "once per salt"
        )
    _require_free(big, ["_salt"], "salted_join (big side)")
    _require_free(small, ["_salt"], "salted_join (small side)")
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("_salt")
    small_rep = small.select("*", salts)
    big_salted = big.withColumn("_salt", _retry_safe_salt(big, n_salts))
    joined = big_salted.join(small_rep, [key, "_salt"], how)
    return joined.drop("_salt")


# ---------------------------------------------------------------------------
# oracle-checked query: the salted two-phase aggregate


def agg_salted_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe per-returnflag quantity totals over lineitem via the
    two-phase salted aggregate. The oracle is the plain GROUP BY —
    the salting must be observationally invisible. Decimal sums keep
    the re-association exact across engines."""
    from securities_data_pipeline_spark.sources.tables import table

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("decimal(18,2)").alias("q")
    )
    out = salted_group_sum(li, ["l_returnflag"], ["q"])
    return out.select(
        "l_returnflag", F.col("sum_q").cast("double").alias("sum_qty"), "n_rows"
    )


AGG_SALTED_SQL = """
SELECT l_returnflag,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""

def j_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue via the salted fact⋈dim join. The oracle is
    the plain equi-join — salting must be observationally invisible.

    This is the AQE-independent answer to a hot probe key: supplier
    replicates ``DEFAULT_SALTS``× (tiny dim — replication is noise),
    lineitem salts with the retry-deterministic hash, and the hottest
    suppkey's rows spread over ``DEFAULT_SALTS`` reducers instead of
    one. The big side projects to 3 columns BEFORE salting so the
    content hash and the shuffle both move a narrow row. Decimal sums
    keep the post-join aggregate exact across engines."""
    from securities_data_pipeline_spark.sources.tables import table

    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        F.col("l_discount").cast("decimal(18,4)").alias("disc"),
    )
    sup = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    rev = F.col("price") * (F.lit(1).cast("decimal(18,4)") - F.col("disc"))
    return (
        salted_join(li, sup, "l_suppkey")
        .groupBy("s_nationkey")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


J_SALTED_SQL = """
SELECT s_nationkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_nationkey
"""

# ---------------------------------------------------------------------------
# bloom-prefiltered join (explicit semi-join reduction)

BLOOM_JOIN_BITS = 1 << 16  # 8 KiB bitmap — fixed size at ANY corpus scale
BLOOM_JOIN_K = 4
BLOOM_PRIORITY = "1-URGENT"
BLOOM_D1, BLOOM_D2 = "1995-01-01", "1996-01-01"


def _bj_positions(key: Column) -> list[Column]:
    """k double-hashed bit positions via native ``xxhash64`` — NOT the
    md5-derived cross-engine family: the oracle never computes the
    bloom (it is a prefilter the exact join erases), so the only
    requirements are determinism and speed, and xxhash64 is codegen'd
    JVM-side (~5× cheaper than the md5/conv family on the fact scan:
    6.5 → 1.2 s measured). Both hashes reduce mod m BEFORE the i·h2
    step so the position arithmetic can't overflow int64 under ANSI."""
    h1 = F.pmod(F.xxhash64(key, F.lit(301)), F.lit(BLOOM_JOIN_BITS))
    h2 = F.pmod(F.xxhash64(key, F.lit(302)), F.lit(BLOOM_JOIN_BITS))
    return [
        F.pmod(h1 + F.lit(i) * h2, F.lit(BLOOM_JOIN_BITS)) for i in range(BLOOM_JOIN_K)
    ]


def bloom_filter_build(keys: DataFrame, key_col: str) -> list[int]:
    """Collect a key set's bloom bitmap as int64 words. The driver
    transfer is bounded by DISTINCT BIT POSITIONS (≤ BLOOM_JOIN_BITS
    rows) — constant regardless of how many keys the build side holds."""
    pos = (
        keys.select(F.explode(F.array(*_bj_positions(F.col(key_col)))).alias("p"))
        .distinct()
    )
    words = [0] * (BLOOM_JOIN_BITS // 64)
    for r in pos.collect():
        words[r.p // 64] |= 1 << (r.p % 64)
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_might_contain(key: Column, words: list[int]) -> Column:
    """In-plan k-probe membership test against the literal bitmap —
    a zero-shuffle codegen'd scan predicate (xxhash64 + getbit chain;
    duplicating the cheap hashes across the k probes beats both the
    md5 family and a `let` HOF binding, which de-codegens the filter)."""
    # ONE parsed expression for the 1024-word bitmap literal — the
    # element-wise F.lit form is ~2k py4j round trips (~2 s of pure
    # driver latency per call; the similarity.py hyperplane-band lesson)
    bloom = F.expr("array(" + ", ".join(f"{w}L" for w in words) + ")")
    out = None
    for p in _bj_positions(key):
        t = (
            F.getbit(
                F.element_at(bloom, (p / F.lit(64)).cast("int") + F.lit(1)),
                p % F.lit(64),
            )
            == F.lit(1)
        )
        out = t if out is None else out & t
    return out


def j_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicitly bloom-prefiltered fact⋈dim join: revenue of
    lineitems belonging to urgent 1995 orders, with the fact side
    reduced AT THE SCAN by an 8 KiB bloom bitmap of the selected
    order keys before any shuffle — the manual form of the semi-join
    reduction / runtime-filter pass (Spark's own
    ``runtime.bloomFilter`` does this adaptively; this operator is
    the deterministic, tunable version a pipeline pins down).

    Scale shape: the build side collects only distinct BIT POSITIONS
    (≤ 2^16 rows however many orders match), the probe is a
    zero-shuffle codegen'd predicate on the scan, and only the
    ~selectivity fraction of the fact survives to the real join —
    which then removes the bloom's false positives, so the result is
    EXACT and the oracle is the plain join. At 100 TB the shuffle
    volume drops ∝ selectivity for 8 KiB of broadcast state.
    """
    from securities_data_pipeline_spark.sources.tables import table

    orders = table(spark, sf_dir, "orders")
    sel = orders.where(
        (F.col("o_orderpriority") == BLOOM_PRIORITY)
        & (F.col("o_orderdate") >= F.lit(BLOOM_D1).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(BLOOM_D2).cast("timestamp"))
    ).select("o_orderkey")
    words = bloom_filter_build(sel, "o_orderkey")
    from securities_data_pipeline_spark.sources.tables import spread

    # project to the 4 needed columns BEFORE spreading — the
    # round-robin repartition locally sorts whatever row it moves, so
    # the narrow row halves its cost (A/B: wide-first 0.39 s vs
    # narrow-first 0.30 s median; no-op at cluster scale either way)
    li = spread(
        table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_returnflag",
            F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
            F.col("l_discount").cast("decimal(18,4)").alias("disc"),
        )
    )
    prefiltered = li.where(bloom_might_contain(F.col("l_orderkey"), words))
    rev = F.col("price") * (F.lit(1).cast("decimal(18,4)") - F.col("disc"))
    return (
        prefiltered.join(
            F.broadcast(sel), prefiltered.l_orderkey == sel.o_orderkey
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


J_BLOOM_SQL = f"""
SELECT l_returnflag,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '{BLOOM_PRIORITY}'
  AND o_orderdate >= TIMESTAMP '{BLOOM_D1} 00:00:00'
  AND o_orderdate < TIMESTAMP '{BLOOM_D2} 00:00:00'
GROUP BY l_returnflag
"""


SKEW_QUERIES = {
    "agg_salted_sum": agg_salted_sum,
    "j_salted_skew_join": j_salted_skew_join,
    "j_bloom_prefilter": j_bloom_prefilter,
}
SKEW_ORACLES = {
    "agg_salted_sum": AGG_SALTED_SQL,
    "j_salted_skew_join": J_SALTED_SQL,
    "j_bloom_prefilter": J_BLOOM_SQL,
}
