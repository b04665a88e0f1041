"""Property-based tests (hypothesis) for the semantics most likely to
drift: the no-IGNORE-NULLS forward fill and merge-upsert idempotency.

The reference pins these with two golden fixtures
(dw_transformer/models/properties.yml:172-199, tests/load_test.py);
randomized inputs cover the gap between fixtures."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from securities_data_pipeline_spark.functions.candles import ffill_candles
from securities_data_pipeline_spark.load import merge_upsert

# small float pool keeps rows readable in failure output; None rate is
# high on purpose — the fill semantics only matter around nulls
VAL = st.one_of(st.none(), st.floats(min_value=-100, max_value=100, allow_nan=False, width=32))
ROW = st.tuples(VAL, VAL, VAL, VAL, st.one_of(st.none(), st.integers(0, 10**6)))
SERIES = st.lists(ROW, min_size=1, max_size=12)


def _reference_ffill(rows):
    """Oracle in plain Python: previous row's RAW close (may be None)
    fills any null OHLC; volume null -> 0."""
    out = []
    prev_close = None
    for i, (o, h, lo, c, v) in enumerate(rows):
        fill = prev_close if i > 0 else None
        out.append(
            (
                o if o is not None else fill,
                h if h is not None else fill,
                lo if lo is not None else fill,
                c if c is not None else fill,
                v if v is not None else 0,
            )
        )
        prev_close = c  # raw close, NOT the filled one
    return out


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(series=SERIES)
def test_ffill_matches_reference_semantics(spark, series):
    rows = [("SYM", i, *r) for i, r in enumerate(series)]
    df = spark.createDataFrame(
        rows,
        "symbol string, date_stamp int, open float, high float, low float, close float, volume long",
    )
    got = (
        df.select("symbol", "date_stamp", *ffill_candles(order_col="date_stamp"))
        .orderBy("date_stamp")
        .collect()
    )
    expected = _reference_ffill(series)
    for g, e in zip(got, expected):
        for actual, want in zip((g.open, g.high, g.low, g.close, g.volume), e):
            if want is None:
                assert actual is None
            else:
                assert actual is not None and math.isclose(actual, want, rel_tol=1e-6)


KEYED_ROW = st.tuples(st.integers(0, 5), st.integers(0, 3), st.integers(-1000, 1000))
BATCH = st.lists(KEYED_ROW, min_size=0, max_size=15)


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(first=BATCH, second=BATCH)
def test_merge_upsert_idempotent_and_key_unique(spark, tmp_path_factory, first, second):
    """After any sequence of merges: PKs are unique, re-merging the
    last batch changes nothing, and last-write-wins per key."""
    path = str(tmp_path_factory.mktemp("merge") / "t")
    schema = "k1 int, k2 int, v int"

    def merge(batch):
        merge_upsert(spark, spark.createDataFrame(batch, schema), path, ["k1", "k2"])

    def snapshot():
        if not first and not second:
            return {}
        df = spark.read.parquet(path)
        return {(r.k1, r.k2): r.v for r in df.collect()}

    if first:
        merge(first)
    if second:
        merge(second)
    state = snapshot()
    # key-uniqueness is implied by dict shape; check row count matches
    if first or second:
        assert spark.read.parquet(path).count() == len(state)
    # replay the last non-empty batch: no change
    last = second or first
    if last:
        merge(last)
        assert snapshot() == state
    # last-write-wins: every key present in `second` has a value from
    # `second` (in-batch ties resolved by the sink's keep-last dedupe)
    for k1, k2, _ in second:
        assert (k1, k2) in state


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    vecs=st.lists(
        st.lists(
            st.floats(min_value=-1, max_value=1, allow_nan=False, width=32),
            min_size=64,
            max_size=64,
        ),
        min_size=1,
        max_size=6,
        unique_by=lambda v: tuple(v),
    )
)
def test_hyperplane_band_keys_properties(spark, vecs):
    """Band keys are deterministic, bounded by band width, and
    identical vectors always share every band key (the no-false-
    -negative-on-exact-dup LSH guarantee)."""
    from securities_data_pipeline_spark.operators.similarity import (
        ANN_BANDS,
        ANN_BITS,
        hyperplane_band_keys,
    )

    rows = [(i, v) for i, v in enumerate(vecs)] + [(len(vecs), vecs[0])]  # dup of vec 0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = hyperplane_band_keys(emb, bits=ANN_BITS, bands=ANN_BANDS).collect()
    per_vec = {}
    for r in got:
        assert 0 <= r.key < (1 << (ANN_BITS // ANN_BANDS))
        per_vec.setdefault(r.vec_id, {})[r.band] = r.key
    assert all(len(b) == ANN_BANDS for b in per_vec.values())
    # exact duplicate vectors collide on EVERY band
    assert per_vec[0] == per_vec[len(vecs)]


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    tokens=st.lists(st.integers(min_value=1, max_value=900), min_size=1, max_size=30),
    seq_len=st.sampled_from([64, 512]),
)
def test_pack_sequences_reconstructs_token_stream(spark, tokens, seq_len):
    """For any document lengths, each shard's (pack_id, offset) slots
    form one gapless token stream in hash order."""
    from securities_data_pipeline_spark.operators.sampling import pack_sequences

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(tokens)], "doc_id long, n_tokens long"
    )
    out = pack_sequences(df, "doc_id", "n_tokens", seq_len=seq_len, n_shards=3)
    by_shard = {}
    for r in out.collect():
        by_shard.setdefault(r.shard, []).append(r)
    assert sum(len(v) for v in by_shard.values()) == len(tokens)
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r.pack_id * seq_len + r.offset)
        pos = 0
        for r in shard_rows:
            assert r.pack_id * seq_len + r.offset == pos
            pos += r.n_tokens


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(keys=st.sets(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=60))
def test_global_shuffle_is_permutation_for_any_keys(spark, keys):
    from securities_data_pipeline_spark.operators.sampling import global_shuffle_order

    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    rows = global_shuffle_order(df, "doc_id", n_buckets=4).collect()
    assert sorted(r.position for r in rows) == list(range(len(keys)))
    assert {r.doc_id for r in rows} == keys


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=2000),   # n tokens
            st.integers(min_value=0, max_value=2000),   # stopwords
            st.integers(min_value=0, max_value=20000),  # chars
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_quality_integer_rounding_matches_exact_fraction(spark, cases):
    """quality_score's int64 floor-division rounding must equal exact
    rational half-up rounding at 6 dp for ANY token/stopword/char
    counts — the tie-freedom that made it cross-engine deterministic."""
    from fractions import Fraction

    from securities_data_pipeline_spark.operators.textops import STOPWORDS, quality_score

    rows = []
    for i, (n, sw, chars) in enumerate(cases):
        sw = min(sw, n)
        # synthesize a text with exactly n tokens, sw stopwords, and
        # (approximately) chars non-space chars: token lengths don't
        # matter beyond their sum, so pad one token
        toks = [STOPWORDS[0]] * sw + ["x"] * (n - sw)
        base = sum(len(t) for t in toks)
        if chars > base:
            toks[-1] = "x" * (len(toks[-1]) + (chars - base)) if n > sw else toks[-1]
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.q for r in df.select("doc_id", quality_score().alias("q")).collect()}
    for i, text in rows:
        toks = text.split()
        n, sw = len(toks), sum(t in STOPWORDS for t in toks)
        chars = sum(len(t) for t in toks)
        num = (
            min(8 * n * n, 800 * n)
            + min(3000 * sw, 600 * n)
            + min(75 * chars, 600 * n)
        )
        den = 2000 * n
        micro = (2 * num * 1_000_000 + den) // (2 * den)  # exact half-up
        assert got[i] == micro / 1_000_000.0


# ---------------------------------------------------------------------------
# warehouse merge sink: model-based upsert semantics

BATCH = st.lists(
    st.tuples(st.integers(0, 6), st.floats(0, 100, allow_nan=False, width=32)),
    min_size=1,
    max_size=6,
)


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.tuples(BATCH, st.booleans()), min_size=1, max_size=4))
def test_jdbc_merge_matches_dict_model(spark, script):
    """Any sequence of merge/replace batches must leave the warehouse
    equal to the obvious dict model (replace = rebuild, merge = update
    per PK; intra-batch dedup keeps the max-by-value row)."""
    import duckdb

    from securities_data_pipeline_spark.warehouse import JdbcMergeSink

    con = duckdb.connect()
    con.execute("CREATE TABLE t (k BIGINT, v DOUBLE)")

    def stager(df, stage_table):
        con.register("_p", df.toPandas())
        con.execute(f'CREATE OR REPLACE TABLE "{stage_table}" AS SELECT * FROM _p')

    sink = JdbcMergeSink(url="x", connection_factory=lambda: con, stager=stager)
    model: dict[int, float] = {}
    for batch, replace in script:
        df = spark.createDataFrame(batch, "k long, v double")
        sink.write(df, "t", ["k"], mode="replace" if replace else "merge")
        staged = {}
        for k, v in batch:  # dedupe_on_keys keeps max by remaining cols
            staged[k] = max(v, staged[k]) if k in staged else v
        if replace:
            model = dict(staged)
        else:
            model.update(staged)
        got = dict(con.execute("SELECT k, v FROM t").fetchall())
        assert got.keys() == model.keys()
        for k in model:
            assert math.isclose(got[k], model[k], rel_tol=1e-6), (k, got[k], model[k])


# ---------------------------------------------------------------------------
# connected components: star contraction ≡ label propagation

EDGE = st.tuples(st.integers(0, 14), st.integers(0, 14))


@settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=st.lists(EDGE, min_size=0, max_size=25))
def test_star_contraction_equals_label_propagation(spark, edges):
    """The two CC implementations share one contract; on arbitrary
    graphs (self-loops, duplicates, both orientations, isolated nodes)
    their labelings must be identical — and equal to a plain Python
    union-find oracle."""
    from securities_data_pipeline_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    nodes = list(range(15))
    ndf = spark.createDataFrame([(n,) for n in nodes], "doc_id long")
    edf = spark.createDataFrame(
        edges or [(0, 0)], "doc_a long, doc_b long"
    )

    # union-find oracle
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: min(m for m in nodes if find(m) == find(n)) for n in nodes}

    star = {r.doc_id: r.component for r in connected_components_star(edf, ndf).collect()}
    prop = {r.doc_id: r.component for r in connected_components(edf, ndf, max_iter=40).collect()}
    assert star == want
    assert prop == want


# ---------------------------------------------------------------------------
# MMR greedy core (operators/similarity._mmr_greedy) — pure-integer
# selection, so its invariants are checkable without Spark


def _random_mmr_input(draw):
    n = draw(st.integers(2, 12))
    ids = list(range(n))
    qs = {i: draw(st.integers(-(10**6), 10**6)) for i in ids}
    psim = {
        (a, b): 0 for a in ids for b in ids if a != b
    }
    # symmetric pair sims (cosine is symmetric)
    for a in ids:
        for b in ids:
            if a < b:
                v = draw(st.integers(-(10**6), 10**6))
                psim[(a, b)] = v
                psim[(b, a)] = v
    k = draw(st.integers(1, n))
    return qs, psim, k


@given(st.data())
@settings(max_examples=60, deadline=None)
def test_mmr_greedy_invariants(data):
    from securities_data_pipeline_spark.operators.similarity import _mmr_greedy

    qs, psim, k = _random_mmr_input(data.draw)
    out = _mmr_greedy(qs, psim, k)
    picks = [d for _, d, _ in out]
    # exactly k distinct picks, ranks 1..k
    assert len(picks) == k and len(set(picks)) == k
    assert [r for r, _, _ in out] == list(range(1, k + 1))
    # first pick = argmax qsim with lowest-id tie-break
    top = max(qs.values())
    assert picks[0] == min(i for i in qs if qs[i] == top)
    # greedy optimality at every step: the pick's recorded score beats
    # (or ties, with a lower id) every other candidate's score computed
    # against the same already-selected prefix
    for step, (r, d, sc) in enumerate(out):
        sel = picks[:step]
        assert sc == 7 * qs[d] - 3 * (max((psim[(d, s)] for s in sel), default=0))
        for other in qs:
            if other in picks[: step + 1]:
                continue
            mx = max((psim[(other, s)] for s in sel), default=0)
            osc = 7 * qs[other] - 3 * mx
            assert osc < sc or (osc == sc and d < other)


@given(st.data())
@settings(max_examples=30, deadline=None)
def test_mmr_equal_pairsims_degenerates_to_topk(data):
    """With all pairwise sims equal, the diversity penalty is the same
    constant for every candidate at every step, so MMR must reduce to
    plain top-k by relevance (lowest id on ties)."""
    from securities_data_pipeline_spark.operators.similarity import _mmr_greedy

    n = data.draw(st.integers(2, 10))
    const = data.draw(st.integers(-(10**5), 10**5))
    qs = {i: data.draw(st.integers(-(10**6), 10**6)) for i in range(n)}
    psim = {(a, b): const for a in range(n) for b in range(n) if a != b}
    k = data.draw(st.integers(1, n))
    picks = [d for _, d, _ in _mmr_greedy(qs, psim, k)]
    expect = sorted(qs, key=lambda i: (-qs[i], i))[:k]
    assert picks == expect


EDGE_SET = st.sets(
    st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda p: p[0] != p[1]),
    min_size=0,
    max_size=40,
)


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(raw=EDGE_SET)
def test_triangle_stats_matches_bruteforce_on_random_graphs(spark, raw):
    """triangle_stats vs pure-Python brute force on arbitrary small
    graphs — degree-orientation correctness doesn't depend on the LSH
    edge distribution, so it must hold on adversarial random inputs
    (multi-edges collapsed, self-loops excluded by construction)."""
    from securities_data_pipeline_spark.operators.dedup import triangle_stats

    edges = {(min(a, b), max(a, b)) for a, b in raw}
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want_wedges = sum(len(v) * (len(v) - 1) // 2 for v in adj.values())
    want_tris = sum(len(adj[a] & adj[b]) for a, b in edges) // 3

    if edges:
        df = spark.createDataFrame(sorted(edges), "doc_a long, doc_b long")
    else:
        df = spark.createDataFrame([], "doc_a long, doc_b long")
    r = triangle_stats(df).collect()[0]
    assert r.n_wedges == want_wedges
    assert r.n_triangles == want_tris
    if want_wedges:
        assert abs(r.transitivity - 3.0 * want_tris / want_wedges) < 1e-12
    else:
        assert r.transitivity is None


# ---------------------------------------------------------------------------
# t-closeness (round 9): randomized behavior vs a brute-force reference

_TC_TYPES = st.sampled_from(["a", "b", "c", None])
_TC_USER = st.lists(
    st.tuples(_TC_TYPES, st.integers(1, 5)), min_size=1, max_size=3
)
_TC_CORPUS = st.lists(_TC_USER, min_size=1, max_size=7)


def _tc_reference(users):
    """Brute-force t-closeness histogram in plain Python, mirroring
    the operator's documented semantics exactly."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    sigs = {}
    for uid, typed in enumerate(users, start=1):
        counts = {}
        for t, n in typed:
            key = "(null)" if t is None else t
            counts[key] = counts.get(key, 0) + n
        bucket = {
            t: 2 ** int(math.floor(math.log2(n))) for t, n in counts.items()
        }
        sig = "|".join(sorted(f"{t}:{bucket[t]}" for t in counts))
        dominant = max(
            counts, key=lambda t: (counts[t], t)
        )  # count first, type tiebreak = max of '0-padded:type'
        sigs[uid] = (sig, dominant)
    classes = {}
    for uid, (sig, dom) in sigs.items():
        classes.setdefault(sig, []).append(dom)
    glob = {}
    for _, dom in sigs.values():
        glob[dom] = glob.get(dom, 0) + 1
    n_total = len(sigs)
    hist = {}
    for sig, doms in classes.items():
        k = len(doms)
        num = 0
        for v, g in glob.items():
            cnt = sum(1 for d in doms if d == v)
            num += abs(cnt * n_total - g * k)
        t = num / (2.0 * k * n_total)
        b = int(math.floor(t * 20))
        ns, nu, mx = hist.get(b, (0, 0, -1.0))
        hist[b] = (ns + 1, nu + k, max(mx, t))
    return {
        b: (ns, nu, float(Decimal(mx).quantize(Decimal("1e-6"), ROUND_HALF_UP)))
        for b, (ns, nu, mx) in hist.items()
    }


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(users=_TC_CORPUS)
def test_t_closeness_matches_bruteforce(spark, tmp_path_factory, users):
    import datetime as dt

    from securities_data_pipeline_spark.plans.analytics import a_t_closeness

    tmp = tmp_path_factory.mktemp("tc")
    rows, eid = [], 0
    for uid, typed in enumerate(users, start=1):
        for t, n in typed:
            for i in range(n):
                rows.append(
                    (eid, dt.datetime(2024, 1, 1, 0, 0, eid % 60), uid, t,
                     1.0, "{}")
                )
                eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(str(tmp / "events.parquet"))
    got = {
        r.t_bucket: (r.n_sets, r.n_users, r.max_t)
        for r in a_t_closeness(spark, str(tmp)).collect()
    }
    assert got == _tc_reference(users)


# ---------------------------------------------------------------------------
# wide→long price transform against a plain-pandas twin of the reference

_TICKERS = ("AAA", "BF.B", "BRK.B", "JPY=X", "CHF=X", "EURUSD=X", "USDJPY=X")
_OHLCV = ("Open", "High", "Low", "Close", "Volume")
_PRICE = st.one_of(st.none(), st.integers(1, 4000).map(lambda i: i / 4))
_VOLUME = st.one_of(st.none(), st.integers(0, 10**9))


@st.composite
def _wide_price_frames(draw):
    """``(n_days, {(field, ticker): values})``: every column is either
    all-null (a failed download) or sparse; tickers may miss fields; a
    stray ``Adj Close`` column is always all-null; at least one OHLCV
    column exists (a frame without any keeps the no-ticker error path,
    which has no pandas counterpart)."""
    n = draw(st.integers(0, 4))
    keys = draw(
        st.lists(
            st.tuples(st.sampled_from(_OHLCV + ("Adj Close",)), st.sampled_from(_TICKERS)),
            min_size=1,
            max_size=10,
            unique=True,
        ).filter(lambda ks: any(f != "Adj Close" for f, _ in ks))
    )
    cols = {}
    for field, ticker in keys:
        if field == "Adj Close" or draw(st.booleans()):
            cols[(field, ticker)] = [None] * n
        else:
            cell = _VOLUME if field == "Volume" else _PRICE
            cols[(field, ticker)] = draw(st.lists(cell, min_size=n, max_size=n))
    return n, cols


def _reference_transform_prices(wide, asset_category: str) -> list[tuple]:
    """transform.py:72-90 in plain pandas: empty short-circuit,
    ``dropna(axis=1, how="all")``, ``stack(future_stack=True)``, strip
    ``=X``, whole-value FX recode. Returns long rows in the Spark
    output's column order, NaN as None."""
    import pandas as pd

    if wide.empty:
        return []
    df = wide.dropna(axis=1, how="all").stack("Ticker", future_stack=True).reset_index()
    df = df.reindex(columns=["date", "Ticker", *_OHLCV])
    df["date"] = df["date"].dt.date
    if asset_category == "fx":
        df["Ticker"] = (
            df["Ticker"].str.replace("=X", "").replace({"CHF": "USDCHF", "CAD": "USDCAD", "JPY": "USDJPY"})
        )
    return [
        (date, symbol, *(None if pd.isna(v) else v for v in ohlc), None if pd.isna(vol) else int(vol))
        for date, symbol, *ohlc, vol in df.itertuples(index=False)
    ]


def _row_key(row):
    return tuple((v is None, v) for v in row)


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(frame=_wide_price_frames(), asset_category=st.sampled_from(["fx", "sp_stocks"]))
def test_transform_prices_matches_pandas_twin(spark, tmp_path_factory, frame, asset_category):
    """The wide fetch written as the vendor's CSV, read back by the CSV
    source's melt and transformed, equals the reference's pandas
    transform of the same frame."""
    import datetime as dt

    from securities_data_pipeline_spark.functions.cleaning import transform_prices
    from securities_data_pipeline_spark.sources.wide_csv import read_wide_price_csv
    from tests.conftest import yf_frame

    n, cols = frame
    wide_pd = yf_frame([dt.datetime(2025, 1, 1) + dt.timedelta(days=i) for i in range(n)], cols)
    path = str(tmp_path_factory.mktemp("twin") / "fetch.csv")
    wide_pd.to_csv(path)

    got = [tuple(r) for r in transform_prices(read_wide_price_csv(spark, path), asset_category).collect()]
    want = _reference_transform_prices(wide_pd.rename_axis("date"), asset_category)
    assert sorted(got, key=_row_key) == sorted(want, key=_row_key)
