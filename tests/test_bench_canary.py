"""The drift canary (bench.py) must stay frozen and runnable."""

import statistics


def test_canary_refs_cover_all_canaries():
    import bench

    assert set(bench._CANARY_REF) == set(bench._CANARIES)
    assert all(v > 0 for v in bench._CANARY_REF.values())


def test_canaries_run_and_produce_rows(spark):
    import bench

    for name, fn in bench._CANARIES.items():
        assert fn(spark, "/root/testdata/sf0.001").count() > 0, name


def test_canary_ratio_math(spark, monkeypatch):
    import bench

    monkeypatch.setattr(bench, "CANARY_REPEATS", 1)
    timings, ratio = bench._run_canaries(spark, "/root/testdata/sf0.001", 0.1)
    assert set(timings) == set(bench._CANARY_REF)
    expect = statistics.median(
        timings[k] / bench._CANARY_REF[k] for k in timings
    )
    assert abs(ratio - expect) < 0.01
    # at a non-reference SF the ratio is undefined, timings still emit
    t2, r2 = bench._run_canaries(spark, "/root/testdata/sf0.001", 0.001)
    assert r2 is None and set(t2) == set(bench._CANARY_REF)


def test_bench_round_env_pin(monkeypatch):
    """ADVICE r7: a post-driver re-run must be pinnable to its true
    round instead of minting max+1."""
    import bench

    monkeypatch.setenv("SPARK_GRAFT_BENCH_ROUND", "42")
    assert bench._bench_round() == 42
    monkeypatch.delenv("SPARK_GRAFT_BENCH_ROUND")
    assert bench._bench_round() == bench._next_round()


def test_calibration_split_is_consistent():
    """Every calibration-tagged query is a real headline entry, and
    each has a registered production twin in the headline set — the
    split must never orphan a family."""
    import bench

    assert bench.CALIBRATION <= set(bench.HEADLINE)
    twins = {
        "dedup_simhash_wide": "dedup_simhash_wide_capped",
        "mm_near_dedup": "mm_near_dedup_capped",
        "dedup_link_prediction": "dedup_link_prediction_capped",
        "dedup_semdedup": "dedup_semdedup_capped",
    }
    assert set(twins) == bench.CALIBRATION
    for twin in twins.values():
        assert twin in bench.HEADLINE, twin


def test_bench_compare_refuses_mismatched_sidecar(tmp_path, capsys):
    """ADVICE r7: when the wrapper is truncated, the sidecar is only
    substituted if its stamped round matches the wrapper's filename
    round — a re-run's sidecar must not silently pair with another
    round's wrapper."""
    import json
    import sys

    sys.path.insert(0, str(tmp_path.parent))
    from tools.bench_compare import load

    wrapper = tmp_path / "BENCH_r99.json"
    wrapper.write_text(json.dumps({"parsed": None, "tail": ""}))
    sidecar = tmp_path / "BENCH_QUERIES_r99.json"

    # mismatched round: refuse (doc comes back without queries)
    sidecar.write_text(json.dumps({"round": 98, "queries": {"q": 1.0}}))
    doc = load(str(wrapper))
    assert "queries" not in doc
    assert "NOT substituting" in capsys.readouterr().out

    # matching round: substitute
    sidecar.write_text(json.dumps({"round": 99, "queries": {"q": 1.0}}))
    assert load(str(wrapper))["queries"] == {"q": 1.0}

    # legacy sidecar without a stamp (rounds <= 7): substitute
    sidecar.write_text(json.dumps({"queries": {"q": 2.0}}))
    assert load(str(wrapper))["queries"] == {"q": 2.0}


def test_failed_repeat_stops_the_query_and_is_reported(spark, monkeypatch):
    """A repeat that raises keeps the repeats that finished and hands
    back the error, so the record can say how many of the repeats the
    median covers and why the rest are missing."""
    import bench

    monkeypatch.setattr(bench, "REPEATS", 3)
    calls = []

    def flaky(spark, sf_dir):
        calls.append(sf_dir)
        if len(calls) == 2:
            raise RuntimeError("executor lost")
        return spark.range(4)

    samples, n, error = bench._time_query(spark, "sf", "flaky", flaky)
    assert len(calls) == 2 and len(samples) == 1 and n == 4
    assert error == "RuntimeError: executor lost"
    samples, n, error = bench._time_query(spark, "sf", "steady", lambda s, d: s.range(2))
    assert len(samples) == 3 and n == 2 and error is None
