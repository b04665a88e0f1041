import re

import pytest

from securities_data_pipeline_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("sdp-tests", shuffle_partitions=8)
    yield s


def rows(df, *order_cols):
    """Collect to sorted plain tuples for comparison."""
    if order_cols:
        df = df.orderBy(*order_cols)
    return [tuple(r) for r in df.collect()]


def oracle_rows(spark, con, name, data_dir, capsys) -> int:
    """Check query ``name`` over ``data_dir`` against its DuckDB oracle
    on ``con`` with ``tools.check_oracle.compare`` (column names, type
    families, row count, values) and return its row count, read off
    the ``PASS`` line."""
    from tools.check_oracle import compare

    verdict = compare(spark, con, [name], data_dir)
    out = capsys.readouterr().out
    assert verdict == ([], []), out
    m = re.search(rf"^PASS {name} rows=(\d+) ", out, re.M)
    assert m, out
    return int(m.group(1))


def yf_frame(dates, cols):
    """A ``yf.download``-shaped fetch: index ``Date``, columns the
    (Price, Ticker) MultiIndex; ``cols`` maps ``(field, ticker)`` to one
    value per date (None = missing). ``.to_csv(path)`` writes the wide
    CSV the vendor's frames serialize to (``Price``/``Ticker``/``Date``
    header rows, then one row per date)."""
    import numpy as np
    import pandas as pd

    values = np.array([[np.nan if v is None else v for v in vs] for vs in cols.values()], dtype="float64")
    return pd.DataFrame(
        values.reshape(len(cols), len(dates)).T,
        index=pd.DatetimeIndex(dates, name="Date"),
        columns=pd.MultiIndex.from_tuples(list(cols), names=["Price", "Ticker"]),
    )


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """Keep the untested Delta-native branch VISIBLE (VERDICT r4 #8):
    every run reports whether delta-spark was importable and how many
    tests were skipped because it wasn't, so the env-blocked merge path
    stays a known gap instead of a forgotten one."""
    from securities_data_pipeline_spark.load import HAVE_DELTA

    skipped = terminalreporter.stats.get("skipped", [])
    delta_skips = sum(
        1 for s in skipped if "delta" in str(getattr(s, "longrepr", "")).lower()
    )
    terminalreporter.write_line(
        f"delta-spark runtime: {'PRESENT' if HAVE_DELTA else 'ABSENT'} "
        f"(env forbids installs); delta-gated skips: {delta_skips} — "
        "_delta_merge stays covered by the parquet-fallback tests only"
    )
