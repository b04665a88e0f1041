"""CI pin of the adversarial relational fuzz (tools/fuzz_relational.py).

The full fuzzer drives garbage orders/lineitem through the S6
quarantine ingest and runs the ~60-query relational surface on the
validated output; that's a multi-minute tool run. This pins the two
pieces that matter:

- the ingest pipeline itself: every garbage class quarantined with the
  right violation tag, every clean and legit-nasty row kept, the
  orders PK deduped deterministically;
- the two queries the first sweep broke on LEGIT boundary rows
  (a fully-discounted month zeroes q14's revenue denominator; a
  single-row group zeroes a8's variance) — both must emit NULL, the
  SQL-undefined answer, instead of an ANSI divide-by-zero abort.
"""

from __future__ import annotations

import os
import random

import duckdb
import pytest

import __spark_entry__ as entry
from tests.conftest import oracle_rows
from tools.fuzz_relational import (
    _lineitem_rows,
    _orders_rows,
    validated_facts,
)

CLEAN_DIR = os.environ.get("SPARK_GRAFT_FUZZ_CLEAN", "/root/testdata/sf0.001")
QUERIES = ["a8_corr_moments", "q14_promo_revenue", "w2_moving_avg", "j1_anti_join"]


@pytest.fixture(scope="module")
def fuzz_dirs(spark, tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    raw = str(tmp_path_factory.mktemp("rel_raw"))
    out = str(tmp_path_factory.mktemp("rel_valid"))
    rng = random.Random(23)
    expected = {}
    for name, gen in (("orders", _orders_rows), ("lineitem", _lineitem_rows)):
        tbl = pq.read_table(os.path.join(CLEAN_DIR, f"{name}.parquet"))
        clean = [
            tuple(col[i].as_py() for col in tbl.columns) for i in range(tbl.num_rows)
        ]
        rows, n_valid = gen(clean, rng)
        expected[name] = n_valid
        cols = list(zip(*rows))
        pq.write_table(
            pa.table(
                {f.name: pa.array(cols[i], f.type) for i, f in enumerate(tbl.schema)}
            ),
            os.path.join(raw, f"{name}.parquet"),
        )
    report = validated_facts(spark, raw, out)
    # queries also need the clean dims beside the validated facts
    import shutil

    for t in ("customer", "part", "supplier", "nation", "region"):
        shutil.copy(
            os.path.join(CLEAN_DIR, f"{t}.parquet"), os.path.join(out, f"{t}.parquet")
        )
    return out, report, expected


def test_quarantine_catches_every_garbage_class(fuzz_dirs):
    _, report, expected = fuzz_dirs
    for name, (n_valid, n_quar, tags) in report.items():
        assert n_valid == expected[name], f"{name}: {n_valid} != {expected[name]}"
        assert n_quar > 0
    assert "pk_not_null" in report["orders"][2]
    assert "price_sane" in report["orders"][2]
    assert "date_in_range" in report["orders"][2]
    assert "discount_in_unit" in report["lineitem"][2]
    assert "qty_sane" in report["lineitem"][2]


@pytest.mark.parametrize("name", QUERIES)
def test_validated_garbage_matches_oracle(spark, fuzz_dirs, name, capsys):
    out, _, _ = fuzz_dirs
    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{out}/{t}.parquet/*.parquet'"
        )
    for t in ("customer", "part", "supplier", "nation", "region"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{out}/{t}.parquet'")
    n = oracle_rows(spark, con, name, out, capsys)
    # j1 is legitimately empty at sf0.001 (every customer has an
    # order); the match above still pins its NOT EXISTS ↔ left_anti
    # NULL-key agreement
    if name != "j1_anti_join":
        assert n > 0


def test_degenerate_groups_yield_null_not_abort(spark, fuzz_dirs):
    """The fuzz-found zero-denominator classes: a8's single-row ''
    returnflag group has zero variance → NULL corr/beta/intercept;
    q14's fully-discounted 2099-12 month has zero revenue → NULL
    promo_pct. Both previously aborted the whole query under ANSI."""
    out, _, _ = fuzz_dirs
    a8 = {r.l_returnflag: r for r in entry.queries()["a8_corr_moments"](spark, out).collect()}
    assert "" in a8 and a8[""].corr_qty_price is None and a8[""].beta is None
    q14 = {
        str(r.ship_month): r.promo_pct
        for r in entry.queries()["q14_promo_revenue"](spark, out).collect()
    }
    assert q14["2099-12-01"] is None
