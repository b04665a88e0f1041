"""The Spark-vs-DuckDB comparison and the local stand-in for the
driver's correctness gate.

``compare`` runs each named ``queries()`` entry on Spark and its
``oracle_sql()`` twin on a DuckDB connection over the same parquet
tables, and checks, in order: the column-name set, that every output
column is scalar, the type family of each column, the row count, and
the order-insensitive values (columns sorted by name, rows sorted,
floats rounded to 9 significant digits). It prints one ``PASS``,
``FAIL``, ``ERROR`` (either engine raised) or ``SKIP`` (no query or no
oracle under that name) line per query. ``main`` is the gate: every
registered query over one testdata directory. The five
``tools/fuzz_*.py`` axes run the same ``compare`` over their
adversarial tables.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time

sys.path.insert(0, ".")


def canon(rows, cols):
    """Canonicalize result rows: sort columns by name, normalize cells."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if v is None:
            return "∅"
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return f"{v:.9g}"
        return str(v)

    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def type_family(t: str) -> str:
    """Collapse an engine type name to a comparison family.

    The driver's hasher is type-sensitive: DuckDB ``HUGEINT`` (int128,
    from SUM over integers) canonicalizes differently from Spark's
    BIGINT even when the values are equal (round-3 driver failures
    t_pack_sequences / t_sample_stratified / t_train_split). HUGEINT
    is therefore its own family so the local gate reproduces the
    driver's strictness; int widths below 64 bits are equivalent.
    """
    t = t.lower().strip()
    if t.startswith(("decimal", "numeric")):
        return "decimal"
    if "hugeint" in t or "int128" in t:
        return "hugeint"
    if t in ("tinyint", "smallint", "int", "integer", "bigint", "long",
             "short", "byte", "utinyint", "usmallint", "uinteger", "ubigint"):
        return "int"
    if t in ("float", "double", "real"):
        return "float"
    if t in ("varchar", "string", "text", "char"):
        return "str"
    if t in ("bool", "boolean"):
        return "bool"
    if t.startswith("timestamp"):
        return "timestamp"
    if t == "date":
        return "date"
    if t.startswith(("array", "list", "integer[]", "bigint[]", "varchar[]", "double[]", "float[]")) or t.endswith("[]"):
        return "array"
    if t.startswith(("struct", "row", "map")):
        return "nested"
    if t in ("binary", "blob", "bytea"):
        return "binary"
    return t


def main() -> int:
    import duckdb

    import __spark_entry__ as e
    from securities_data_pipeline_spark.session import get_spark
    from securities_data_pipeline_spark.sources.tables import TABLE_NAMES

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or list(e.queries())

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return report(*compare(spark, con, names, sf_dir))


def _mismatch(scols, stypes, srows, ocols, otypes, orows) -> str | None:
    """The first way a Spark result differs from its oracle's, or None."""
    if sorted(scols) != sorted(ocols):
        return f"columns {sorted(scols)} != {sorted(ocols)}"
    # DRIVER CONTRACT (VERDICT r9 item 1): the driver's canonicalizer
    # sorts result frames in pandas, which raises ``TypeError:
    # unhashable type`` on array/map/struct cells — sim_kmeans_train/
    # sim_pq_train shipped driver-RED in r9 because this gate
    # stringified cells and passed them. A registered query output must
    # therefore be scalar columns only.
    nonscalar = [
        (c, t)
        for c, t in list(stypes.items()) + list(zip(ocols, otypes))
        if type_family(t) in ("array", "nested")
    ]
    if nonscalar:
        return (
            f"non-scalar output columns {nonscalar} — the driver "
            "canonicalizer cannot sort array/map/struct cells (flatten or "
            "stringify them)"
        )
    tmism = [
        (c, stypes[c], ot)
        for c, ot in zip(ocols, otypes)
        if type_family(stypes[c]) != type_family(ot)
    ]
    if tmism:
        return f"type-family mismatch (driver hasher is type-sensitive): {tmism}"
    if len(srows) != len(orows):
        return f"rowcount {len(srows)} != {len(orows)}"
    cs, co = canon(srows, scols), canon(orows, ocols)
    if cs != co:
        bad = next(i for i, (a, b) in enumerate(zip(cs, co)) if a != b)
        return (
            f"values differ, first at sorted-row {bad}:\n"
            f"  spark:  {cs[bad]}\n  oracle: {co[bad]}"
        )
    return None


def compare(spark, con, names, data_dir) -> tuple[list[str], list[str]]:
    """Run each query in ``names`` on Spark over ``data_dir`` and its
    oracle on the DuckDB connection ``con``; print one verdict line per
    query and return the names that FAILed and the names that ERRORed."""
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    failures, errors = [], []
    for name in names:
        if name not in qs or name not in oracles:
            print(f"SKIP {name}: {'no oracle' if name in qs else 'not registered'}")
            continue
        t0 = time.time()
        engine = "spark"
        try:
            sdf = qs[name](spark, data_dir)
            scols, stypes = sdf.columns, dict(sdf.dtypes)
            srows = [tuple(r) for r in sdf.collect()]
            engine = "duckdb"
            res = con.sql(oracles[name])
            ocols, otypes = list(res.columns), [str(t) for t in res.types]
            orows = res.fetchall()
        except Exception as ex:  # noqa: BLE001 - report and continue
            errors.append(name)
            print(f"ERROR {name}: {engine} {type(ex).__name__}: {str(ex)[:250]}")
            continue
        problem = _mismatch(scols, stypes, srows, ocols, otypes, orows)
        if problem:
            failures.append(name)
            print(f"FAIL {name}: {problem}")
        else:
            print(f"PASS {name} rows={len(srows)} ({time.time() - t0:.1f}s)")
    return failures, errors


def report(failures, errors) -> int:
    """Print the run's totals; the exit status is 1 on any FAIL or ERROR."""
    print(f"\n{len(failures)} failures, {len(errors)} errors")
    if failures:
        print("failed:", failures)
    if errors:
        print("errored:", errors)
    return 1 if failures or errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
