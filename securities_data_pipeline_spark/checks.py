"""Declarative data-quality framework.

One mechanism covering both of the reference's validation layers:

- pandera stage schemas with ``lazy=True`` error collection
  (py_pipeline/validate.py:9-85, raises ``SchemaErrors`` with *all*
  violations — asserted by tests/transform_test.py:23-29);
- dbt's declarative tests: ``not_null``, ``unique``,
  ``accepted_values``, bidirectional ``relationships``
  (dw_transformer/models/properties.yml:10-52,96-170), which dbt
  compiles to SQL and runs **in production on every pipeline run**.

A declared check suite compiles to ONE keyed pass (``run_checks``):
each model grouped by its key, the keyed sides outer-joined, one
aggregate of violation counts — no collect of data rows, only the
counts (plus a bounded sample, fetched only for a failing check), so
the framework is safe on 100 TB tables: one keyed pass per suite,
tiny driver results.
"""

from __future__ import annotations

import functools
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class SchemaErrors(Exception):
    """All violations from one validation pass (pandera parity:
    lazy=True collects every failure before raising)."""

    def __init__(self, errors: list[str]):
        self.errors = errors
        super().__init__("; ".join(errors))


@dataclass
class CheckResult:
    name: str
    passed: bool
    violations: int
    sample: list = field(default_factory=list)


# ---------------------------------------------------------------------------
# structural validation (pandera-schema parity)


def validate_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Structural validate + coerce against a declared StructType.

    Collects *all* problems (missing columns, un-coercible types,
    null-constraint breaches) then raises ``SchemaErrors`` — matching
    pandera's lazy validation. On success returns the DataFrame cast to
    the declared types with columns in schema order and extra columns
    dropped (pandera ``coerce=True`` semantics, py_pipeline/validate.py).
    """
    errors: list[str] = []
    have = {f.name for f in df.schema.fields}
    for f in schema.fields:
        if f.name not in have:
            errors.append(f"missing column: {f.name}")
    if errors:
        raise SchemaErrors(errors)

    out = df.select(*[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields])

    # nullability: one aggregate pass over all non-nullable columns
    required = [f.name for f in schema.fields if not f.nullable]
    if required:
        counts = out.agg(
            *[F.count(F.when(F.col(c).isNull(), 1)).alias(c) for c in required]
        ).first()
        for c in required:
            if counts[c]:
                errors.append(f"null values in non-nullable column {c}: {counts[c]} rows")
    if errors:
        raise SchemaErrors(errors)
    return out


# ---------------------------------------------------------------------------
# row-level declarative checks (dbt-test parity)


def check_not_null(df: DataFrame, column: str, sample: int = 5) -> CheckResult:
    """dbt ``not_null`` (properties.yml:26-52). The sample carries the
    offending ROWS (the null column itself is uninformative) so the
    diagnostic identifies which records broke the constraint."""
    return run_checks({"df": df}, [("df", "not_null", column)], sample=sample)[0]


def check_unique(df: DataFrame, columns: str | list[str], sample: int = 5) -> CheckResult:
    """dbt ``unique`` (properties.yml:11-21): group by key, count>1.
    Violations count duplicated KEYS (the null key is a key too); the
    sample carries each duplicated key with its row count ``n``."""
    return run_checks({"df": df}, [("df", "unique", columns)], sample=sample)[0]


def check_accepted_values(
    df: DataFrame, column: str, values: list, sample: int = 5
) -> CheckResult:
    """dbt ``accepted_values`` (properties.yml:117-142): a null is not
    an accepted value. The sample carries distinct offending values."""
    return run_checks(
        {"df": df}, [("df", "accepted_values", column, values)], sample=sample
    )[0]


def check_relationships(
    child: DataFrame, child_key: str, parent: DataFrame, parent_key: str, sample: int = 5
) -> CheckResult:
    """dbt ``relationships`` (properties.yml:100-107,153-159): every
    non-null child key must exist in the parent. Violations count child
    ROWS; the sample carries distinct orphan keys as ``k``."""
    return run_checks(
        {"child": child, "parent": parent},
        [("child", "relationships", child_key, "parent", parent_key)],
        sample=sample,
    )[0]


def _key_cols(columns: str | list[str]) -> tuple[str, ...]:
    return (columns,) if isinstance(columns, str) else tuple(columns)


def _check_name(kind: str, args: Sequence) -> str:
    if kind == "unique":
        return f"unique({','.join(_key_cols(args[0]))})"
    if kind == "relationships":
        return f"relationships({args[0]}->{args[2]})"
    return f"{kind}({args[0]})"


def _bad_row(kind: str, args: Sequence) -> Column:
    """Row predicate of the row-level checks: true on an offending row."""
    col = F.col(args[0])
    if kind == "not_null":
        return col.isNull()
    return ~col.isin(args[1]) | col.isNull()  # accepted_values


def _offenders(models: dict[str, DataFrame], model: str, kind: str, args: Sequence) -> DataFrame:
    """The offending rows a failing check samples from."""
    df = models[model]
    if kind == "not_null":
        return df.where(_bad_row(kind, args))
    if kind == "accepted_values":
        return df.where(_bad_row(kind, args)).select(args[0]).distinct()
    if kind == "unique":
        cols = _key_cols(args[0])
        return df.groupBy(*cols).agg(F.count(F.lit(1)).alias("n")).where(F.col("n") > 1)
    child_key, parent, parent_key = args  # relationships
    return (
        df.select(F.col(child_key).alias("k"))
        .where(F.col("k").isNotNull())
        .join(models[parent].select(F.col(parent_key).alias("k")).distinct(), "k", "left_anti")
        .distinct()
    )


def _suite_keys(suite: Sequence[tuple]) -> dict[str, tuple[str, ...]]:
    """The grouping key of each model: the columns its ``unique`` and
    ``relationships`` checks name. One key per model, so every keyed
    check of a model reads the same groups."""
    keys: dict[str, tuple[str, ...]] = {}

    def claim(model: str, cols: tuple[str, ...]) -> None:
        if keys.setdefault(model, cols) != cols:
            raise ValueError(f"check suite keys {model} by both {keys[model]} and {cols}")

    for model, kind, *args in suite:
        if kind == "unique":
            claim(model, _key_cols(args[0]))
        elif kind == "relationships":
            claim(model, (args[0],))
            claim(args[1], (args[2],))
    if len({len(k) for k in keys.values()}) > 1:
        raise ValueError(f"check suite joins keys of different widths: {keys}")
    return keys


def run_checks(
    models: dict[str, DataFrame],
    suite: Sequence[tuple],
    *,
    sample: int = 5,
    raise_on_failure: bool = False,
) -> list[CheckResult]:
    """Check-suite runner — the ``dbt test`` step of the flow
    (py_pipeline/orchestration.py:274). ``suite`` declares one check
    per tuple over the named ``models``, as dbt's properties.yml does:

    - ``(model, "not_null", column)``
    - ``(model, "unique", column | [columns])``
    - ``(model, "accepted_values", column, values)``
    - ``(model, "relationships", column, parent_model, parent_column)``

    The whole suite is ONE keyed pass. Each model is grouped by its key
    (``_suite_keys``) into per-key row counts plus conditional counts
    for its ``not_null``/``accepted_values`` checks; the keyed models
    are full-outer-joined on the key value (one suite, one key domain:
    the conformed dimension key) and one aggregate reads every
    violation count off the joined groups:

    - ``unique`` counts the model's groups with ``n > 1``;
    - ``relationships`` sums the child's ``n`` over non-null keys the
      parent lacks (a null key never matches, as in a left-anti join);
    - ``not_null``/``accepted_values`` sum their conditional counts.

    A model without a key is one global aggregate, cross-joined onto
    the same one-row result. Samples are fetched only for failing
    checks, from the same predicates."""
    keys = _suite_keys(suite)
    width = len(next(iter(keys.values()), ()))
    kcols = [f"__k{p}" for p in range(width)]
    idx = {m: i for i, m in enumerate(dict.fromkeys([d[0] for d in suite] + list(keys)))}
    conditional: dict[str, list[Column]] = {m: [] for m in idx}
    totals: list[Column] = []
    for j, (model, kind, *args) in enumerate(suite):
        i = idx[model]
        if kind in ("not_null", "accepted_values"):
            # a keyless model's count is final; a keyed one's is per group
            count = f"m{i}_v{j}" if model in keys else f"v{j}"
            conditional[model].append(F.count(F.when(_bad_row(kind, args), 1)).alias(count))
            total = F.sum(count)
        elif kind == "unique":
            total = F.count(F.when(F.col(f"m{i}_n") > 1, 1))
        elif kind == "relationships":
            orphan = F.col(kcols[0]).isNotNull() & F.col(f"m{idx[args[1]]}_n").isNull()
            total = F.sum(F.when(orphan, F.col(f"m{i}_n")))
        else:
            raise ValueError(f"unknown check kind: {kind}")
        if model in keys:
            totals.append(F.coalesce(total, F.lit(0)).alias(f"v{j}"))

    parts: list[DataFrame] = []
    keyed = [
        models[m]
        .groupBy(*[F.col(c).alias(k) for c, k in zip(keys[m], kcols)])
        .agg(F.count(F.lit(1)).alias(f"m{idx[m]}_n"), *conditional[m])
        for m in keys
    ]
    if keyed:
        parts.append(functools.reduce(lambda a, b: a.join(b, kcols, "full"), keyed).agg(*totals))
    parts += [models[m].agg(*conditional[m]) for m in idx if m not in keys]
    counts = functools.reduce(DataFrame.crossJoin, parts).first()

    results = []
    for j, (model, kind, *args) in enumerate(suite):
        n = int(counts[f"v{j}"])
        rows = _offenders(models, model, kind, args).limit(sample).collect() if n else []
        results.append(CheckResult(_check_name(kind, args), n == 0, n, rows))
    failed = [c for c in results if not c.passed]
    if failed and raise_on_failure:
        raise SchemaErrors([f"{c.name}: {c.violations} violations" for c in failed])
    return results


def quarantine_split(
    df: DataFrame, predicates: dict[str, Column]
) -> tuple[DataFrame, DataFrame]:
    """Split rows into (valid, quarantined) by named validity
    predicates — the error-channel side output (reference: failed
    symbol downloads accumulate in YF_ERRORS and load continues with
    the good subset, py_pipeline/extract.py:122-137 +
    orchestration.py:110-119).

    The quarantine frame carries a ``__violations`` array naming every
    failed predicate. Both outputs are lazy filters over the same scan
    (no extra pass); at scale write the quarantine side to its own
    table and keep loading the valid side.
    """
    viols = F.array_compact(
        F.array(
            *[
                F.when(~F.coalesce(pred, F.lit(False)), F.lit(name))
                for name, pred in predicates.items()
            ]
        )
    )
    tagged = df.withColumn("__violations", viols)
    valid = tagged.where(F.size("__violations") == 0).drop("__violations")
    quarantined = tagged.where(F.size("__violations") > 0)
    return valid, quarantined
