"""End-to-end ingest + warehouse pipeline — the Prefect flows as a
driver-side orchestration function.

Reference lifecycle (py_pipeline/orchestration.py:155-209, traced in
SURVEY §3.1):

1. resolve date window (defaults ``[today-1, today]``; backfills clamp
   to 2000-01-01 — orchestration.py:11-29)
2. bootstrap symbols if none given (scrape → clean → merge to lake)
3. read symbol work list back from the lake (distinct projection)
4. price E-T-L (extract wide → melt long → transform → merge on PK)
5. star-schema models + declarative check suite (the dbt flow,
   orchestration.py:261-274)

Partial-failure semantics (orchestration.py:110-119,186-209): symbols
whose extraction failed are quarantined (returned for inspection), the
successful subset still loads, and the error re-raises at the end.

The Spark re-design removes the 500-symbol chunk loop: transforms are
lazy DataFrame compositions; extraction parallelism comes from
``fetch_prices_distributed``; sinks are partition-pruned merges.

The four sinks (FX symbols, stock symbols, FX prices, stock prices)
share no input or output, so they run CONCURRENTLY on driver threads
(``sources.tables.overlap``) — the reference's separate FX and stock
Prefect deployments (prefect.cloud.yaml:47-65) — and the models and
checks start only once all four have finished, as dbt fires only after
both deployments. Partial failure keeps its meaning: a failing sink
never cancels a sibling (a cancelled overwrite can damage a table);
every sink runs to completion, then the first failure in declared
order re-raises and no models are built.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from securities_data_pipeline_spark.checks import (  # noqa: F401  perfbench's tracer wraps the standalone checks by these names
    CheckResult,
    check_accepted_values,
    check_not_null,
    check_relationships,
    check_unique,
    run_checks,
)
from securities_data_pipeline_spark.functions.cleaning import (
    transform_fx_symbols,
    transform_prices,
    transform_stock_symbols,
)
from securities_data_pipeline_spark.load import (
    load_fx_symbols,
    load_prices,
    load_stock_symbols,
)
from securities_data_pipeline_spark.plans.models import build_star_schema, register_views
from securities_data_pipeline_spark.sources.tables import overlap

BACKFILL_FLOOR = dt.date(2000, 1, 1)  # orchestration.py:22

# the dbt test suite over the star schema (properties.yml:10-52,96-170)
STAR_SCHEMA_CHECKS = (
    ("dim_symbols", "unique", "symbol"),
    ("dim_symbols", "not_null", "symbol"),
    ("dim_symbols", "accepted_values", "asset_type", ["FX", "Stock"]),
    ("fct_prices", "not_null", "symbol"),
    ("fct_prices", "not_null", "date_stamp"),
    ("fct_prices", "relationships", "symbol", "dim_symbols", "symbol"),
    ("dim_symbols", "relationships", "symbol", "fct_prices", "symbol"),
)


def resolve_dates(
    start_date: str | None = None, end_date: str | None = None, today: dt.date | None = None
) -> tuple[dt.date, dt.date]:
    """Date-window resolution (orchestration.py:11-29): default
    ``[today-1, today]``; open-ended backfills clamp to 2000-01-01."""
    today = today or dt.date.today()
    if start_date is None and end_date is None:
        return today - dt.timedelta(days=1), today
    start = dt.date.fromisoformat(start_date) if start_date else BACKFILL_FLOOR
    end = dt.date.fromisoformat(end_date) if end_date else today
    return start, end


@dataclass
class PipelineResult:
    lake_paths: dict[str, str]
    models: dict[str, DataFrame]
    checks: list[CheckResult] = field(default_factory=list)


def etl_flow(
    spark: SparkSession,
    lake_root: str,
    *,
    raw_fx_prices_wide: DataFrame,
    raw_stock_prices_wide: DataFrame,
    raw_stock_symbols: DataFrame,
    date_stamp: dt.date | str,
    run_checks_suite: bool = True,
) -> PipelineResult:
    """Full batch run: clean → merge into the lake → star schema →
    check suite. Sources are injected DataFrames (the reference's tests
    mock theirs the same way, tests/e2e_test.py:86-90). The
    ``raw_*_prices_wide`` arguments carry the long bars every price
    source melts to; perfbench passes them by these names."""
    paths = {
        "symbols_fx": os.path.join(lake_root, "symbols", "fx"),
        "symbols_sp_stocks": os.path.join(lake_root, "symbols", "sp_stocks"),
        "price_history_fx": os.path.join(lake_root, "price_history", "fx"),
        "price_history_sp_stocks": os.path.join(lake_root, "price_history", "sp_stocks"),
    }

    from securities_data_pipeline_spark.sources.registry import fx_symbols_source

    # symbols E-T-L (orchestration.py:47-53) and price E-T-L
    # (orchestration.py:56-119): four independent transform → load sinks
    overlap(
        spark,
        lambda: load_fx_symbols(
            spark, transform_fx_symbols(fx_symbols_source(spark)), paths["symbols_fx"]
        ),
        lambda: load_stock_symbols(
            spark,
            transform_stock_symbols(raw_stock_symbols, date_stamp),
            paths["symbols_sp_stocks"],
        ),
        lambda: load_prices(
            spark, transform_prices(raw_fx_prices_wide, "fx"), paths["price_history_fx"]
        ),
        lambda: load_prices(
            spark,
            transform_prices(raw_stock_prices_wide, "sp_stocks"),
            paths["price_history_sp_stocks"],
        ),
    )

    # warehouse models over lake read-back (the dbt flow)
    models = build_star_schema(
        raw_fx_prices=spark.read.parquet(paths["price_history_fx"]),
        raw_stock_prices=spark.read.parquet(paths["price_history_sp_stocks"]),
        raw_stock_symbols=spark.read.parquet(paths["symbols_sp_stocks"]),
    )
    register_views(spark, models)

    # NB: the returned model DataFrames are lazy views over the lake
    # files as of this run; a subsequent etl_flow over the same lake
    # rewrites merged partitions, invalidating handles from earlier
    # runs (no snapshot isolation on plain parquet). Always use the
    # latest PipelineResult's models.
    checks = run_checks(models, STAR_SCHEMA_CHECKS) if run_checks_suite else []
    return PipelineResult(paths, models, checks)
