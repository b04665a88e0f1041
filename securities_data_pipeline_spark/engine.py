"""Engine facade — the one-object entry point a reference user
migrates to.

``Engine(spark).open(sf_dir)`` registers every table as a SQL view and
exposes the whole query surface: the DataFrame registries, ad-hoc
Spark SQL, the batch pipeline, and the maintenance jobs. The reference
user's workflow maps 1:1:

- ``etl_flow`` (Prefect ingest flows) → ``Engine.run_pipeline``
- dbt models / warehouse SQL          → ``Engine.sql`` over views
- dbt tests                           → ``Engine.run_pipeline(...).checks``
                                        (``checks.run_checks``)
- named queries (dashboards)          → ``Engine.query(name)``
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from securities_data_pipeline_spark.session import get_spark
from securities_data_pipeline_spark.sources.tables import TABLE_NAMES, load_tables


class Engine:
    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()
        self.tables: dict[str, DataFrame] = {}
        self.sf_dir: str | None = None

    def open(self, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES) -> "Engine":
        """Load tables from a data directory and register SQL views."""
        self.sf_dir = sf_dir
        self.tables = load_tables(self.spark, sf_dir, names)
        return self

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    def table(self, name: str) -> DataFrame:
        return self.tables[name]

    def query(self, name: str) -> DataFrame:
        """Run a named query from the package registry (the facade
        depends only on the package — never on the repo-root driver
        script, so an installed library import works)."""
        if self.sf_dir is None:
            raise RuntimeError("Engine.query requires open(sf_dir) first")
        from securities_data_pipeline_spark.registry import all_queries

        return all_queries()[name](self.spark, self.sf_dir)

    def query_names(self) -> list[str]:
        from securities_data_pipeline_spark.registry import all_queries

        return sorted(all_queries().keys())

    def run_pipeline(self, lake_root: str, **kwargs):
        from securities_data_pipeline_spark.pipeline import etl_flow

        return etl_flow(self.spark, lake_root, **kwargs)
