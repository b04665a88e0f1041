"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query on sf0.001; ``queries()``
exposes every implemented operator from SURVEY.md §2 as
``(spark, sf_dir) -> DataFrame``; ``oracle_sql()`` gives the DuckDB
equivalent for the correctness gate. Registries live in the engine
package — this file only aggregates them.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: TPC-H Q1-style pricing summary at sf0.001."""
    from securities_data_pipeline_spark.plans.relational import q1_pricing_summary

    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from securities_data_pipeline_spark.registry import all_queries

    return all_queries()


def oracle_sql() -> dict[str, str]:
    """Oracles in ``queries()`` order (the family maps register in
    different orders, and consumers zip the two maps positionally)."""
    from securities_data_pipeline_spark.registry import all_oracles

    oracles = all_oracles()
    return {name: oracles[name] for name in queries()}
