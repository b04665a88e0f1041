"""Package-level query/oracle registry aggregation.

The single source of truth for the engine's query surface: every
family module contributes its ``*_QUERIES`` / ``*_ORACLES`` maps here.
The repo-root driver contract (``__spark_entry__.py``) and the
``Engine`` facade both consume THIS module, and the facade stays
importable as a library (it must never reach up into a repo-root
script). Every family imports unguarded: a family that fails to import
fails the registry loudly instead of silently dropping its queries.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


def all_queries() -> dict[str, QueryFn]:
    from securities_data_pipeline_spark.operators import EXTENSION_QUERIES
    from securities_data_pipeline_spark.plans.analytics import ANALYTICS_QUERIES
    from securities_data_pipeline_spark.plans.maintenance import MAINTENANCE_QUERIES
    from securities_data_pipeline_spark.plans.relational import RELATIONAL_QUERIES
    from securities_data_pipeline_spark.plans.relational_ext import RELATIONAL_EXT_QUERIES
    from securities_data_pipeline_spark.plans.relational_tpch2 import TPCH2_QUERIES
    from securities_data_pipeline_spark.plans.relational_tpch3 import TPCH3_QUERIES
    from securities_data_pipeline_spark.plans.securities_demo import SECURITIES_QUERIES
    from securities_data_pipeline_spark.plans.subqueries import SUBQUERY_QUERIES
    from securities_data_pipeline_spark.streaming import STREAMING_QUERIES

    out: dict[str, QueryFn] = {}
    out.update(RELATIONAL_QUERIES)
    out.update(ANALYTICS_QUERIES)
    out.update(MAINTENANCE_QUERIES)
    out.update(RELATIONAL_EXT_QUERIES)
    out.update(TPCH2_QUERIES)
    out.update(TPCH3_QUERIES)
    out.update(SUBQUERY_QUERIES)
    out.update(SECURITIES_QUERIES)
    out.update(EXTENSION_QUERIES)
    out.update(STREAMING_QUERIES)
    return out


def all_oracles() -> dict[str, str]:
    from securities_data_pipeline_spark.operators import EXTENSION_ORACLES
    from securities_data_pipeline_spark.plans.analytics import ANALYTICS_ORACLES
    from securities_data_pipeline_spark.plans.maintenance import MAINTENANCE_ORACLES
    from securities_data_pipeline_spark.plans.relational import RELATIONAL_ORACLES
    from securities_data_pipeline_spark.plans.relational_ext import RELATIONAL_EXT_ORACLES
    from securities_data_pipeline_spark.plans.relational_tpch2 import TPCH2_ORACLES
    from securities_data_pipeline_spark.plans.relational_tpch3 import TPCH3_ORACLES
    from securities_data_pipeline_spark.plans.securities_demo import SECURITIES_ORACLES
    from securities_data_pipeline_spark.plans.subqueries import SUBQUERY_ORACLES
    from securities_data_pipeline_spark.streaming import STREAMING_ORACLES

    out: dict[str, str] = {}
    out.update(RELATIONAL_ORACLES)
    out.update(ANALYTICS_ORACLES)
    out.update(MAINTENANCE_ORACLES)
    out.update(RELATIONAL_EXT_ORACLES)
    out.update(TPCH2_ORACLES)
    out.update(TPCH3_ORACLES)
    out.update(SUBQUERY_ORACLES)
    out.update(SECURITIES_ORACLES)
    out.update(EXTENSION_ORACLES)
    out.update(STREAMING_ORACLES)
    return out
