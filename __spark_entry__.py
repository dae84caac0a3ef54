"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (per-source corpus summary —
reference A2, SURVEY.md Phase 0) at sf0.001. ``queries()`` /
``oracle_sql()`` expose the full registry from
``wiki_data_pipeline_spark.plans`` — one entry per implemented operator
from SURVEY.md §2 + the LLM-pipeline extensions, each with a DuckDB
oracle unless genuinely non-SQL-expressible.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_SMOKE_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from wiki_data_pipeline_spark.plans.registry import get

    return get("a2_summary_by_source").fn(spark, SF_SMOKE_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator, in registration order."""
    from wiki_data_pipeline_spark.plans.registry import all_queries

    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query, in registration order."""
    from wiki_data_pipeline_spark.plans.registry import all_oracles

    return all_oracles()
