"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over :mod:`spark_jdbc_limit_spark.operators` — the typed query
registry where every operator from SURVEY.md §2 lives alongside its DuckDB
oracle SQL. See spark_jdbc_limit_spark/operators/registry.py.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import rotation  # noqa: E402
from spark_jdbc_limit_spark import operators  # noqa: E402
from spark_jdbc_limit_spark.session import ship_package  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def _shipped(builder: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        ship_package(spark)
        return builder(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-style pricing summary) on sf0.001."""
    ship_package(spark)
    return operators.get_query("q1_pricing_summary").builder(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in the
    driver's sampling order (``rotation.order`` over the committed
    CORRECTNESS round files and git history).

    Builders are wrapped so the package zip is shipped to executors before
    the first UDF runs — the driver may import this file from any cwd.
    """
    latest, current = rotation.read_rounds()
    names = rotation.order(operators.REGISTRY, latest, current, rotation.changed_since)
    return {name: _shipped(operators.REGISTRY[name].builder) for name in names}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    return operators.all_oracles()
