"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in the ``flink_training_exercises_spark`` package;
this module is a thin adapter over its query catalog (plans/catalog.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flink_training_exercises_spark.plans import catalog  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (PopularPlaces pipeline) on /root/testdata/sf0.001."""
    return catalog.entry_query(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return catalog.queries()


def oracle_sql() -> dict[str, str]:
    """The DuckDB twin of every query in ``queries()``."""
    return catalog.oracle_sql()
