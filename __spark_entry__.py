"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` is a smoke check; each ``queries()[name]`` is
compared against the matching ``oracle_sql()[name]`` run in DuckDB
(row count, schema and order-insensitive values), which is what
``tools/oracle_check.py`` does for every registered query.

Implementation lives in ``tabata_spark.battery``; this module is the
thin driver-facing adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tabata_spark import battery  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return battery.flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(battery.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (same column aliases)."""
    return dict(battery.ORACLES)
