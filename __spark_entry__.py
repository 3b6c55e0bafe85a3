"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (q1 pricing summary) at
sf0.001. ``queries()`` / ``oracle_sql()`` expose every implemented
operator from SURVEY.md §2 with its DuckDB oracle (same column
aliases — the driver hash-compares values after sorting columns by
name).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from bpaotu_spark import registry

registry.load_all()

SF_SMOKE_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return registry.QUERIES["q1_pricing_summary"](spark, SF_SMOKE_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, oldest
    driver-green evidence first (the driver's correctness sweep checks
    a bounded prefix of this dict — see registry.ordered_queries)."""
    return registry.ordered_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query key (omitted keys → rows-only check)."""
    return dict(registry.ORACLES)
