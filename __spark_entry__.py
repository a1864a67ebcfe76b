"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``bytesme_etl_batch_pipeline_spark``; this module is
a thin adapter over its query catalog (``plans/queries.py``; 244 named
queries, all but a few sketch queries with DuckDB oracle twins —
``len(queries())`` / ``len(oracle_sql())`` are the live counts).
COVERAGE.md maps every SURVEY §2
operator to its implementation, catalog query, and test. The catalog
self-heals foreign SparkSessions (UTC and timestamp-inference confs are set
at the table loader), so any session the driver provides works.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from bytesme_etl_batch_pipeline_spark.plans import queries as _catalog

SF0_001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _catalog.SPARK_QUERIES["pricing_summary"](spark, SF0_001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(_catalog.SPARK_QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each oracle-checkable query."""
    return dict(_catalog.ORACLE_SQL)
