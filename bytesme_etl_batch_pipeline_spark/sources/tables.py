"""Parquet table catalog over a scale-factor directory.

The driver's testdata layout is ``{sf_dir}/{table}.parquet`` (TESTDATA.md).
Reads stay fully declarative (``spark.read.parquet``) so Catalyst gets
predicate pushdown, column pruning, and partition pruning for free — at 100 TB
these scans would be the same code over a partitioned table root. Every scan
carries its declared schema (``schemas.TESTDATA_TABLES``), so building a plan
reads no Parquet footer and runs no Spark job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..schemas import TESTDATA_TABLES

TABLE_NAMES = list(TESTDATA_TABLES)


def ensure_session_confs(spark: SparkSession) -> None:
    """Make any SparkSession (including one the driver built without our
    factory) able to run the catalog; ``session.get_spark`` calls it too, so
    these three settings live here only. All are runtime-settable SQL confs;
    setting them is idempotent."""
    # Timestamp formatting must not depend on the host TZ — the DuckDB
    # oracle is TZ-naive.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Perf, not correctness. InferFiltersFromGenerate synthesizes
    # `size(child) > 0 AND isnotnull(child)` ahead of every non-outer
    # explode and predicate pushdown then inlines the generator's WHOLE
    # child expression into that filter (twice — once per conjunct). For
    # this engine's explodes the child is always a COMPUTED array (shingle
    # sets, quantization codes, LSH bands — higher-order functions that run
    # interpreted, outside codegen), so the "optimization" re-evaluates the
    # most expensive expression in the query 2× per input row and, where the
    # lambda references per-row aggregates like array_min/max, expands them
    # per ELEMENT (measured 5.8× on embedding_quantize_int8 at sf0.1). The
    # inferred filter can never change results (a non-outer Generate drops
    # empty/NULL rows by itself) and never reaches the parquet scan here
    # (the arrays are not stored columns), so exclusion is pure win at
    # every scale.
    spark.conf.set(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    )
    # The testdata stores its timestamps as Parquet TIMESTAMP with
    # isAdjustedToUTC=false. ``load_table`` declares them TIMESTAMP; an
    # inferred read of the same files would surface TIMESTAMP_NTZ, which
    # unix_micros()/window() TIMESTAMP-typed code paths reject, so inference
    # is kept on the declared type too. With the UTC pin above, the values
    # are bit-identical and match the TZ-naive DuckDB oracle.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


# Session-scoped scan memo: (applicationId, sf_dir, table) → lazy scan
# DataFrame + its scan partition count (filled on first need). With the
# schema declared, a cold scan runs no job, but ``spark.read`` still lists
# the path and resolves the relation in the JVM on every call; caching the
# LAZY plan reuses that file listing, exactly what a table catalog persists,
# and changes no results: every action still scans the parquet bytes.
# ``perfbench/workloads.py`` clears it before each catalog pass through
# ``_clear_scan_memo``. Keyed by applicationId so a new session never sees a
# stale entry; within a session the testdata directory is immutable (the
# same assumption one DataFrame reused across two actions already makes).
_SCAN_MEMO: dict[tuple[str, str, str], tuple[DataFrame, int | None]] = {}


def _clear_scan_memo() -> None:
    """Test hook: drop memoized scans (e.g. after rewriting a fixture)."""
    _SCAN_MEMO.clear()


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    min_parallelism: int | None = None,
) -> DataFrame:
    """Scan one table with its declared schema (``TESTDATA_TABLES[name]``;
    an unknown ``name`` raises ``KeyError``), memoized per (application,
    ``sf_dir``, table).

    Neither a cold nor a warm call runs a Spark job: the declared schema
    replaces the footer-reading inference job a bare ``spark.read.parquet``
    would run (``tests/test_plans.py`` counts the jobs with
    ``statusTracker``).

    ``min_parallelism``: opt-in for map-CPU-bound consumers (shingling,
    per-token md5, array folds). A single-row-group parquet file is
    NON-SPLITTABLE — the scan is one task no matter what
    ``maxPartitionBytes`` says — so a CPU-heavy pipeline over a small
    input would serialize on one core. Passing ``min_parallelism``
    redistributes ONLY when the scan has fewer partitions (the standard
    repartition-after-nonsplittable-read pattern); at production scale the
    scan already has thousands of splits and this is a no-op, so the
    shuffle never appears where it isn't paying for itself.
    """
    ensure_session_confs(spark)
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    hit = _SCAN_MEMO.get(key)
    if hit is None:
        schema = TESTDATA_TABLES[name]
        df = spark.read.schema(schema).parquet(os.path.join(sf_dir, f"{name}.parquet"))
        hit = (df, None)
        _SCAN_MEMO[key] = hit
    df, nparts = hit
    if min_parallelism:
        if nparts is None:
            # df.rdd forces a full analysis pass (~0.1 s); compute once
            nparts = df.rdd.getNumPartitions()
            _SCAN_MEMO[key] = (df, nparts)
        if nparts < min_parallelism:
            df = df.repartition(min_parallelism)
    return df
