"""Parquet table catalog over a scale-factor directory.

The driver's testdata layout is ``{sf_dir}/{table}.parquet`` (TESTDATA.md).
Reads stay fully declarative (``spark.read.parquet``) so Catalyst gets
predicate pushdown, column pruning, and partition pruning for free — at 100 TB
these scans would be the same code over a partitioned table root.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def ensure_session_confs(spark: SparkSession) -> None:
    """Make any SparkSession (including one the driver built without our
    factory) able to run the catalog; ``session.get_spark`` calls it too, so
    these four settings live here only. All are runtime-settable SQL confs;
    setting them is idempotent."""
    # Testdata's events.ts is Parquet TIMESTAMP(NANOS), which Spark cannot
    # represent natively; read it as raw nanos (``repair_event_ts`` converts
    # to TimestampType losslessly via integer division).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
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
    # Driver testdata stores events.ts as Parquet TIMESTAMP with
    # isAdjustedToUTC=false; Spark 4 would surface that as TIMESTAMP_NTZ,
    # which unix_micros()/window() TIMESTAMP-typed code paths reject. Read it
    # as a session-TZ timestamp instead — with the UTC pin above, the values
    # are bit-identical and match the TZ-naive DuckDB oracle.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


# Session-scoped scan memo: (applicationId, sf_dir, table) → lazy scan
# DataFrame + its scan partition count (filled on first need). A bare
# ``spark.read.parquet`` re-reads the footer and re-lists the path on
# EVERY call (~0.13 s driver-side here; minutes against large object-store
# tables) even though the result is a pure metadata artifact — the same
# repeated-listing cost guide §6 caches with
# ``filesourcePartitionFileCacheSize`` for catalog tables. Caching the
# LAZY plan changes no results: every action still scans the parquet
# bytes; what is reused is the file listing + schema, exactly what a table
# catalog persists. Keyed by applicationId so a new session never sees a
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
    """Scan one table, memoized per (application, ``sf_dir``, table).

    The first (cold) call for a table runs ONE Spark job — Parquet schema
    inference reading the file footer (``parquet at
    NativeMethodAccessorImpl.java:0``); a warm call returns the memoized
    DataFrame and runs none (counted with ``statusTracker`` at sf0.01, on
    ``orders`` and ``events``).

    ``min_parallelism``: opt-in for map-CPU-bound consumers (shingling,
    per-token md5, array folds). A single-row-group parquet file is
    NON-SPLITTABLE — the scan is one task no matter what
    ``maxPartitionBytes`` says — so a CPU-heavy pipeline over a small
    input would serialize on one core. Passing ``min_parallelism``
    redistributes ONLY when the scan has fewer partitions (the standard
    repartition-after-nonsplittable-read pattern); at production scale the
    scan already has thousands of splits and this is a no-op, so the
    shuffle never appears where it isn't paying for itself.

    ``events.ts`` has shipped in two physical forms across driver testdata
    generations: Parquet TIMESTAMP(NANOS) (surfaced as a long under
    ``nanosAsLong``, converted here via integer ns→µs division — ``div``, not
    ``/``, which would lose precision at epoch-nanos magnitudes) and plain
    Parquet TIMESTAMP with isAdjustedToUTC=false (surfaced as a session-TZ
    timestamp under ``inferTimestampNTZ.enabled=false``). Both paths yield
    identical micros values under the pinned UTC session timezone, matching
    DuckDB's TZ-naive reading.
    """
    ensure_session_confs(spark)
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    hit = _SCAN_MEMO.get(key)
    if hit is None:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if name == "events":
            df = repair_event_ts(df)
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


def repair_event_ts(df: DataFrame) -> DataFrame:
    """Shared nanos→timestamp repair for the events table (see the physical
    forms note in ``load_table``) — used by BOTH the batch loader and the
    streaming reader (``streaming/events.read_events_stream``) so the two
    paths cannot silently diverge when the testdata generation changes
    shape again."""
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df
