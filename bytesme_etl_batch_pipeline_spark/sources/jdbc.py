"""JDBC source/sink (SURVEY §2.1: S10–S12).

The reference bulk-loads processed CSVs into PostgreSQL with ``\\copy``
(``scripts/load/psql_load.sql:3-7``) and row-inserts embedding vectors in
batches of 50 (``scripts/transform/generate_embeddings.py:274-357``). Spark's
JDBC writer replaces both: distributed, batched, and restartable.

Round-trip behavior (batched writes, append, partitioned range reads, the
vector-sink row shape) is executed against embedded Derby — the JDBC engine
Spark's JVM already ships — in ``tests/test_jdbc.py``; the options mirror
what a production PostgreSQL deployment needs (partitioned reads, write
batch size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_jdbc(
    spark: SparkSession,
    url: str,
    table_or_query: str,
    *,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """S12: table/query scan. With ``partition_column`` bounds the scan is
    split into ``num_partitions`` parallel range reads — the scale path; a
    single-connection read is only acceptable for dimension tables."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table_or_query)
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError(
                "partitioned JDBC reads require lower_bound and upper_bound "
                "(run SELECT min(col), max(col) first)"
            )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 32))
        )
    return reader.load()


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    *,
    mode: str = "append",
    batch_size: int = 10_000,
    properties: dict[str, str] | None = None,
) -> None:
    """S10/S11: bulk sink. ``batchsize`` generalizes the reference's
    hardcoded 50-row commit batches; 10k is a sane JDBC default."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .mode(mode)
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def write_jdbc_exactly_once(
    df: DataFrame,
    url: str,
    table: str,
    *,
    batch_size: int = 10_000,
    properties: dict[str, str] | None = None,
) -> None:
    """Publish-by-swap sink: plain JDBC ``append`` is at-least-once (a task
    retry re-sends its batch, a job retry re-sends everything), which is how
    duplicate rows land in warehouse tables. This variant writes the WHOLE
    result to a staging table first (overwrite — restartable at any point,
    retries only ever rewrite staging), then publishes it with a
    rename-swap so readers switch from the old table to the new one in a
    single catalog operation.

    The rename step is one statement per table on a single driver-side
    connection — effectively atomic for readers that open transactions
    after the swap. DIALECT: the swap uses ``RENAME TABLE a TO b`` and
    uppercase catalog-metadata lookups — Derby (the test engine) and MySQL
    syntax. PostgreSQL needs ``ALTER TABLE … RENAME TO`` and folds
    unquoted identifiers to lowercase; port the three statements before
    pointing this at it. Derby supports RENAME TABLE but not
    transactional DDL, so the test asserts the end state, not the
    intermediate.

    ``<table>_staging`` and ``<table>_retired`` are RESERVED by this sink:
    every publish overwrites the staging table, and the retired one parks
    the previous generation during the swap and is dropped on the next
    publish — never point application data at either. A crash between
    the two renames leaves the generation parked there; the next publish
    restores it FIRST, so readers serve the old data throughout the
    retry's staging rewrite instead of hitting a missing table.
    """
    import re

    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", table):
        raise ValueError(f"unqualified simple table name required, got {table!r}")
    staging = f"{table}_staging"
    retired = f"{table}_retired"

    # Driver-side connections via the JVM's DriverManager (the same
    # classloader Spark's JDBC writer uses, so no extra client library is
    # needed).
    jvm = df.sparkSession._jvm

    def _with_conn(fn):
        # Same credentials as the Spark staging write: user/password (and
        # any other driver props) ride a java.util.Properties — a bare
        # getConnection(url) would fail on any auth-requiring database
        # while the staging write succeeded, stranding the data unpublished.
        jprops = jvm.java.util.Properties()
        for k, v in (properties or {}).items():
            jprops.setProperty(str(k), str(v))
        conn = jvm.java.sql.DriverManager.getConnection(url, jprops)
        try:
            stmt = conn.createStatement()
            meta = conn.getMetaData()

            def exists(name: str) -> bool:
                rs = meta.getTables(None, None, name.upper(), None)
                try:
                    return rs.next()
                finally:
                    rs.close()

            try:
                return fn(stmt, exists)
            finally:
                stmt.close()
        finally:
            conn.close()

    # Crash recovery BEFORE the (slow) staging rewrite: a crash between
    # RENAME(table -> retired) and RENAME(staging -> table) leaves no live
    # table; restoring the retired generation here means readers keep the
    # OLD data for the whole rewrite instead of a table-not-found window
    # until this retry's publish lands. (Exactly-once is unaffected either
    # way — staging overwrite is idempotent — this closes the
    # availability gap the parquet merge's __retired recovery closes.)
    def _recover(stmt, exists):
        if not exists(table) and exists(retired):
            stmt.executeUpdate(f"RENAME TABLE {retired} TO {table}")

    _with_conn(_recover)

    write_jdbc(
        df, url, staging, mode="overwrite", batch_size=batch_size, properties=properties
    )

    def _publish(stmt, exists):
        if exists(retired):
            stmt.executeUpdate(f"DROP TABLE {retired}")
        if exists(table):
            stmt.executeUpdate(f"RENAME TABLE {table} TO {retired}")
        stmt.executeUpdate(f"RENAME TABLE {staging} TO {table}")
        if exists(retired):
            stmt.executeUpdate(f"DROP TABLE {retired}")

    _with_conn(_publish)
