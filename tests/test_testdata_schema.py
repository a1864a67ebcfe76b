"""Round-start guard: the driver regenerates /root/testdata between rounds
and has changed column types before (round 2: events.ts went from
TIMESTAMP(NANOS)-as-bigint to plain Parquet TIMESTAMP). The engine scans every
table with its declared schema (``schemas.TESTDATA_TABLES``) and every oracle
assumes the same shapes — if a test here fails, the testdata changed shape and
the registry / oracles must be revisited BEFORE trusting any parity run.

One schema source, checked on both engines: the DuckDB expectations are
derived from the registry, and Spark's own inference must reproduce it.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from bytesme_etl_batch_pipeline_spark.schemas import TESTDATA_TABLES

# Spark simpleString -> DuckDB DESCRIBE type
_DUCK_TYPE = {
    "bigint": "BIGINT",
    "int": "INTEGER",
    "string": "VARCHAR",
    "double": "DOUBLE",
    "timestamp": "TIMESTAMP",
    "array<float>": "FLOAT[]",
}

EXPECTED = {
    table: [(f.name, _DUCK_TYPE[f.dataType.simpleString()]) for f in schema.fields]
    for table, schema in TESTDATA_TABLES.items()
}

SF_DIRS = [
    d for d in ("sf0.001", "sf0.01", "sf0.1")
    if os.path.isdir(f"/root/testdata/{d}")
]


@pytest.mark.parametrize("sf", SF_DIRS)
def test_testdata_schemas_match_oracle_assumptions(sf):
    con = duckdb.connect()
    bad = {}
    for table, expected in EXPECTED.items():
        path = f"/root/testdata/{sf}/{table}.parquet"
        got = [
            (c[0], c[1])
            for c in con.execute(f"DESCRIBE SELECT * FROM '{path}'").fetchall()
        ]
        if got != expected:
            bad[table] = {"expected": expected, "got": got}
    assert not bad, f"testdata regenerated with new shapes: {bad}"


@pytest.mark.parametrize("sf", SF_DIRS)
def test_spark_inference_matches_declared_schemas(spark, sf_dir, sf):
    """A declared scan must have the schema inference would give: every
    field nullable, ``ts``-style columns TIMESTAMP under the session confs."""
    root = os.path.dirname(sf_dir)
    bad = {}
    for table, declared in TESTDATA_TABLES.items():
        got = spark.read.parquet(os.path.join(root, sf, f"{table}.parquet")).schema
        if got != declared:
            bad[table] = {"declared": str(declared), "got": str(got)}
    assert not bad, f"declared schemas drifted from the testdata: {bad}"
