"""Every oracle-checkable catalog query must match its DuckDB twin at
sf0.001 (the driver runs the same gate at sf0.01)."""

from __future__ import annotations

import os

import pytest

from bytesme_etl_batch_pipeline_spark.plans import queries as catalog

from .oracle import compare, duckdb_con

ORACLE_KEYS = sorted(catalog.ORACLE_SQL)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_con(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_matches_oracle(spark, sf_dir, con, name):
    df = catalog.SPARK_QUERIES[name](spark, sf_dir)
    result = compare(df, con, catalog.ORACLE_SQL[name])
    assert result["values_match"], result
    # Driver-comparator replica: bit-exact values are not enough — the output
    # TYPES must also hash identically on the driver's pandas path (round 2:
    # five bit-exact queries graded red on HUGEINT/list outputs).
    assert result["types_match"], result["type_report"]


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_oracle_output_types_driver_hashable(con, name):
    """Spark-free lint: every oracle's output types must be driver-hashable
    (no HUGEINT/DECIMAL/list/struct/map). Lazy bind only — no execution —
    so this sweeps all oracles in seconds and would have caught round 2's
    five red rows before submission."""
    from .oracle import duck_hash_class

    rel = con.sql(catalog.ORACLE_SQL[name])
    hazards = {
        c: reason
        for c, t in zip(rel.columns, rel.types)
        for cls, reason in [duck_hash_class(t)]
        if reason
    }
    assert not hazards, hazards


ROWS_ONLY_KEYS = sorted(set(catalog.SPARK_QUERIES) - set(catalog.ORACLE_SQL))


@pytest.mark.parametrize("name", ROWS_ONLY_KEYS)
def test_rows_only_output_driver_hashable(spark, sf_dir, name):
    """The driver canonicalizes even NO-ORACLE outputs through pandas
    ``sort_values`` over all columns, so a list/struct/map/decimal output
    column is a driver ERROR row, not a pass — exactly how
    `pq_adc_search`/`ivfpq_topk` became the only two non-green rows of
    CORRECTNESS_r05 despite correct math. Two layers: the schema lint
    (hazard classes) and the driver's literal pandas canonicalization."""
    from .oracle import rows_only_canon, spark_hash_class

    df = catalog.SPARK_QUERIES[name](spark, sf_dir)
    hazards = {
        f.name: reason
        for f in df.schema.fields
        for cls, reason in [spark_hash_class(f.dataType)]
        if reason
    }
    assert not hazards, hazards
    rows_only_canon(df)  # raises exactly where the driver's comparator would


def test_no_direct_decimal_sum_to_double_casts():
    """Static lint for the r5 sf1-sweep failure class: a DIRECT
    `CAST(SUM(decimal) AS DOUBLE)` diverges between engines once the sum's
    integer representation crosses 2^53 (engine-specific double-rounding);
    every SF-growing decimal sum must go through the string detour
    (`CAST(... AS VARCHAR) AS DOUBLE`). Bounded quotients (`sum/count`
    means) are exempt — the quotient's magnitude is scale-stable.
    Heuristic window-scan; if it false-positives on a genuinely bounded
    construct, restructure the SQL or extend the exemption pattern with a
    comment explaining why the value cannot grow with SF."""
    import re

    flagged = []
    for name, sql in catalog.ORACLE_SQL.items():
        for m in re.finditer(r"AS DOUBLE\)", sql):
            window = sql[max(0, m.start() - 160) : m.end()]
            if (
                re.search(r"SUM\(\s*CAST\([^)]*DECIMAL", window, re.I)
                and "VARCHAR" not in window
                and not re.search(r"/\s*COUNT", window, re.I)
            ):
                flagged.append((name, " ".join(window[-100:].split())))
    assert not flagged, (
        "direct decimal-sum→double casts (use the string detour): "
        f"{flagged}"
    )


# sha256 of json.dumps(sorted(ORACLE_SQL.items())), taken before the
# catalog's Python side was refactored: any edit to an oracle's text (or
# an oracle added or dropped) changes it.
ORACLE_SQL_SHA256 = "8a83c1fd82fbc7f430cf83c645bd3e566125accf2d7873f00d1484ad569ede54"


def test_oracle_sql_text_is_pinned():
    """Spark-free: refactors of the query bodies leave every oracle's SQL
    byte-identical. Update the pin only with a deliberate oracle change."""
    import hashlib
    import json

    blob = json.dumps(sorted(catalog.ORACLE_SQL.items())).encode()
    assert hashlib.sha256(blob).hexdigest() == ORACLE_SQL_SHA256


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_FULL_SF") != "1",
    reason="slow full-catalog sweep at sf0.1; set SPARK_GRAFT_FULL_SF=1",
)
def test_oracle_parity_at_sf01_catches_scale_divergence(spark):
    """10× the driver's SF: catches magnitude-dependent divergence the
    sf0.01 gate can't (e.g. DuckDB's DECIMAL→DOUBLE double-rounding above
    2^53 unscaled, found in pricing_summary at sf0.1)."""
    from bytesme_etl_batch_pipeline_spark.plans import queries as catalog

    con = duckdb_con("/root/testdata/sf0.1")
    bad = []
    for name, sql in catalog.ORACLE_SQL.items():
        r = compare(
            catalog.SPARK_QUERIES[name](spark, "/root/testdata/sf0.1"), con, sql
        )
        if not r["values_match"]:
            bad.append((name, r))
    assert not bad, bad
