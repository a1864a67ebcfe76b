"""Join operators (SURVEY §2.4: J1–J6).

Every reference join is a dict probe against a small dimension — broadcast
hash join semantics. The engine makes that explicit with ``F.broadcast`` on
dim sides, and leaves big-big joins to Catalyst (sort-merge / shuffled-hash,
with AQE skew splitting) — those come free and correct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def resolve_key(
    fact: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "inner",
) -> DataFrame:
    """J1/J2/J3: dimension-key resolution (``category_name -> category_id``
    style, reference ``seperate_tables.py:111-117,141-143``).

    The dim is always broadcast: that avoids shuffling the 100 TB fact
    side entirely — the probe runs map-side, exactly like the reference's
    dict lookup but distributed.
    """
    return fact.join(F.broadcast(dim), on=on, how=how)


def lookup_map_join(df: DataFrame, mapping: dict[str, str], key_col: str, out_col: str) -> DataFrame:
    """J5: literal map lookup (reference ``dict(zip(...))`` probes,
    ``generate_embeddings.py:499-501``). For small static maps a
    ``create_map`` literal beats even a broadcast join: zero extra scan,
    folded into the projection. An empty mapping gives an all-NULL string
    column (``create_map()`` alone is ``map<void,void>``, which a string
    key cannot index)."""
    if not mapping:
        return df.withColumn(out_col, F.lit(None).cast("string"))
    pairs: list = []
    for k, v in mapping.items():
        pairs += [F.lit(k), F.lit(v)]
    return df.withColumn(out_col, F.create_map(*pairs)[F.col(key_col)])


def zip_join(df: DataFrame, left_col: str, right_col: str, out_col: str, sep: str = "|") -> DataFrame:
    """J6: positional zip of two parallel pipe-delimited strings
    (reference ``zip(images, image_names)``, ``seperate_tables.py:85``).
    Pure expression: split both and ``arrays_zip`` — no shuffle, no UDF.
    ``sep`` is a LITERAL separator (escaped before hitting ``split``'s
    regex engine — a raw '|' would be an empty alternation that splits
    every character)."""
    import re

    pat = re.escape(sep)
    return df.withColumn(
        out_col,
        F.arrays_zip(
            F.split(F.col(left_col), pat).alias("left"),
            F.split(F.col(right_col), pat).alias("right"),
        ),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    right_vals: list[str],
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right_time <= left_time`` per key (an operator Spark lacks natively;
    DuckDB/kdb call it ASOF JOIN).

    Spark-first composition — NO pairwise range join: union both sides
    tagged, one window sorted by (key, time, side) carrying the right-side
    values forward with ``last(..., ignorenulls=True)``, then keep left rows.
    One shuffle on the key; cost is O(n log n) per key vs O(n·m) for the
    naive theta join — at 100 TB this is the difference between a sort and a
    blow-up.

    Tie contract: when several right rows share (key, time), the one with
    the greatest ``right_vals`` struct wins (it is the final sort key) —
    deterministic across runs, but an arbitrary-tie engine (e.g. DuckDB
    ASOF) may pick differently; for cross-engine parity keep (key, time)
    unique on the right side.

    Right rows with a NULL time are dropped: they satisfy no
    ``right_time <= left_time`` predicate, yet ascending NULLS FIRST
    ordering would otherwise carry one forward as a phantom "earliest"
    match for every left row. Right rows with a NULL key are dropped for
    the same reason with join semantics: SQL equi/ASOF joins never match
    NULL = NULL, but the window formulation's ``partitionBy`` groups NULL
    keys together and would hand every NULL-key left row a phantom match.
    NULL-key LEFT rows still pass through (with NULL ``right_vals``)."""
    overlap = set(right_vals) & set(left.columns)
    if overlap:
        raise ValueError(
            f"right_vals {sorted(overlap)} collide with left columns — "
            "the output would carry duplicate names (AMBIGUOUS_REFERENCE "
            "downstream); rename one side first"
        )
    r_tag = right.filter(
        F.col(right_time).isNotNull() & F.col(key).isNotNull()
    ).select(
        F.col(key).alias("__k"),
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__side"),
        F.struct(*[F.col(c) for c in right_vals]).alias("__rrow"),
    )
    l_tag = left.select(
        F.col(key).alias("__k"),
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__lrow"),
        F.lit(None).cast(dict(r_tag.dtypes)["__rrow"]).alias("__rrow"),
    )
    r_tag = r_tag.withColumn(
        "__lrow", F.lit(None).cast(dict(l_tag.dtypes)["__lrow"])
    ).select("__k", "__t", "__side", "__lrow", "__rrow")
    l_tag = l_tag.select("__k", "__t", "__side", "__lrow", "__rrow")

    from pyspark.sql import Window

    unioned = l_tag.unionByName(r_tag)
    w = (
        Window.partitionBy("__k")
        .orderBy("__t", "__side", F.col("__rrow"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Carry the whole right ROW (one struct): a NULL field inside the latest
    # right row stays NULL, and value columns can never stitch together
    # fields from different right rows.
    carried = unioned.select(
        "__side",
        "__lrow",
        F.last("__rrow", ignorenulls=True).over(w).alias("__last_r"),
    )
    out = carried.filter(F.col("__side") == 1).select(
        F.col("__lrow.*"),
        *[F.col(f"__last_r.{c}").alias(c) for c in right_vals],
    )
    return out


def range_join(
    fact: DataFrame,
    ranges: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
) -> DataFrame:
    """Range (theta) join: match each fact row to the range bucket containing
    ``value_col`` (lo <= v < hi). The ranges side is a small broadcast dim →
    Spark plans BroadcastNestedLoopJoin, which is fine for dozens of tiers;
    for large range tables, bucketize the value to an equi-join key first."""
    v = F.col(value_col)
    return fact.join(
        F.broadcast(ranges), on=[(v >= F.col(lo_col)) & (v < F.col(hi_col))], how="left"
    )
