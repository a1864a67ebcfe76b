"""Scalar function layer (SURVEY §2.9) — pure Column expressions, no UDFs."""

from __future__ import annotations

import functools
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@functools.lru_cache(maxsize=1024)
def column(name: str) -> Column:
    """``F.col`` of the top-level column ``name``, quoted so a dot in the
    name is not read as a field access, built once per process."""
    return F.col("`" + name.replace("`", "``") + "`")


def project(df: DataFrame, cols: dict[str, Column], drop: Iterable[str] = ()) -> DataFrame:
    """``df.withColumns(cols).drop(*drop)`` as one ``select``, so the
    analyzer runs once: a column of ``cols`` that ``df`` already has keeps
    its position, a new one is appended in ``cols`` order, and every
    expression reads ``df``'s columns, as in ``withColumns``."""
    drop = set(drop)
    names = df.columns
    out = [cols[c].alias(c) if c in cols else column(c) for c in names if c not in drop]
    out += [e.alias(c) for c, e in cols.items() if c not in names and c not in drop]
    return df.select(*out)


def dec(col: str, scale: int = 4) -> Column:
    """``col`` as exact DECIMAL(18, scale): aggregate floats through this so
    the sum is associative and partial-aggregation order cannot change it."""
    return F.col(col).cast(f"decimal(18,{scale})")
