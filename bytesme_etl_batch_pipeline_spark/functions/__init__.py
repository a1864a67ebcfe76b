"""Scalar function layer (SURVEY §2.9) — pure Column expressions, no UDFs."""

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec(col: str, scale: int = 4) -> Column:
    """``col`` as exact DECIMAL(18, scale): aggregate floats through this so
    the sum is associative and partial-aggregation order cannot change it."""
    return F.col(col).cast(f"decimal(18,{scale})")
