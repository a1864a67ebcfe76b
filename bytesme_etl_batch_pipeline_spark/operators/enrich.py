"""Mock-data enrichment (SURVEY §2.5 A2, §2.9 math/random, P8/P9).

Re-expresses ``scripts/transform/generate_mock_data.py`` Spark-first: every
random value is key-derived and seeded (functions/seeded.py), codes come from
per-group windows (operators/aggregate.py), and the only Python-side piece is
the Beta sampler (no closed-form inverse CDF → Arrow-batched pandas UDF).
"""

from __future__ import annotations

import functools
import hashlib

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from ..functions import seeded
from .aggregate import sequence_code_column


@F.pandas_udf(DoubleType())
def _beta_stars(keys: pd.Series) -> pd.Series:
    """``round(Beta(4, 1.5) * 4 + 1, 1)`` (reference
    ``generate_mock_data.py:33-35``), seeded per row from the stable key so
    the draw is reproducible under any partitioning. Beta has no closed-form
    inverse CDF, hence the one pandas UDF in the enrichment path (Arrow
    batches; the per-row Generator seeding is the determinism cost)."""
    import numpy as np

    def draw(k) -> float:
        seed = int.from_bytes(hashlib.md5(f"stars|{k}".encode()).digest()[:8], "big")
        return round(float(np.random.default_rng(seed).beta(4.0, 1.5)) * 4.0 + 1.0, 1)

    return keys.map(draw)


def stars_column(key: Column) -> Column:
    return _beta_stars(key.cast("string"))


def default_price(key: Column, seed: int | str = 42) -> Column:
    """Zero/invalid price → randomized default ``U{80..219} * 1000``
    (reference ``generate_mock_data.py:50-57``)."""
    return (seeded.hash_uniform_int(key, f"{seed}-price", 80, 220) * 1000).cast("long")


def enrich_products(
    df: DataFrame,
    key_col: str,
    brand_col: str,
    category_col: str,
    price_col: str,
    seed: int = 42,
) -> DataFrame:
    """Full enrichment pass (reference ``generate_mock_data.py`` pipeline
    stage): per-category product codes, seeded discount/ratings/orders/stars,
    zero-price defaulting. One window shuffle (codes); everything else is
    map-side. One projection: the new columns are appended in that order
    and ``price_col`` is replaced where it stands."""
    return df.withColumns(dict(_enrichment(key_col, brand_col, category_col, price_col, seed)))


@functools.lru_cache(maxsize=32)
def _enrichment(
    key_col: str, brand_col: str, category_col: str, price_col: str, seed: int
) -> tuple[tuple[str, Column], ...]:
    key = F.col(key_col)
    price = F.col(price_col)
    return (
        ("product_code", sequence_code_column(brand_col, category_col, (key_col,))),
        ("product_discount_percentage", seeded.discount_column(key, seed)),
        ("product_total_ratings", seeded.ratings_column(key, seed)),
        ("product_total_orders", seeded.orders_column(key, seed)),
        ("product_overall_stars", stars_column(key)),
        (
            price_col,
            F.when(price.isNull() | (price <= 0), default_price(key, seed)).otherwise(price),
        ),
    )
