"""Seeded, key-derived randomness (SURVEY §4 custom piece (a), §7 hard part 1).

The reference draws unseeded numpy randoms row-by-row
(``scripts/transform/generate_mock_data.py:18-40``) — nondeterministic and
order-dependent. ``rand(seed)`` in Spark is only deterministic if the
partitioning is pinned, which a 100 TB shuffle never guarantees. The robust
contract: derive every random value from a *stable row key* + an explicit
seed via a hash — reproducible on any cluster, any partitioning, any retry.

Hash = md5-derived 48 bits (``md5_hash48``, shared with textops) so DuckDB
oracles replay values exactly; production would swap xxhash64 for speed
without changing semantics.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TWO_48 = float(2**48)


def md5_hash48(col: Column) -> Column:
    """First 12 hex chars of md5 as a 48-bit int — exact in both Spark
    (``conv``) and DuckDB (hex-digit polynomial), and < 2^53 so float-safe."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def hash_uniform(key: Column, seed: int | str) -> Column:
    """U[0,1) derived from (key, seed): md5 → 48-bit int → /2^48.
    NULL keys hash via an explicit sentinel (concat_ws would silently skip
    the NULL and hash the seed alone — every NULL-key row identical)."""
    key_s = F.coalesce(key.cast("string"), F.lit("__NULL_KEY__"))
    return md5_hash48(F.concat_ws("|", F.lit(str(seed)), key_s)) / F.lit(TWO_48)


def hash_uniform_int(key: Column, seed: int | str, lo: int, hi: int) -> Column:
    """Uniform integer in [lo, hi) — ``np.random.randint`` twin
    (``generate_mock_data.py:39-40``)."""
    return (F.floor(hash_uniform(key, seed) * (hi - lo)) + lo).cast("int")


def hash_exponential(key: Column, seed: int | str, scale: float) -> Column:
    """Exponential(scale) by inverse CDF: ``-scale * ln(1 - U)`` —
    ``np.random.exponential`` twin (``generate_mock_data.py:28-31``)."""
    return -F.lit(scale) * F.log(F.lit(1.0) - hash_uniform(key, seed))


def discount_column(key: Column, seed: int | str = 42) -> Column:
    """Reference discount model (``generate_mock_data.py:18-26``): 30% of
    rows get U{5..49}, the rest 0."""
    gate = hash_uniform(key, f"{seed}-gate") < 0.3
    value = hash_uniform_int(key, f"{seed}-val", 5, 50)
    return F.when(gate, value).otherwise(F.lit(0)).cast("int")


def ratings_column(key: Column, seed: int | str = 42, scale: float = 50.0) -> Column:
    """Reference ratings model (``generate_mock_data.py:28-31``):
    ``int(Exp(50)) + 1`` — power-law-ish, always ≥ 1."""
    return (F.floor(hash_exponential(key, f"{seed}-rat", scale)) + 1).cast("int")


def orders_column(key: Column, seed: int | str = 42) -> Column:
    """Reference orders model (``generate_mock_data.py:39-40``): U{0..499}."""
    return hash_uniform_int(key, f"{seed}-ord", 0, 500)
