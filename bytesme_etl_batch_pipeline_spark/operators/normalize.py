"""X1/X2 — explode + snowflake normalization (SURVEY §2.10).

The reference's ``seperate_tables`` makes one imperative pass over the wide
table building three outputs with dict-resolved FKs
(``scripts/transform/seperate_tables.py:19-196``). Spark-first shape: a
three-branch DAG off ONE cached scan —

    wide ──A1──► dims (first-wins collapse + dense ids)
        ──J1──► facts (broadcast key resolution + ids)
        ──X1──► children (explode + broadcast FK resolution)

Dims get dense window ids (small); facts/children get hash ids — a global
dense window on a 100 TB fact table is the documented deviation (SURVEY §7
hard part 4).
"""

from __future__ import annotations

import functools
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import column
from .aggregate import collapse_first_wins, dense_ids, hash_ids
from .joins import resolve_key


def explode_piped_pairs(
    df: DataFrame,
    url_col: str,
    name_col: str,
    fallback_col: str,
    out_url: str = "item_url",
    out_name: str = "item_name",
) -> DataFrame:
    """X1: explode parallel pipe-delimited url/name strings into child rows;
    empty names fall back to ``fallback_col`` (reference
    ``seperate_tables.py:81-106``: multi-image and single-image shapes,
    name fallback at :86,101).

    One projection: each row's children are built and filtered as an array
    and ``inline``d, so ``out_url``/``out_name`` are appended (or replace
    a column of that name where it stands, as ``withColumn`` would)."""
    children = _children(url_col, name_col, fallback_col, out_url, out_name)
    names = df.columns
    kept = [c for c in names if c not in (out_url, out_name)]
    out = df.select(*[column(c) for c in kept], children)
    if len(kept) == len(names):
        return out
    # a replaced column keeps its position
    new = [c for c in (out_url, out_name) if c not in names]
    return out.select(*[column(c) for c in names + new])


@functools.lru_cache(maxsize=32)
def _children(
    url_col: str, name_col: str, fallback_col: str, out_url: str, out_name: str
) -> Column:
    """``inline`` of the (url, name) children of one row: the two split
    lists zipped (the shorter padded with NULL), the url trimmed, an empty
    name replaced by ``fallback_col``, children without a url dropped."""
    pairs = F.zip_with(
        F.split(F.col(url_col), r"\|"),
        F.split(F.coalesce(F.col(name_col), F.lit("")), r"\|"),
        lambda u, n: F.struct(
            F.trim(u).alias(out_url),
            F.coalesce(
                F.nullif(F.trim(n), F.lit("")), F.col(fallback_col).cast("string")
            ).alias(out_name),
        ),
    )
    return F.inline(
        F.filter(pairs, lambda p: p[out_url].isNotNull() & (p[out_url] != ""))
    )


@dataclass
class SnowflakeResult:
    dims: DataFrame
    facts: DataFrame
    children: DataFrame


def snowflake_split(
    wide: DataFrame,
    dim_key: str,
    dim_attrs: list[str],
    fact_key: str,
    child_url_col: str,
    child_name_col: str,
    order_by: list[str],
    dim_id_col: str = "dim_id",
    fact_id_col: str = "fact_id",
    fact_id_hash=None,
) -> SnowflakeResult:
    """X2: wide table → (dims, facts, children) with resolved FKs.

    One deterministic pass: dims collapse first-wins per ``dim_key`` with
    dense ids; facts join the broadcast dim to resolve the FK and carry a
    hash id; children explode the piped pairs off the fact and inherit its
    id. ``wide`` should be cached by the caller when all three outputs are
    materialized in one job."""
    dims = dense_ids(
        collapse_first_wins(wide, dim_key, dim_attrs, order_by),
        dim_id_col,
        order_by=[dim_key],
    )
    # left join: a NULL dim_key row would otherwise VANISH from facts (the
    # dim has a NULL-key group, but NULL never equals NULL in a join) — an
    # uncategorized wide row must survive with a NULL FK, not be dropped.
    facts = resolve_key(wide, dims.select(dim_key, dim_id_col), on=dim_key, how="left")
    facts = hash_ids(facts, fact_id_col, [fact_key], hash_fn=fact_id_hash)
    children = explode_piped_pairs(
        facts.select(fact_id_col, fact_key, child_url_col, child_name_col),
        url_col=child_url_col,
        name_col=child_name_col,
        fallback_col=fact_key,
    ).select(fact_id_col, "item_url", "item_name")
    return SnowflakeResult(dims=dims, facts=facts, children=children)
