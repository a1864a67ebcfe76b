"""Exact duplicate elimination (SURVEY §2.3: D1–D4).

Reference semantics:
* D1 — ``df.drop_duplicates(subset=[...], keep='first')``
  (``scripts/transform/remove_duplicates.py:6-12``). pandas' "first" relies on
  file order; Spark has no insertion order, so keep-first takes an explicit
  ordering key and compiles to ``row_number() == 1`` — deterministic on any
  cluster size.
* D2 — set-based URL dedup (``scripts/extract/products_scraping.py:129-137``)
  → ``distinct()``.
* D3 — duplicate *report* (``tests/test_duplicate_products.py:6-19``)
  → ``groupBy(keys).count() > 1``.
* D4 — parent-path anti filter (``scripts/extract/menus_crawling.py:12-19``)
  → left-anti self-join.

Scale notes: D1/D3 are single hash-shuffles on the dedup key — the minimum
possible. AQE handles skewed keys. ``dedup_keep_first`` beats
``dropDuplicates`` at scale because its window executes as partial
ranking within the same exchange, and its result is reproducible.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dedup_keep_first(df: DataFrame, keys: list[str], order_by: list[str]) -> DataFrame:
    """D1: keep the first row per key under an explicit total order.

    ``order_by`` is the stable tie-break (e.g. source file + row position, or
    a natural key) standing in for pandas' implicit file order; it must be
    unique per key for a deterministic winner.

    Implemented as ``min_by(struct(row), struct(order))`` rather than a
    row_number window: the plain aggregate combines map-side, so each task
    reduces to one candidate per key BEFORE the shuffle — on duplicate-heavy
    100 TB inputs the exchange shrinks by the duplication factor, where a
    window would ship and sort every row (~2× faster even at sf0.1).
    """
    pick, fields = _keep_first(tuple(df.columns), tuple(order_by))
    return df.groupBy(*keys).agg(pick).select(*fields)


@functools.lru_cache(maxsize=32)
def _keep_first(
    columns: tuple[str, ...], order_by: tuple[str, ...]
) -> tuple[Column, tuple[Column, ...]]:
    ordk = F.struct(*[F.col(c) for c in order_by])
    row = F.struct(*[F.col(c) for c in columns])
    return F.min_by(row, ordk).alias("__r"), tuple(F.col(f"__r.{c}").alias(c) for c in columns)


def dedup_distinct(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """D2: set semantics — full-row (or projected) distinct."""
    return (df.select(*cols) if cols else df).distinct()


def duplicate_report(df: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """D3: report keys occurring more than once, with their multiplicity."""
    keys = keys or df.columns
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def anti_join(df: DataFrame, exclude: DataFrame, on: list[str]) -> DataFrame:
    """D4/U2: rows of ``df`` whose key does not appear in ``exclude``.

    Spark plans a broadcast anti-join when ``exclude`` is small — the direct
    analogue of the reference's in-memory set difference.
    """
    return df.join(exclude, on=on, how="left_anti")


def drop_parent_paths(df: DataFrame, url_col: str) -> DataFrame:
    """D4, concrete: drop every url that is a PARENT of another url in the
    set — the category-menu pruning ``menus_crawling.py:12-19`` *intends*
    (as written, the reference compares each url's path against a list
    that includes itself, so its filter is a no-op; this implements the
    documented intent: keep only leaf category urls).

    A url is a parent when another url's path strictly extends its path
    below a ``/`` boundary (``/cakes`` < ``/cakes/birthday``; ``/cake``
    is NOT a parent of ``/cakes``). Join key = scheme + authority
    (host INCLUDING any explicit port) so the comparison never crosses
    sites — two services on different ports of one host are different
    sites — and candidate pairs are site-bucketed: per-site menu lists
    are dozens of urls (the reference's regime), so the within-site
    prefix join is tiny even when the url table itself is huge.
    Trailing slashes are normalized off before comparison; duplicates
    collapse first (the reference set semantics). Both site-root
    spellings behave identically (ADVICE r4): 'https://x.com' parses to
    a NULL path while 'https://x.com/' parses to '/', so the normalized
    path coalesces to '' — without it, concat(NULL, '/') is NULL, the
    startswith gate evaluates to NULL, and the bare-root spelling would
    survive even when children exist on the same site."""
    path = F.coalesce(
        F.regexp_replace(F.parse_url(F.col(url_col), F.lit("PATH")), "/+$", ""),
        F.lit(""),
    )
    site_key = F.concat_ws(
        "://",
        F.parse_url(F.col(url_col), F.lit("PROTOCOL")),
        F.parse_url(F.col(url_col), F.lit("AUTHORITY")),
    )
    keyed = (
        df.select(F.col(url_col))
        .distinct()
        .select(
            F.col(url_col),
            site_key.alias("__host"),
            path.alias("__path"),
        )
    )
    children = keyed.select(
        F.col("__host").alias("__chost"), F.col("__path").alias("__cpath")
    )
    parents = keyed.join(
        children,
        (F.col("__host") == F.col("__chost"))
        & F.col("__cpath").startswith(F.concat(F.col("__path"), F.lit("/"))),
        "left_semi",
    ).select(url_col)
    return keyed.join(parents, on=[url_col], how="left_anti").select(url_col)


def incremental_dedup(
    new_df: DataFrame,
    seen_digests: DataFrame | None,
    text_col: str,
    digest_col: str = "digest",
) -> tuple[DataFrame, DataFrame]:
    """Incremental exact dedup for a continuously-ingesting corpus: drop
    new rows whose content digest was seen in ANY earlier batch, then
    return (fresh_rows, updated_digest_set).

    The digest set is the only state carried between runs — one slim column,
    persisted as parquet, anti-joined against each new batch. The anti-join
    broadcasts while the seen-set is small and degrades gracefully to a
    shuffle join at billions of digests; either way new data never pairwise-
    compares against old data."""
    digest = F.coalesce(
        F.md5(F.lower(F.trim(F.col(text_col)))), F.lit("__NULL__")
    )
    keyed = new_df.withColumn(digest_col, digest)
    # batch-internal dedup first (keep an arbitrary-but-deterministic row)
    keyed = dedup_keep_first(keyed, keys=[digest_col], order_by=new_df.columns)
    if seen_digests is not None:
        fresh = keyed.join(seen_digests, on=[digest_col], how="left_anti")
        updated = seen_digests.unionByName(fresh.select(digest_col)).distinct()
    else:
        fresh = keyed
        updated = fresh.select(digest_col).distinct()
    return fresh.drop(digest_col), updated
