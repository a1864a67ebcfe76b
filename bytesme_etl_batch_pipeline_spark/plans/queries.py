"""Query catalog: every SURVEY §2 operator as a named (spark_fn, oracle_sql)
pair over the driver's testdata tables.

Contract (driver's ``__spark_entry__`` protocol):
* ``SPARK_QUERIES[name](spark, sf_dir) -> DataFrame``
* ``ORACLE_SQL[name]`` — ANSI SQL DuckDB runs on the same parquet views;
  compared by row-count + schema + order-insensitive value hash.

Float-determinism rule: any aggregated float column is computed through
exact DECIMAL arithmetic in BOTH engines (decimal sums are associative, so
Spark's partial aggregation order cannot perturb the result), then cast to
DOUBLE at the end. Raw float columns pass through untouched (same parquet
bits on both sides).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from typing import Callable

import numpy as np
import pandas as pd
from pyspark import SparkFiles
from pyspark.sql import DataFrame, GroupedData, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions import dec, seeded, strings
from ..functions.strings import canonicalize_url, register_parse_unit_price_udtf
from ..operators import aggregate as agg_ops
from ..operators import dedup as dedup_ops
from ..operators import enrich as E
from ..operators import joins as join_ops
from ..operators import llm as L
from ..operators import neardup as N
from ..operators import normalize as NORM
from ..operators import similarity as SIM
from ..operators import template
from ..operators import textops as T
from ..operators.aggregate import salted_count
from ..operators.bloom import bloom_decontaminate
from ..operators.bpe import _encode_word, train_bpe
from ..operators.categorize import build_rule_cascade
from ..operators.cdc import scd2_history, snapshot_diff
from ..operators.embed import embed_column
from ..operators.enrich import default_price
from ..operators.graph import connected_components, connected_components_star
from ..operators.joins import asof_join, range_join
from ..operators.multimodal import decode_and_featurize, phash_media, sample_frames
from ..operators.neardup import (
    blocked_shingle_commons,
    boilerplate_removal,
    decontaminate_overlap,
    exact_dedup_by_content,
    hamming_pairs_banded,
    segment_dedup,
    word_ngrams,
)
from ..operators.pq import (
    ivfpq_encode,
    ivfpq_search,
    pq_encode,
    pq_search,
    train_ivfpq,
    train_pq,
)
from ..operators.sampling import (
    dsir_resample,
    per_group_sample,
    shuffle_shards,
    stratified_sample,
    temperature_mix,
    train_val_test_split,
    weighted_sample,
)
from ..operators.similarity import (
    _dots,
    _hyperplane,
    _norm,
    lsh_signature,
    quantize_int8,
    topk_brute_force,
)
from ..operators.template import product_document, product_document_vi
from ..operators.textops import (
    LANG_STOPWORDS,
    compression_ratio,
    fold_accents,
    md5_hash48,
    normalize_unicode,
    token_count_ws,
    winnow_fingerprints,
    words,
)
from ..session import shuffle_width
from ..sources.tables import load_table
from ..streaming import events as SE

SparkQuery = Callable[[SparkSession, str], DataFrame]

SPARK_QUERIES: dict[str, SparkQuery] = {}
ORACLE_SQL: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: add a query (and optionally its DuckDB oracle) to the catalog."""

    def deco(fn: SparkQuery) -> SparkQuery:
        assert name not in SPARK_QUERIES, f"duplicate catalog query name: {name!r}"
        SPARK_QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


def _cpu_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan for map-CPU-bound consumers (shingling, per-token md5, array
    folds): spread a NON-SPLITTABLE small scan across the cluster before
    the expensive projection (see ``load_table`` ``min_parallelism`` —
    no-op once the scan has natural parallelism, as any 100 TB table
    does)."""
    return load_table(
        spark, sf_dir, name,
        min_parallelism=spark.sparkContext.defaultParallelism,
    )


def _pin_width(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition on ``keys`` at the session's shuffle width, PINNING the
    exchange against AQE's byte-target coalescing (r11). For shuffles
    whose DOWNSTREAM per-row work is super-linear in the shuffled bytes —
    basket pair explodes, melt+exact-distinct stacks — the post-shuffle
    rows are tiny, so AQE folds the compute stage to 1-4 partitions and
    the fan-out work runs nearly serial (measured: copurchase's pair
    stage at 4 of 32 cores). A user repartition is exempt from AQE
    coalescing, and the following groupBy on the same keys reuses the
    partitioning, so no extra exchange is added. Width tracks
    ``spark.sql.shuffle.partitions`` — the same session-adaptive knob as
    every other exchange (guide §2.5/§2.6; the r10 ANN candidate-dedup
    lesson applied to the aggregation sites)."""
    return df.repartition(
        shuffle_width(df.sparkSession), *[F.col(k) for k in keys]
    )


_LSH_EDGES_MEMO: dict = {}


def _neardup_lsh_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs over documents — the artifact SHARED by
    ``neardup_clusters`` and ``neardup_clusters_star`` (identical
    parameters; VERDICT r3 item 3). Materialized once per (Spark app,
    sf_dir) via ``localCheckpoint`` and memoized, so whichever CC variant
    runs second skips the whole shingle→minhash→band cascade (~2 s of a
    ~3 s query at sf0.1). Each query still stands alone: the first caller
    in a fresh session computes the cascade itself.

    Contract: the parquet under ``sf_dir`` is immutable for the life of
    the app (true for the driver, bench, and test fixtures — testdata is
    generated once). A session that regenerates the files must call
    ``_LSH_EDGES_MEMO.clear()`` to invalidate. Evicted entries release
    their checkpoint blocks via the ContextCleaner once the dropped
    reference is GC'd; entries are keyed by applicationId so nothing
    survives an app restart."""
    key = (spark.sparkContext.applicationId, sf_dir)
    got = _LSH_EDGES_MEMO.get(key)
    if got is None:
        d = load_table(spark, sf_dir, "documents")
        got = N.minhash_lsh_pairs(
            d, "doc_id", "text", num_hashes=4, bands=2, shingle_n=3
        ).localCheckpoint(eager=True)
        # drop artifacts of dead sessions (checkpoint RDDs die with the app)
        for k in [k for k in _LSH_EDGES_MEMO if k[0] != key[0]]:
            del _LSH_EDGES_MEMO[k]
        _LSH_EDGES_MEMO[key] = got
    return got



# ---------------------------------------------------------------------------
# Aggregation core (SURVEY §2.5) — flagship pricing summary.
# ---------------------------------------------------------------------------

@register(
    "pricing_summary",
    oracle="""
    -- decimal→double goes through VARCHAR: DuckDB's direct DECIMAL→DOUBLE
    -- double-rounds once the unscaled value exceeds 2^53 (scale-8 sums at
    -- sf≥0.1), while Spark's BigDecimal→double (and string→double in both
    -- engines) is correctly rounded
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
      CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_qty,
      COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q1-shaped pricing summary (A-class aggregations,
    SURVEY §2.5 extension surface). Map-side partial agg + one shuffle on the
    2-value group key; decimal sums keep the result bit-stable at any
    parallelism."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            (F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1)))
            .cast("double")
            .alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup (SURVEY §2.3)
# ---------------------------------------------------------------------------

@register(
    "dedup_keep_first",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity
    FROM (
      SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
             row_number() OVER (PARTITION BY l_orderkey, l_partkey
                                ORDER BY l_linenumber, l_suppkey, l_quantity) AS rn
      FROM lineitem
    ) t
    WHERE rn = 1
    """,
)
def q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: keyed dedup, keep-first under an explicit total order
    (reference ``remove_duplicates.py:6-12``; order key replaces pandas file
    order — SURVEY §7 hard part 2)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity"
    )
    # l_quantity completes the total order: the testdata contains fully
    # tied (okey, pkey, lineno, suppkey) rows, and keep-first is only
    # deterministic under a UNIQUE per-key order (operator contract).
    return dedup_ops.dedup_keep_first(
        li,
        keys=["l_orderkey", "l_partkey"],
        order_by=["l_linenumber", "l_suppkey", "l_quantity"],
    )


@register(
    "dup_report",
    oracle="""
    SELECT l_orderkey, l_partkey, COUNT(*) AS dup_count
    FROM lineitem
    GROUP BY l_orderkey, l_partkey
    HAVING COUNT(*) > 1
    """,
)
def q_dup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: duplicate detection report (reference
    ``tests/test_duplicate_products.py:6-19``)."""
    li = load_table(spark, sf_dir, "lineitem")
    return dedup_ops.duplicate_report(li, ["l_orderkey", "l_partkey"])


@register(
    "distinct_projection",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: set-semantics distinct on a projection (reference
    ``processed_urls`` set, ``products_scraping.py:129-137``)."""
    c = load_table(spark, sf_dir, "customer")
    return dedup_ops.dedup_distinct(c, ["c_mktsegment", "c_nationkey"])


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.4)
# ---------------------------------------------------------------------------

@register(
    "dim_join_rollup",
    oracle="""
    SELECT r.r_name,
           COUNT(*) AS n_customers,
           CAST(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def q_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J3: snowflake dim resolution via broadcast joins
    (reference dict probes ``seperate_tables.py:111-117,141-143``). Both dims
    broadcast → the fact side never shuffles for the join; the only exchange
    is the final 5-group rollup."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = join_ops.resolve_key(
        join_ops.resolve_key(c, n, on=[c.c_nationkey == n.n_nationkey]),
        r,
        on=[F.col("n_regionkey") == r.r_regionkey],
    )
    return joined.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(dec("c_acctbal")).cast("string").cast("double").alias("sum_acctbal"),
    )


@register(
    "anti_join_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4/U2: anti-join (reference parent-path set difference,
    ``menus_crawling.py:12-19,53-54``)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return dedup_ops.anti_join(c, o, on=["c_custkey"])


@register(
    "semi_join_active_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join — membership filter as a join (reference ``IN %s`` filter,
    ``generate_embeddings.py:397-398``, generalized beyond literal lists)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.join(o, on=["c_custkey"], how="left_semi")


# ---------------------------------------------------------------------------
# Sorts / limits / top-k (SURVEY §2.7)
# ---------------------------------------------------------------------------

@register(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: top-k with deterministic tie-break. Catalyst plans
    TakeOrderedAndProject — per-partition heaps, no global sort."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "window_topk_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) t
    WHERE rn <= 2
    """,
)
def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 window: top-2 orders per customer (per-group rank — the implicit
    window under reference A2)."""
    o = load_table(spark, sf_dir, "orders")
    # asc_nulls_last on the tie-break: Spark's ascending default is NULLS
    # FIRST, DuckDB's is NULLS LAST — a NULL orderkey tie would flip ranks
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc_nulls_last()
    )
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
    )


# ---------------------------------------------------------------------------
# Sequence codes / surrogate keys (SURVEY §2.5 A2/A3)
# ---------------------------------------------------------------------------

@register(
    "group_sequence_codes",
    oracle="""
    SELECT p_partkey, p_brand,
           printf('%s-%s-%03d',
                  upper(substr(p_type, 1, 2)),
                  upper(substr(p_brand, 1, 2)),
                  CAST(row_number() OVER (PARTITION BY p_brand ORDER BY p_partkey) AS INT)
           ) AS product_code
    FROM part
    """,
)
def q_group_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: per-group sequence codes ``XX-YY-NNN`` (reference
    ``generate_mock_data.py:11-16,82-103``)."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type")
    out = agg_ops.sequence_code(
        p, brand_col="p_type", group_col="p_brand", order_by=["p_partkey"]
    )
    return out.select("p_partkey", "p_brand", "product_code")


@register(
    "dense_dim_ids",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY n_name) AS INT) AS dim_id, n_name
    FROM (SELECT DISTINCT n_name FROM nation) t
    """,
)
def q_dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (dims): dense insertion-order ids re-expressed as an explicit
    deterministic order (reference ``enumerate(..., 1)``,
    ``seperate_tables.py:112``)."""
    n = load_table(spark, sf_dir, "nation").select("n_name").distinct()
    return agg_ops.dense_ids(n, "dim_id", order_by=["n_name"]).select("dim_id", "n_name")


# ---------------------------------------------------------------------------
# Set ops (SURVEY §2.8)
# ---------------------------------------------------------------------------

@register(
    "union_all_entities",
    oracle="""
    SELECT c_name AS name, 'customer' AS entity FROM customer
    UNION ALL
    SELECT s_name AS name, 'supplier' AS entity FROM supplier
    """,
)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: union-all across per-source extracts (reference
    ``all_products.extend(...)``, ``tests/test_products_scraping.py:17-23``)."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"), F.lit("customer").alias("entity")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"), F.lit("supplier").alias("entity")
    )
    return c.unionByName(s)


# ---------------------------------------------------------------------------
# Scalar functions / row transforms (SURVEY §2.2, §2.9)
# ---------------------------------------------------------------------------

@register(
    "string_normalize",
    oracle="""
    SELECT p_partkey,
           lower(trim(p_name)) AS clean_name,
           TRY_CAST(regexp_replace(p_brand, '[^0-9]', '', 'g') AS BIGINT) AS brand_num,
           upper(substr(p_name, 1, 3)) AS name_code,
           lpad(CAST(p_size AS VARCHAR), 3, '0') AS size_padded,
           concat_ws('-', p_brand, p_type) AS tagline
    FROM part
    """,
)
def q_string_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 string battery: lower/trim, strip-non-digits price cleaner,
    substring codes, lpad, concat_ws (reference sites:
    ``standardize_categories.py:39-40``, ``products_scraping.py:443-446``,
    ``generate_mock_data.py:12-15``)."""

    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        strings.clean_lower("p_name").alias("clean_name"),
        strings.strip_non_digits("p_brand").alias("brand_num"),
        F.upper(F.substring("p_name", 1, 3)).alias("name_code"),
        F.lpad(F.col("p_size").cast("string"), 3, "0").alias("size_padded"),
        F.concat_ws("-", "p_brand", "p_type").alias("tagline"),
    )


@register(
    "truncate_preview",
    oracle="""
    SELECT doc_id,
           CASE WHEN length(text) > 100 THEN substr(text, 1, 100) || '...'
                ELSE text END AS preview
    FROM documents
    """,
)
def q_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 truncation with ellipsis (reference
    ``generate_embeddings.py:106-108``)."""

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", strings.truncate_ellipsis("text", 100).alias("preview"))


@register(
    "json_extract_events",
    oracle="""
    SELECT event_id, event_type,
           CASE WHEN json_valid(props)
                THEN TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) END AS k
    FROM events
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 JSON field access (reference ``get('product_sizes')`` probes,
    ``seperate_tables.py:42-43``)."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        "event_type",
        # try_cast: NULL-on-malformed, matching the oracle's TRY_CAST —
        # plain cast would throw CAST_INVALID_INPUT under ANSI on dirty props
        F.get_json_object("props", "$.k").try_cast("int").alias("k"),
    )


@register(
    "tolerant_json_parse",
    oracle="""
    SELECT event_id,
           CASE WHEN json_valid(props)
                THEN TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) END AS k
    FROM events
    """,
)
def q_tolerant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 single-quoted-JSON tolerance (reference
    ``json.loads(s.replace("'", '"'))``, ``seperate_tables.py:38``; SURVEY §7
    hard part 3). The query *constructs* a single-quoted variant of each JSON
    payload, repairs it apostrophe-safely, and must recover the original
    value — the oracle reads the clean payload directly."""

    e = load_table(spark, sf_dir, "events")
    sq = F.translate(F.col("props"), '"', "'")  # simulate the dirty input shape
    repaired = strings.normalize_quoted_json(sq)
    return e.select(
        "event_id",
        F.get_json_object(repaired, "$.k").try_cast("int").alias("k"),
    )


@register(
    "month_rollup",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_total
    FROM orders
    GROUP BY 1
    """,
)
def q_month_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 date functions + rollup (reference audit-timestamp formatting,
    ``seperate_tables.py:31-32``, generalized to a time-bucketed agg)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec("o_totalprice")).cast("string").cast("double").alias("sum_total"),
        )
    )


@register(
    "conditional_rewrite",
    oracle="""
    SELECT event_id,
           CASE WHEN value >= 100 THEN 'high'
                WHEN value >= 50 THEN 'mid'
                ELSE 'low' END AS tier,
           CASE WHEN props IS NULL OR props = '' THEN 'missing'
                ELSE 'present' END AS props_state
    FROM events
    """,
)
def q_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/P8: null/empty gates + conditional value rewrite (reference
    ``generate_mock_data.py:113-128``, ``seperate_tables.py:46-62``)."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.when(F.col("value") >= 100, "high")
        .when(F.col("value") >= 50, "mid")
        .otherwise("low")
        .alias("tier"),
        F.when(
            F.col("props").isNull() | (F.col("props") == ""), "missing"
        )
        .otherwise("present")
        .alias("props_state"),
    )


@register(
    "membership_filter",
    oracle="""
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE p_type IN ('PROMO', 'ECONOMY') AND NOT contains(p_name, 'nut')
    """,
)
def q_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/P6: IN-list membership + substring anti-filter (reference
    ``WHERE product_code IN %s``, ``generate_embeddings.py:397-398``; skip
    patterns ``products_scraping.py:337-340``). Both predicates reach the
    parquet scan as pushed filters."""
    p = load_table(spark, sf_dir, "part")
    return p.select("p_partkey", "p_name", "p_type").filter(
        F.col("p_type").isin("PROMO", "ECONOMY") & ~F.col("p_name").contains("nut")
    )


# ---------------------------------------------------------------------------
# Reshaping: explode / zip (SURVEY §2.10, J6)
# ---------------------------------------------------------------------------

@register(
    "wordcount",
    oracle="""
    SELECT word, COUNT(*) AS n
    FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word FROM documents) t
    WHERE word <> ''
    GROUP BY word
    """,
)
def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: explode delimited text into child rows + count (reference image
    explode ``seperate_tables.py:81-106``, as the canonical split+explode)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "zip_explode_pairs",
    oracle="""
    SELECT p_partkey, CAST(t.i AS INT) AS pos,
           l1[t.i + 1] AS left_val, l2[t.i + 1] AS right_val
    FROM (
      -- a NULL component makes the whole piped string NULL (|| semantics);
      -- a NULL list has no positions to explode, so the row vanishes —
      -- same as Spark's posexplode of a NULL array
      SELECT p_partkey,
             string_split(p_brand || '|' || p_type, '|') AS l1,
             string_split(p_type || '|' || p_brand, '|') AS l2
      FROM part
      WHERE p_brand IS NOT NULL AND p_type IS NOT NULL
    ) s CROSS JOIN range(2) t(i)
    """,
)
def q_zip_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 + X1: positional zip of two parallel pipe-delimited strings, then
    explode with position (reference ``zip(images, image_names)``,
    ``seperate_tables.py:85``). Pure arrays_zip/posexplode — no UDF.
    NULL-propagating concat, NOT concat_ws: concat_ws silently SKIPS a
    NULL component, shortening one side and mispairing the zip; with
    concat a NULL component nulls the array and posexplode emits no rows
    (same as the oracle's || semantics)."""
    p = load_table(spark, sf_dir, "part")
    zipped = p.select(
        "p_partkey",
        F.arrays_zip(
            F.split(F.concat("p_brand", F.lit("|"), "p_type"), r"\|").alias("l"),
            F.split(F.concat("p_type", F.lit("|"), "p_brand"), r"\|").alias("r"),
        ).alias("z"),
    )
    return zipped.select(
        "p_partkey", F.posexplode("z").alias("pos", "pair")
    ).select(
        "p_partkey",
        "pos",
        F.col("pair.l").alias("left_val"),
        F.col("pair.r").alias("right_val"),
    )


# ---------------------------------------------------------------------------
# C1 rule-cascade classification (SURVEY §2.11)
# ---------------------------------------------------------------------------

_PART_RULES = [
    ("Promotional", ["promo"]),
    ("Economy", ["economy"]),
    ("Premium", ["large", "standard"]),
    ("Hardware", ["bolt", "rod", "nut", "screw"]),
    ("Widget", ["widget"]),
]
_PART_SPECIALS = [("medium", "Mid-range")]


@register(
    "rule_cascade_classify",
    oracle="""
    SELECT p_partkey, p_name, p_type,
      CASE
        WHEN contains(lower(trim(p_type)), 'medium') THEN 'Mid-range'
        WHEN lower(trim(p_type)) IN ('promo') THEN 'Promotional'
        WHEN lower(trim(p_type)) IN ('economy') THEN 'Economy'
        WHEN lower(trim(p_type)) IN ('large', 'standard') THEN 'Premium'
        WHEN lower(trim(p_type)) IN ('bolt', 'rod', 'nut', 'screw') THEN 'Hardware'
        WHEN lower(trim(p_type)) IN ('widget') THEN 'Widget'
        WHEN regexp_matches(p_name, '(?i)promo') THEN 'Promotional'
        WHEN regexp_matches(p_name, '(?i)economy') THEN 'Economy'
        WHEN regexp_matches(p_name, '(?i)large|standard') THEN 'Premium'
        WHEN regexp_matches(p_name, '(?i)bolt|rod|nut|screw') THEN 'Hardware'
        WHEN regexp_matches(p_name, '(?i)widget') THEN 'Widget'
        ELSE 'Others'
      END AS category_name
    FROM part
    """,
)
def q_rule_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: the reference's 3-tier category cascade
    (``standardize_categories.py:38-72``) as rules-as-data compiled to one
    ordered when-chain — special-case substring, exact raw match, then
    name-regex fallback, first hit wins in rule order. Uses the relaxed
    bare-substring tier-1 (TPC-H p_type is never pipe-joined); the
    reference-faithful multi-valued guard is exercised by the Vietnamese
    golden tests (tests/test_categorize.py)."""

    p = load_table(spark, sf_dir, "part")
    cascade = build_rule_cascade(
        name_col="p_name",
        raw_col="p_type",
        rules=_PART_RULES,
        special_cases=_PART_SPECIALS,
        special_multivalued_guard=False,
    )
    return p.select("p_partkey", "p_name", "p_type", cascade.alias("category_name"))


# ---------------------------------------------------------------------------
# Text analysis (engine extension: LLM-data-pipeline operators)
# ---------------------------------------------------------------------------

# DuckDB twin of textops.md5_hash48: hex-digit polynomial over the first 12
# md5 chars — every term an exact integer < 2^53, so the double sum is exact.
def _duck_hash48(expr: str) -> str:
    return (
        "CAST(list_sum(list_transform(range(12), i -> "
        f"(strpos('0123456789abcdef', substr(md5({expr}), i + 1, 1)) - 1) "
        "* 16 ** (11 - i))) AS BIGINT)"
    )


_DUCK_WORDS = "list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '')"


@register(
    "token_stats",
    oracle=f"""
    SELECT doc_id,
           len({_DUCK_WORDS}) AS n_ws_tokens,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS n_regex_tokens
    FROM documents
    """,
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens (engine
    extension; reference's only tokenizer is the unused pyvi import,
    SURVEY §2.12 E6)."""

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count_ws("text").alias("n_ws_tokens"),
        T.token_count_regex("text").alias("n_regex_tokens"),
    )


def _duck_lang_id_sql() -> str:
    hits = []
    for lang, sw in LANG_STOPWORDS:
        arr = ", ".join(f"'{w}'" for w in sw)
        hits.append(
            f"len(list_filter({_DUCK_WORDS}, w -> list_contains([{arr}], w))) AS s_{lang}"
        )
    langs = [lang for lang, _ in LANG_STOPWORDS]
    mx = f"greatest({', '.join('s_' + l for l in langs)})"
    case = "CASE WHEN " + mx + " = 0 THEN 'und' "
    for lang in langs:
        case += f"WHEN s_{lang} = {mx} THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"""
    SELECT doc_id, lang, {case} AS lang_pred
    FROM (SELECT doc_id, lang, {', '.join(hits)} FROM documents) t
    """


@register("lang_id", oracle=_duck_lang_id_sql())
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via stopword-hit argmax (n-gram heuristic; engine
    extension). Ties break in rule order; no hits → 'und'."""

    d = load_table(spark, sf_dir, "documents").withColumn("__ws", T.words("text"))
    return d.select(
        "doc_id", "lang", T.lang_id("text", ws=F.col("__ws")).alias("lang_pred")
    )


def _duck_en_stop() -> str:
    return "[" + ", ".join(f"'{w}'" for w in LANG_STOPWORDS[0][1]) + "]"


_DUCK_EN_STOP = _duck_en_stop()


@register(
    "doc_quality",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len({_DUCK_WORDS}) AS n_words,
             CASE WHEN len({_DUCK_WORDS}) > 0 THEN
               round(length(regexp_replace(text, '\\s', '', 'g'))
                     / len({_DUCK_WORDS}), 6) END AS avg_word_len,
             CASE WHEN length(text) > 0 THEN
               round(length(regexp_replace(text, '[^.!?,;]', '', 'g'))
                     / length(text), 6) END AS punct_ratio,
             CASE WHEN len({_DUCK_WORDS}) > 0 THEN
               round(len(list_filter({_DUCK_WORDS}, w -> list_contains({_DUCK_EN_STOP}, w)))
                     / len({_DUCK_WORDS}), 6) END AS stop_ratio
      FROM documents
    )
    SELECT doc_id, n_chars, n_words, avg_word_len, punct_ratio, stop_ratio,
           CASE WHEN n_words = 0 OR n_chars = 0 THEN 0.0 ELSE
             round(least(1.0, n_words / 100.0) * 0.4
                   + (1.0 - punct_ratio) * 0.3
                   + stop_ratio * 0.3, 6) END AS quality_score
    FROM feats
    """,
)
def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/punctuation/stopword features + composite
    score (engine extension for corpus filtering)."""

    d = load_table(spark, sf_dir, "documents")
    return T.quality_features(d, "text", ["doc_id"])


@register(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(text) AS content_md5,
           -- engine contract: NULL text -> NULL fingerprint; a wordless but
           -- non-NULL doc hashes the empty prefix (DuckDB array_to_string of
           -- an empty list is NULL, Spark array_join is '' — coalesce aligns)
           CASE WHEN text IS NULL THEN NULL
                ELSE {_duck_hash48(f"coalesce(array_to_string(({_DUCK_WORDS})[1:8], ' '), '')")}
           END AS prefix_hash48
    FROM documents
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: content md5 + 48-bit prefix hash (rolling-hash
    family; engine extension)."""

    d = load_table(spark, sf_dir, "documents")
    return T.fingerprint(d, "text", ["doc_id"], k_words=8)


@register(
    "simhash16",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest({_DUCK_WORDS}) AS word FROM documents
    ),
    h AS (SELECT doc_id, {_duck_hash48('word')} AS h FROM w),
    v AS (
      SELECT doc_id,
             {', '.join(f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}" for b in range(16))}
      FROM h GROUP BY doc_id
    )
    SELECT doc_id,
           CAST({' + '.join(f"CASE WHEN v{b} > 0 THEN {2**b} ELSE 0 END" for b in range(16))} AS BIGINT) AS simhash
    FROM v
    """,
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (16-bit, md5-derived word hashes) — near-dup fingerprint
    (engine extension). One shuffle on doc_id; bit votes are parallel
    aggregate expressions, not a per-bit row blowup."""

    d = load_table(spark, sf_dir, "documents")
    return T.simhash(d, "text", ["doc_id"], n_bits=16)


# ---------------------------------------------------------------------------
# Near-duplicate detection (engine extension)
# ---------------------------------------------------------------------------

@register(
    "exact_dedup_docs",
    oracle="""
    SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
    FROM documents d
    JOIN (
      -- sentinel: raw md5 of a NULL text is NULL, which never equi-joins,
      -- silently DROPPING every NULL-text doc; the engine keeps them as
      -- their own dedup group (neardup.exact_dedup_by_content)
      SELECT coalesce(md5(lower(trim(text))), '__NULL__') AS dg,
             min(doc_id) AS doc_id
      FROM documents GROUP BY 1
    ) k ON coalesce(md5(lower(trim(d.text))), '__NULL__') = k.dg
       AND d.doc_id = k.doc_id
    """,
)
def q_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup by md5 digest, keep lowest id — the O(n²)-free
    100 TB default (hash-groupBy, one shuffle)."""

    d = load_table(spark, sf_dir, "documents")
    return N.exact_dedup_by_content(d, "text", "doc_id").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


_DUCK_NGRAMS2 = (
    f"list_distinct(list_transform(range(greatest(len({_DUCK_WORDS}) - 1, 0)), "
    f"i -> array_to_string(({_DUCK_WORDS})[i + 1:i + 2], ' ')))"
)


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, source, unnest({_DUCK_NGRAMS2}) AS shingle FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.source = b.source AND a.shingle = b.shingle
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           round(n_common / (sa.sz + sb.sz - n_common), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(n_common / (sa.sz + sb.sz - n_common), 6) >= 0.1
    """,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked word-bigram Jaccard near-dup pairs (engine extension).
    Blocking key = source; at web scale the block is an LSH bucket.
    Shingles match on 64-bit hashes: two distinct shingles of one source
    that collide count as shared (see ``neardup.ngram_jaccard_pairs``)."""

    d = _cpu_spread(spark, sf_dir, "documents")
    return N.ngram_jaccard_pairs(
        d, "doc_id", "text", "source", n=2, threshold=0.1
    )


_DUCK_NGRAMS3 = (
    f"list_distinct(list_transform(range(greatest(len({_DUCK_WORDS}) - 2, 0)), "
    f"i -> array_to_string(({_DUCK_WORDS})[i + 1:i + 3], ' ')))"
)

_DUCK_MINHASH_SIG = f"""
    WITH sh AS (
      SELECT doc_id, unnest({_DUCK_NGRAMS3}) AS shingle FROM documents
    ),
    seeded AS (
      SELECT doc_id, t.seed, shingle
      FROM sh CROSS JOIN (SELECT unnest(range(4)) AS seed) t
    ),
    h AS (
      SELECT doc_id, seed,
             {_duck_hash48("CAST(seed AS VARCHAR) || '|' || shingle")} AS h
      FROM seeded
    )
    SELECT doc_id, CAST(seed AS INT) AS seed, MIN(h) AS minhash
    FROM h GROUP BY doc_id, seed
"""


@register("minhash_signatures", oracle=_DUCK_MINHASH_SIG)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (4 seeded hashes over trigram shingles — unigrams
    degenerate on small-vocabulary corpora: identical word-sets collide) — the
    map-side half of MinHash-LSH dedup (engine extension)."""

    d = _cpu_spread(spark, sf_dir, "documents")
    sig = N.minhash_signatures(d, "doc_id", "text", num_hashes=4, shingle_n=3)
    return sig.select("doc_id", F.col("seed").cast("int").alias("seed"), "minhash")


@register(
    "minhash_lsh_candidates",
    oracle=f"""
    WITH sig AS ({_DUCK_MINHASH_SIG}),
    banded AS (
      SELECT doc_id, CAST(seed // 2 AS INT) AS band,
             md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed)) AS band_hash
      FROM sig GROUP BY doc_id, band
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b ON a.band = b.band AND a.band_hash = b.band_hash
    WHERE a.doc_id < b.doc_id
    """,
)
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: 2 bands × 2 rows; equi-join on band hash
    so cost tracks duplicate density, not n² (engine extension)."""

    d = _cpu_spread(spark, sf_dir, "documents")
    return N.minhash_lsh_pairs(d, "doc_id", "text", num_hashes=4, bands=2, shingle_n=3)


@register(
    "neardup_clusters",
    oracle=f"""
    WITH RECURSIVE sig AS ({_DUCK_MINHASH_SIG}),
    banded AS (
      SELECT doc_id, CAST(seed // 2 AS INT) AS band,
             md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed)) AS band_hash
      FROM sig GROUP BY doc_id, band
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.band_hash = b.band_hash
      WHERE a.doc_id < b.doc_id
    ),
    sym AS (
      SELECT doc_a AS node, doc_b AS nbr FROM cand
      UNION SELECT doc_b, doc_a FROM cand
    ),
    reach(node, label) AS (
      SELECT node, node FROM (SELECT DISTINCT node FROM sym) n
      UNION
      SELECT s.nbr, r.label FROM reach r JOIN sym s ON s.node = r.node
    )
    SELECT node AS doc_id, min(label) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: LSH candidate pairs → connected
    components by iterative min-label propagation (one shuffle join + map-
    side min per round; rounds = cluster diameter, shallow for dup graphs).
    The oracle replays the closure with a recursive CTE. This is the step
    between pairwise verification and keep-one-per-group dedup that the
    reference's exact-key pandas dedup has no equivalent for."""

    edges = _neardup_lsh_edges(spark, sf_dir)
    cc = connected_components(edges, "doc_a", "doc_b")
    return cc.select(F.col("node").alias("doc_id"), "cluster_id")


@register(
    "neardup_clusters_star",
    oracle=f"""
    WITH RECURSIVE sig AS ({_DUCK_MINHASH_SIG}),
    banded AS (
      SELECT doc_id, CAST(seed // 2 AS INT) AS band,
             md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed)) AS band_hash
      FROM sig GROUP BY doc_id, band
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.band_hash = b.band_hash
      WHERE a.doc_id < b.doc_id
    ),
    sym AS (
      SELECT doc_a AS node, doc_b AS nbr FROM cand
      UNION SELECT doc_b, doc_a FROM cand
    ),
    reach(node, label) AS (
      SELECT node, node FROM (SELECT DISTINCT node FROM sym) n
      UNION
      SELECT s.nbr, r.label FROM reach r JOIN sym s ON s.node = r.node
    )
    SELECT node AS doc_id, min(label) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def q_neardup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same transitive near-dup clusters, computed by the alternating
    large-star/small-star contraction (``graph.connected_components_star``)
    instead of min-label propagation — rounds O(log² n) vs ∝ diameter, the
    variant for pathological high-diameter candidate graphs. Identical
    oracle as ``neardup_clusters``: both must reach the same fixpoint."""

    edges = _neardup_lsh_edges(spark, sf_dir)
    cc = connected_components_star(edges, "doc_a", "doc_b")
    return cc.select(F.col("node").alias("doc_id"), "cluster_id")


@register(
    "pii_redact",
    oracle="""
    WITH synth AS (
      SELECT doc_id, text ||
        CASE WHEN doc_id % 3 = 0 THEN ' Liên hệ user' || CAST(doc_id AS VARCHAR) || '@mail.example.vn nhé.'
             WHEN doc_id % 3 = 1 THEN ' Gọi 0' || lpad(CAST((doc_id * 7) % 100000000 AS VARCHAR), 8, '0') || ' để đặt.'
             ELSE ' Thẻ 4' || lpad(CAST((doc_id * 13) % 1000000000000000 AS VARCHAR), 15, '0') || ' đã lưu.'
        END AS raw
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\b\\d{13,16}\\b', '<CARD>', 'g'),
             '\\b0\\d{8,10}\\b', '<PHONE>', 'g') AS redacted
    FROM synth
    """,
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking over documents (training-data pipeline staple): email →
    card → phone regex chain, global replace, pure JVM expressions. Inputs
    are synthesized deterministically per doc so every pattern is exercised;
    order matters (card before phone so digit runs are not half-eaten).
    DuckDB twin needs the 'g' flag and RE2-safe patterns (no lookbehind)."""
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    raw = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" Liên hệ user"), did.cast("string"), F.lit("@mail.example.vn nhé.")),
        )
        .when(
            did % 3 == 1,
            F.concat(
                F.lit(" Gọi 0"),
                F.lpad(((did * 7) % 100000000).cast("string"), 8, "0"),
                F.lit(" để đặt."),
            ),
        )
        .otherwise(
            F.concat(
                F.lit(" Thẻ 4"),
                F.lpad(((did * 13) % 1000000000000000).cast("string"), 15, "0"),
                F.lit(" đã lưu."),
            )
        ),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                raw, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"
            ),
            r"\b\d{13,16}\b",
            "<CARD>",
        ),
        r"\b0\d{8,10}\b",
        "<PHONE>",
    )
    return d.select("doc_id", redacted.alias("redacted"))


@register(
    "repetition_signals",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest({_DUCK_WORDS}) AS word FROM documents
    ), c AS (
      SELECT doc_id, word, count(*) AS cnt FROM w GROUP BY doc_id, word
    )
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_words,
           count(*) AS n_distinct,
           round(count(*) / CAST(sum(cnt) AS DOUBLE), 6) AS distinct_ratio,
           round(max(cnt) / CAST(sum(cnt) AS DOUBLE), 6) AS top_word_frac
    FROM c GROUP BY doc_id
    """,
)
def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-family repetition quality signals: type/token diversity and
    top-term concentration per document — the standard screens for
    template/boilerplate junk in pretraining corpora. explode → two-level
    agg; both levels combine map-side (keys are (doc, word) then doc), so
    the shuffle carries per-doc distinct words, not token occurrences."""
    d = load_table(spark, sf_dir, "documents")
    words = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda w: w != "")
    per_word = (
        d.select("doc_id", F.explode(words).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return per_word.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(F.count(F.lit(1)) / F.sum("cnt"), 6).alias("distinct_ratio"),
        F.round(F.max("cnt") / F.sum("cnt"), 6).alias("top_word_frac"),
    )


@register(
    "domain_cap",
    oracle=f"""
    SELECT doc_id, source, cap_rank FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {_duck_hash48("'cap|' || CAST(doc_id AS VARCHAR)")}, doc_id
             ) AS cap_rank
      FROM documents
    ) t WHERE cap_rank <= 15
    """,
)
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (domain balancing): keep ≤15 docs per source,
    chosen by seeded hash order — reproducible under any partitioning and
    insensitive to ingest order, which rand()-based sampling is not. At
    100 TB the window is per-source (bounded groups), not global."""


    d = load_table(spark, sf_dir, "documents")
    order_key = md5_hash48(F.concat(F.lit("cap|"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(order_key, F.col("doc_id"))
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("cap_rank"))
        .filter(F.col("cap_rank") <= 15)
    )


def _zorder_terms(x: str, y: str, bits: int) -> str:
    """DuckDB bit-interleave: sum of ((x>>i)&1)<<2i | ((y>>i)&1)<<(2i+1)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@register(
    "zorder_layout_key",
    oracle=f"""
    SELECT o_orderkey,
           CAST(o_custkey % 256 AS BIGINT) AS dim_x,
           CAST(datediff('day', DATE '1992-01-01', o_orderdate) % 256 AS BIGINT) AS dim_y,
           CAST({_zorder_terms("(o_custkey % 256)",
                               "(datediff('day', DATE '1992-01-01', o_orderdate) % 256)", 8)}
                AS BIGINT) AS zkey
    FROM orders
    """,
)
def q_zorder_layout_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key over two scan dimensions — the lakehouse
    data-layout primitive Spark lacks natively: sort/partition the table by
    the interleaved-bit key and range scans on EITHER dimension touch few
    files (per-file min/max stay tight on both), where a lexicographic sort
    only prunes the leading column. Pure bit arithmetic, codegen'd; at
    100 TB this is the write-side `repartitionByRange(zkey)` before the
    parquet sink."""
    o = load_table(spark, sf_dir, "orders")
    x = (F.col("o_custkey") % 256).cast("long")
    y = (F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date")) % 256).cast(
        "long"
    )
    zkey = F.lit(0).cast("long")
    for i in range(8):
        zkey = zkey + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        zkey = zkey + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return o.select(
        "o_orderkey", x.alias("dim_x"), y.alias("dim_y"), zkey.alias("zkey")
    )


@register(
    "join_skew_report",
    oracle="""
    WITH per_key AS (
      SELECT o_custkey AS key, count(*) AS cnt FROM orders GROUP BY o_custkey
    ), stats AS (
      SELECT CAST(sum(cnt) AS DOUBLE) / count(*) AS avg_cnt FROM per_key
    )
    SELECT key, cnt, round(cnt / avg_cnt, 6) AS skew_factor
    FROM per_key CROSS JOIN stats
    ORDER BY cnt DESC, key
    LIMIT 10
    """,
)
def q_join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnosis for a join/agg key: top hot keys with their ratio to
    the mean — the measurement that decides between plain shuffle, AQE skew
    split, and explicit salting. One partial-agg shuffle + a broadcast of
    the 1-row mean; TakeOrderedAndProject for the top slice."""
    o = load_table(spark, sf_dir, "orders")
    per_key = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    stats = per_key.agg(
        (F.sum("cnt").cast("double") / F.count(F.lit(1))).alias("avg_cnt")
    )
    return (
        per_key.crossJoin(F.broadcast(stats))
        .select("key", "cnt", F.round(F.col("cnt") / F.col("avg_cnt"), 6).alias("skew_factor"))
        .orderBy(F.col("cnt").desc(), "key")
        .limit(10)
    )


@register(
    "doc_chunking",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_DUCK_WORDS} AS words FROM documents
    ), starts AS (
      SELECT doc_id, words, unnest(range(1, greatest(len(words) - 10, 1) + 1, 30)) AS start
      FROM w WHERE len(words) > 0
    )
    SELECT doc_id,
           CAST((start - 1) / 30 AS BIGINT) AS chunk_idx,
           array_to_string(list_slice(words, start, start + 39), ' ') AS chunk_text,
           len(list_slice(words, start, start + 39)) AS n_tokens
    FROM starts
    """,
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG/embedding chunker: 40-token windows with 10-token overlap (stride
    30). The word array is materialized ONCE as a named column before the
    per-chunk slices — higher-order-function lambdas re-evaluate outer
    expressions per element, so slicing over an inline split() would
    re-split the text per chunk (see minhash history). Explode fan-out is
    ~n_tokens/30 rows per doc — linear, map-side, no shuffle."""
    d = _cpu_spread(spark, sf_dir, "documents")
    words = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda w: w != "")
    with_words = d.select("doc_id", words.alias("words")).filter(
        F.size("words") > 0  # wordless/NULL docs emit no chunks (both engines)
    )
    starts = with_words.select(
        "doc_id",
        "words",
        F.explode(
            F.sequence(
                F.lit(1), F.greatest(F.size("words") - 10, F.lit(1)), F.lit(30)
            )
        ).alias("start"),
    )
    chunk = F.slice(F.col("words"), F.col("start"), 40)
    return starts.select(
        "doc_id",
        (((F.col("start") - 1) / 30).cast("long")).alias("chunk_idx"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_tokens"),
    )


@register(
    "sequence_packing",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, len({_DUCK_WORDS}) AS n_tokens,
             {_duck_hash48("'pack|' || CAST(doc_id AS VARCHAR)")} AS ord
      FROM documents
    )
    SELECT doc_id, source, n_tokens,
           CAST(floor((CAST(cum - n_tokens AS DOUBLE)) / 512) AS BIGINT) AS bin,
           CAST(cum - n_tokens AS BIGINT) - 512 * CAST(floor((CAST(cum - n_tokens AS DOUBLE)) / 512) AS BIGINT) AS bin_offset
    FROM (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY ord, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    ) s
    """,
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: assign documents to fixed-capacity (512
    token) bins by cumulative offset, per source — each doc starts at
    (cum - its tokens), its bin is that offset div capacity. Deterministic
    under any partitioning (seeded-hash order) and parallel per source; a
    GLOBAL packing order would serialize on one window partition at 100 TB,
    so the partition key IS the parallelism unit."""

    d = load_table(spark, sf_dir, "documents")
    words = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda w: w != "")
    t = d.select(
        "doc_id",
        "source",
        F.size(words).cast("long").alias("n_tokens"),
        md5_hash48(F.concat(F.lit("pack|"), F.col("doc_id").cast("string"))).alias("ord"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("ord", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    start = (cum - F.col("n_tokens")).cast("long")
    bin_ = F.floor(start.cast("double") / 512).cast("long")
    return t.select(
        "doc_id",
        "source",
        "n_tokens",
        bin_.alias("bin"),
        (start - F.lit(512) * bin_).alias("bin_offset"),
    )


@register(
    "cdc_apply",
    oracle="""
    WITH changes AS (
      SELECT o_orderkey % 5000 AS key,
             o_orderkey AS change_id,
             CASE WHEN o_orderkey % 10 = 9 THEN 'D'
                  WHEN o_orderkey % 10 >= 6 THEN 'U'
                  ELSE 'I' END AS op,
             o_totalprice AS payload
      FROM orders
    ), latest AS (
      SELECT key, op, payload,
             row_number() OVER (PARTITION BY key
                                ORDER BY change_id DESC) AS rn
      FROM changes
    )
    SELECT key, op AS last_op, payload
    FROM latest WHERE rn = 1 AND op IS DISTINCT FROM 'D'
    """,
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply: collapse a change feed (insert/update/delete records with
    a monotone change id) to current state — latest change per key wins,
    deletes drop the key. One shuffle on the key; in production this is the
    foreachBatch body over each CDC micro-batch (see
    streaming/events.run_foreach_batch_upsert) — here the batch form with
    an oracle."""
    o = load_table(spark, sf_dir, "orders")
    ok = F.col("o_orderkey")
    changes = o.select(
        (ok % 5000).alias("key"),
        ok.alias("change_id"),
        F.when(ok % 10 == 9, "D").when(ok % 10 >= 6, "U").otherwise("I").alias("op"),
        F.col("o_totalprice").alias("payload"),
    )
    w = Window.partitionBy("key").orderBy(F.col("change_id").desc())
    return (
        changes.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & ~F.col("op").eqNullSafe("D"))
        .select("key", F.col("op").alias("last_op"), "payload")
    )


# Shared synthetic change feed for the CDC-family queries (same derivation
# as cdc_apply's oracle so the two stay comparable).
_DUCK_CHANGES = """
    SELECT o_orderkey % 5000 AS key,
           o_orderkey AS change_id,
           CASE WHEN o_orderkey % 10 = 9 THEN 'D'
                WHEN o_orderkey % 10 >= 6 THEN 'U'
                ELSE 'I' END AS op,
           o_totalprice AS payload
    FROM orders
"""


def _spark_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    ok = F.col("o_orderkey")
    return o.select(
        (ok % 5000).alias("key"),
        ok.alias("change_id"),
        F.when(ok % 10 == 9, "D").when(ok % 10 >= 6, "U").otherwise("I").alias("op"),
        F.col("o_totalprice").alias("payload"),
    )


@register(
    "scd2_history",
    oracle=f"""
    WITH changes AS ({_DUCK_CHANGES}),
    v AS (
      SELECT key, change_id, op, payload,
             lead(change_id) OVER (PARTITION BY key ORDER BY change_id)
               AS valid_to
      FROM changes
    )
    SELECT key, payload, change_id AS valid_from, valid_to,
           valid_to IS NULL AS is_current
    FROM v WHERE op IS DISTINCT FROM 'D'
    """,
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history from the change feed: every surviving
    version of a key with its validity interval (see
    ``operators/cdc.scd2_history`` — one window shuffle on the key)."""

    return scd2_history(
        _spark_changes(spark, sf_dir),
        key_col="key",
        seq_col="change_id",
        payload_cols=["payload"],
    )


@register(
    "snapshot_diff_orders",
    oracle="""
    WITH old AS (
      SELECT o_orderkey AS key, o_totalprice AS old_price
      FROM orders WHERE o_orderkey % 3 <> 0
    ), new AS (
      SELECT o_orderkey AS key,
             o_totalprice + CASE WHEN o_orderkey % 7 = 0 THEN 10.0 ELSE 0.0 END
               AS new_price
      FROM orders WHERE o_orderkey % 5 <> 0
    )
    SELECT COALESCE(old.key, new.key) AS key,
           CASE WHEN old.key IS NULL THEN 'added'
                WHEN new.key IS NULL THEN 'removed'
                WHEN old_price IS DISTINCT FROM new_price THEN 'changed'
           END AS status,
           old_price, new_price
    FROM old FULL OUTER JOIN new ON old.key = new.key
    WHERE CASE WHEN old.key IS NULL THEN 'added'
               WHEN new.key IS NULL THEN 'removed'
               WHEN old_price IS DISTINCT FROM new_price THEN 'changed'
          END IS NOT NULL
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (incremental-load primitive): classify keys across two
    loads as added/removed/changed with a null-safe full-outer compare —
    ``operators/cdc.snapshot_diff``. The two snapshots here derive
    deterministically from orders (drop every 3rd / every 5th key, bump
    prices on multiples of 7)."""

    o = load_table(spark, sf_dir, "orders")
    ok = F.col("o_orderkey")
    old = o.filter(ok % 3 != 0).select(
        ok.alias("key"), F.col("o_totalprice").alias("price")
    )
    new = o.filter(ok % 5 != 0).select(
        ok.alias("key"),
        (
            F.col("o_totalprice")
            + F.when(ok % 7 == 0, F.lit(10.0)).otherwise(F.lit(0.0))
        ).alias("price"),
    )
    return snapshot_diff(old, new, key_col="key", compare_cols=["price"])


@register(
    "content_checksums",
    oracle=f"""
    SELECT source,
           COUNT(*) AS n_docs,
           bit_xor({_duck_hash48("text")}) AS xor48,
           MIN({_duck_hash48("text")}) AS min_h,
           MAX({_duck_hash48("text")}) AS max_h
    FROM documents GROUP BY source
    """,
)
def q_content_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-invariant per-source content fingerprint (anti-entropy check
    between two copies of a corpus): count + XOR/min/max of the row content
    hash. XOR is the order- and partitioning-invariant combiner that can
    never overflow — the safe choice under ANSI mode where a SUM of 2^48
    hashes would; one map-side-combined shuffle."""

    d = load_table(spark, sf_dir, "documents")
    h = md5_hash48(F.col("text"))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.bit_xor(h).alias("xor48"),
        F.min(h).alias("min_h"),
        F.max(h).alias("max_h"),
    )


@register(
    "per_group_sample_docs",
    oracle=f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {_duck_hash48("concat('pg|', CAST(doc_id AS VARCHAR))")},
                        doc_id) AS rn
      FROM documents
    ) t WHERE rn <= 5
    """,
)
def q_per_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-n sample per group (reservoir-sample replacement
    for bounded groups): hash-permute within each language, keep 5 — see
    ``sampling.per_group_sample``."""

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return per_group_sample(d, key_col="doc_id", group_col="lang", n=5, seed="pg")


@register(
    "equidepth_histogram",
    oracle="""
    WITH b AS (
      SELECT quantile_cont(o_totalprice, [0.25, 0.5, 0.75]) AS qs FROM orders
    )
    SELECT bucket,
           COUNT(*) AS n,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM (
      SELECT o_totalprice,
             1 + CAST(round(o_totalprice, 6) > round(qs[1], 6) AS INT)
               + CAST(round(o_totalprice, 6) > round(qs[2], 6) AS INT)
               + CAST(round(o_totalprice, 6) > round(qs[3], 6) AS INT) AS bucket
      FROM orders, b
    ) t
    GROUP BY bucket
    """,
)
def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quartile) histogram WITHOUT a global sort: pass 1
    computes the three quartile boundaries (one scalar aggregate), pass 2
    assigns buckets map-side against the broadcast boundaries and
    aggregates 4 groups. The ntile() formulation would be a single-partition
    window over the whole table — this shape scales; boundary compares are
    on round(…, 6) values, which both engines produce bit-identically."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.percentile("o_totalprice", F.lit([0.25, 0.5, 0.75])).alias("qs")
    )
    v = F.round(F.col("o_totalprice"), 6)

    def above(i: int):
        return (v > F.round(F.col("qs")[i], 6)).cast("int")

    return (
        o.crossJoin(F.broadcast(bounds))
        .withColumn("bucket", F.lit(1) + above(0) + above(1) + above(2))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


@register(
    "token_bigram_counts",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents),
    pairs AS (
      SELECT unnest(list_transform(range(len(ws) - 1),
                                   i -> ws[i + 1] || ' ' || ws[i + 2])) AS pair
      FROM w WHERE len(ws) >= 2
    )
    SELECT pair, COUNT(*) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT 30
    """,
)
def q_token_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token pair frequencies — the first counting step of a
    BPE-style tokenizer-training loop, corpus-wide. Explode to pairs, one
    map-side-combined count shuffle, TakeOrderedAndProject top-30
    (deterministic tiebreak on the pair string)."""

    d = load_table(spark, sf_dir, "documents").withColumn("ws", words("text"))
    pairs = (
        d.filter(F.size("ws") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(slice(ws, 1, size(ws) - 1),"
                    " (w, i) -> concat(w, ' ', element_at(ws, i + 2)))"
                )
            ).alias("pair")
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(30)
    )


@register(
    "multires_rollup",
    oracle="""
    WITH minutes AS (
      SELECT date_trunc('minute', ts) AS minute_start,
             COUNT(*) AS n
      FROM events GROUP BY 1
    ), hours AS (
      SELECT date_trunc('hour', minute_start) AS hour_start,
             CAST(SUM(n) AS BIGINT) AS n,
             COUNT(*) AS n_minutes_active
      FROM minutes GROUP BY 1
    )
    SELECT CAST(date_trunc('day', hour_start) AS DATE) AS day,
           CAST(SUM(n) AS BIGINT) AS n_events,
           COUNT(*) AS n_hours_active,
           CAST(SUM(n_minutes_active) AS BIGINT) AS n_minutes_active
    FROM hours GROUP BY 1
    """,
)
def q_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time rollup (hypertable continuous-aggregate
    cascade): minute counts → hourly from the MINUTE aggregate → daily from
    the HOURLY aggregate. Each coarser level re-aggregates the (tiny)
    finer pre-aggregate instead of rescanning raw events — the incremental
    shape a 100 TB event store needs; after the first shuffle every later
    one moves only rollup rows."""
    e = load_table(spark, sf_dir, "events")
    minutes = e.groupBy(F.date_trunc("minute", "ts").alias("minute_start")).agg(
        F.count(F.lit(1)).alias("n")
    )
    hours = minutes.groupBy(
        F.date_trunc("hour", "minute_start").alias("hour_start")
    ).agg(
        F.sum("n").alias("n"),
        F.count(F.lit(1)).alias("n_minutes_active"),
    )
    return hours.groupBy(
        F.date_trunc("day", "hour_start").cast("date").alias("day")
    ).agg(
        F.sum("n").alias("n_events"),
        F.count(F.lit(1)).alias("n_hours_active"),
        F.sum("n_minutes_active").alias("n_minutes_active"),
    )


@register(
    "cumulative_new_users",
    oracle="""
    WITH first_day AS (
      SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS day
      FROM events GROUP BY user_id
    ), per_day AS (
      SELECT day, COUNT(*) AS n_new FROM first_day GROUP BY day
    )
    SELECT day, n_new,
           CAST(SUM(n_new) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cumulative_users
    FROM per_day
    """,
)
def q_cumulative_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-acquisition curve: first-seen day per user, new-user counts per
    day, running total. The global running-sum window runs over the per-DAY
    aggregate (bounded rows: one per day), never over raw events — the
    only safe place for an unpartitioned window at scale."""
    e = load_table(spark, sf_dir, "events")
    first_day = e.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts").cast("date")).alias("day")
    )
    per_day = first_day.groupBy("day").agg(F.count(F.lit(1)).alias("n_new"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "day", "n_new", F.sum("n_new").over(w).alias("cumulative_users")
    )


@register(
    "rolling_7d_active_users",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events
    ), observed AS (SELECT DISTINCT day FROM du),
    contrib AS (
      SELECT CAST(gd AS DATE) AS grid_day, user_id
      FROM du, UNNEST(generate_series(du.day, du.day + INTERVAL 6 DAY,
                                      INTERVAL 1 DAY)) AS t(gd)
    )
    SELECT c.grid_day AS day, COUNT(DISTINCT c.user_id) AS active_7d
    FROM contrib c JOIN observed o ON c.grid_day = o.day
    GROUP BY c.grid_day
    """,
)
def q_rolling_7d_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day WITHOUT a sliding
    count-distinct window (unimplementable exactly) and WITHOUT an
    inequality join (BNLJ at scale): pre-dedup to (day, user) pairs, then
    each pair CONTRIBUTES itself to the 7 grid days it covers via a bounded
    explode — all equi-shuffles, 7× fanout on the deduped day-level pairs
    only. Grid days are semi-joined to observed days so trailing phantom
    windows never appear."""
    e = load_table(spark, sf_dir, "events")
    du = e.select(
        F.date_trunc("day", "ts").cast("date").alias("day"), "user_id"
    ).distinct()
    observed = du.select("day").distinct()
    contrib = du.select(
        F.explode(
            F.expr("sequence(day, date_add(day, 6), interval 1 day)")
        ).alias("grid_day"),
        "user_id",
    )
    return (
        contrib.join(observed, contrib.grid_day == observed.day, "left_semi")
        .groupBy(F.col("grid_day").alias("day"))
        .agg(F.countDistinct("user_id").alias("active_7d"))
    )


@register(
    "intra_doc_span_dedup",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents),
    spans AS (
      SELECT doc_id,
             list_transform(range(CAST(ceil(len(ws) / 5.0) AS INT)),
               j -> array_to_string(ws[j * 5 + 1 : j * 5 + 5], ' ')) AS sp
      FROM w
    )
    SELECT doc_id,
           CASE WHEN sp IS NULL THEN NULL
                ELSE coalesce(array_to_string(
                  list_transform(
                    list_filter(range(len(sp)),
                                i -> list_position(sp, sp[i + 1]) = i + 1),
                    i -> sp[i + 1]), ' '), '') END AS clean_text,
           CAST(len(sp) AS INT) AS n_spans,
           CAST(len(list_distinct(sp)) AS INT) AS n_unique_spans
    FROM spans
    """,
)
def q_intra_doc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repeated-span removal (the intra-doc step of
    C4-style cleaning; the cross-corpus twin is ``line_dedup_docs``):
    5-word spans, keep each span's first occurrence, rejoin. Entirely
    map-side array expressions — zero shuffles; Spark's ``array_distinct``
    preserves first-occurrence order, and the oracle replays that with a
    list_position first-index filter (DuckDB's ``list_distinct`` does NOT
    keep order)."""

    d = load_table(spark, sf_dir, "documents").withColumn("ws", words("text"))
    # Empty guard: Spark's sequence(0, -1) yields a DESCENDING [0, -1]
    # (step is inferred ±1), so a wordless doc would fabricate two phantom
    # spans — an empty word list must produce an empty span list.
    spans = F.expr(
        "CASE WHEN size(ws) = 0 THEN array() ELSE "
        "transform(sequence(0, cast(ceil(size(ws) / 5.0) as int) - 1),"
        " j -> array_join(slice(ws, j * 5 + 1, 5), ' ')) END"
    )
    return d.select(
        "doc_id",
        F.array_join(F.array_distinct(spans), " ").alias("clean_text"),
        F.size(spans).alias("n_spans"),
        F.size(F.array_distinct(spans)).alias("n_unique_spans"),
    )


_PROFILE_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate",
]


@register(
    "column_profile",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{c}' AS column_name, COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_null,
               COUNT(DISTINCT {c}) AS n_distinct
        FROM lineitem"""
        for c in _PROFILE_COLS
    ),
)
def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table column profile (row count, nulls, exact distincts per
    column) — the first data-profiling pass of any ingest. ONE scan: every
    column stacks to (column_name, value-as-string) rows — cast is
    injective per column so distinct counts are unchanged — then a single
    grouped aggregate; vs 11 separate COUNT(DISTINCT) passes. The 11× melt
    fanout is the honest cost of exact profiling; swap approx_count_distinct
    into the same shape at 100 TB."""
    li = _cpu_spread(spark, sf_dir, "lineitem")
    stack_expr = "stack({}, {}) AS (column_name, value)".format(
        len(_PROFILE_COLS),
        ", ".join(f"'{c}', cast({c} as string)" for c in _PROFILE_COLS),
    )
    # Examined, NOT pinned (r11): a _pin_width repartition ahead of the
    # distinct agg was measured 1.6x SLOWER — it exchanges the RAW 11x
    # melt rows where the unpinned plan exchanges map-side PARTIALLY
    # DEDUPED (column_name, value) pairs; losing partial aggregation
    # costs more than the AQE-narrowed reduce stage (guide §2.3
    # aggregate-before-shuffle beats stage-width here).
    return (
        li.select(F.expr(stack_expr))
        .groupBy("column_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null"),
            F.countDistinct("value").alias("n_distinct"),
        )
    )


@register(
    "dau_wau_stickiness",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events
    ), dau AS (
      SELECT day, COUNT(*) AS dau FROM du GROUP BY day
    ), contrib AS (
      SELECT CAST(gd AS DATE) AS grid_day, user_id
      FROM du, UNNEST(generate_series(du.day, du.day + INTERVAL 6 DAY,
                                      INTERVAL 1 DAY)) AS t(gd)
    ), wau AS (
      SELECT c.grid_day AS day, COUNT(DISTINCT c.user_id) AS wau
      FROM contrib c JOIN dau d ON c.grid_day = d.day
      GROUP BY c.grid_day
    )
    SELECT day, dau, wau,
           round(CAST(dau AS DOUBLE) / wau, 6) AS stickiness
    FROM dau JOIN wau USING (day)
    """,
)
def q_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day (the engagement ratio product dashboards
    live on): daily distinct actives over trailing-7-day distinct actives,
    both from ONE pre-deduped (day, user) set — the WAU side reuses the
    bounded contribute-explode from ``rolling_7d_active_users``, and the
    dau/wau join runs day-partitioned on bounded day rows."""
    e = load_table(spark, sf_dir, "events")
    du = e.select(
        F.date_trunc("day", "ts").cast("date").alias("day"), "user_id"
    ).distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = du.select(
        F.explode(
            F.expr("sequence(day, date_add(day, 6), interval 1 day)")
        ).alias("grid_day"),
        "user_id",
    )
    wau = (
        contrib.join(dau, contrib.grid_day == dau.day, "left_semi")
        .groupBy(F.col("grid_day").alias("day"))
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias("stickiness"),
    )


@register(
    "tpch_q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
             * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE)
             AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): segment-filtered customers join
    orders join lineitem, revenue per order, top 10. Filters reach the
    parquet scans (predicate pushdown); the segment-filtered customer side
    broadcasts; revenue folds through DECIMAL for order-invariant sums."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    revenue = F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.cast("string").cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "tpch_q5_local_supplier",
    oracle="""
    SELECT n_name,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
             * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE)
             AS revenue
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): the 6-table star — facts
    shuffle on their join keys once each, every dimension (nation, region,
    supplier, date-filtered customer set) rides a broadcast, and the
    same-nation customer/supplier condition prunes rows inside the join.
    The canonical did-Catalyst-pick-the-right-plan benchmark."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(revenue.cast("string").cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@register(
    "fuzzy_name_pairs",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    blocked AS (SELECT p_name, split_part(p_name, ' ', 2) AS noun FROM names)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM blocked a JOIN blocked b
      ON a.noun = b.noun AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
)
def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy-match join (entity-resolution primitive): DISTINCT the
    names first (the match universe is entities, not rows — the shrink that
    makes fuzzy joins feasible at corpus scale), self-join within a
    blocking key (the noun), edit-distance filter. Never an all-pairs
    cross product; block sizes bound the quadratic term."""
    p = load_table(spark, sf_dir, "part")
    names = p.select("p_name").distinct().withColumn(
        "noun", F.split_part(F.col("p_name"), F.lit(" "), F.lit(2))
    )
    a = names.select(F.col("p_name").alias("name_a"), F.col("noun"))
    b = names.select(F.col("p_name").alias("name_b"), F.col("noun"))
    return (
        a.join(b, "noun")
        .filter(F.col("name_a") < F.col("name_b"))
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").alias("dist"),
        )
        .filter(F.col("dist") <= 4)
    )


@register(
    "longest_user_streaks",
    oracle="""
    WITH du AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ), islands AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                        AS INT) AS island
      FROM du
    ), streaks AS (
      SELECT user_id, island, COUNT(*) AS len FROM islands
      GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS n_active_days,
           MAX(len) AS longest_streak
    FROM streaks GROUP BY user_id
    """,
)
def q_longest_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: consecutive-active-day streaks per user (the
    engagement metric behind 'N-day streak' features). day − row_number is
    constant within a run of consecutive days — the classic trick; one
    window + two keyed aggregates, all partitioned by user."""
    e = load_table(spark, sf_dir, "events")
    du = e.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islands = du.withColumn(
        "island", F.date_sub("day", F.row_number().over(w))
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("len").alias("n_active_days"),
        F.max("len").alias("longest_streak"),
    )


@register(
    "part_supplier_variety",
    oracle="""
    SELECT p_type,
           COUNT(DISTINCT l_suppkey) AS n_suppliers,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_type
    """,
)
def q_part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier variety per part type (TPC-H Q16 family): broadcast the part
    dim onto the fact, then multi-column COUNT DISTINCT — Spark expands
    multiple distincts with a single grouping-id rewrite, still one logical
    pass over the fact."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_type")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "modal_quantity_per_flag",
    oracle="""
    WITH counts AS (
      SELECT l_returnflag, l_quantity, COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag, l_quantity
    ), ranked AS (
      SELECT l_returnflag, l_quantity, n,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY n DESC, l_quantity) AS rn
      FROM counts
    )
    SELECT r.l_returnflag,
           r.l_quantity AS modal_quantity,
           r.n AS modal_count,
           m.median_quantity
    FROM ranked r JOIN (
      SELECT l_returnflag,
             round(quantile_cont(l_quantity, 0.5), 6) AS median_quantity
      FROM lineitem GROUP BY l_returnflag
    ) m USING (l_returnflag)
    WHERE rn = 1
    """,
)
def q_modal_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode per group: count-then-rank with an explicit
    tiebreak (smallest value wins) — the built-in ``mode()`` aggregate picks
    an ARBITRARY modal value on ties in both engines, which is exactly the
    kind of nondeterminism a verified pipeline can't ship. Plus the exact
    median for contrast; the rank runs over the (tiny) per-group value
    counts, not raw rows."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("n").desc(), F.col("l_quantity").asc()
    )
    modal = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("modal_quantity"),
            F.col("n").alias("modal_count"),
        )
    )
    med = li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("median_quantity")
    )
    return modal.join(med, "l_returnflag")


@register(
    "top_tokens_per_lang",
    oracle=f"""
    WITH tok AS (
      SELECT lang, unnest({_DUCK_WORDS}) AS token FROM documents
    ), counts AS (
      SELECT lang, token, COUNT(*) AS n FROM tok GROUP BY lang, token
    )
    SELECT lang, token, n, rank FROM (
      SELECT lang, token, n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, token)
               AS rank
      FROM counts
    ) t WHERE rank <= 5
    """,
)
def q_top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-5 tokens: the grouped heavy-hitter variant (global
    version: ``heavy_hitter_tokens``). Explode → one map-side-combined
    count shuffle → rank over the per-lang COUNTS (vocab-sized, not
    corpus-sized)."""

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(words("text")).alias("token"))
    counts = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("token").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("lang", "token", "n", "rank")
    )


@register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavior transition matrix (Markov counts): lag within
    each user's event sequence (event_id tiebreak for total order), then
    count (prev → next) pairs. One user-partitioned window + one 25-cell
    aggregate."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.withColumn("prev_type", F.lag("event_type").over(w))
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "weekly_cohort_retention",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS week
      FROM events
    ), cohort AS (
      SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY user_id
    )
    SELECT c.cohort_week,
           CAST(date_diff('day', c.cohort_week, uw.week) // 7 AS INT)
             AS week_offset,
           COUNT(DISTINCT uw.user_id) AS n_users
    FROM uw JOIN cohort c USING (user_id)
    GROUP BY 1, 2
    """,
)
def q_weekly_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix (generalizes ``next_day_retention``):
    users keyed by first-activity week, counted at each week offset. The
    per-user cohort table joins back on user_id — both sides already hash
    on user_id so the join reuses the aggregation's partitioning."""
    e = load_table(spark, sf_dir, "events")
    uw = e.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
    ).distinct()
    cohort = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        uw.join(cohort, "user_id")
        .select(
            "cohort_week",
            (F.datediff("week", "cohort_week") / 7).cast("int").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "label_centroids",
    oracle="""
    WITH ex AS (
      SELECT label,
             unnest(list_transform(range(len(embedding)),
                                   i -> {'dim': i, 'x': embedding[i + 1]}))
               AS u
      FROM embeddings
    )
    SELECT label, CAST(u.dim AS INT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(CAST(SUM(CAST(u.x AS DECIMAL(27,12))) / COUNT(*) AS DOUBLE), 6)
             AS centroid
    FROM ex GROUP BY label, u.dim
    """,
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid (the vector AGGREGATE primitive behind
    k-means/IVF training and class prototypes), exploded to (label, dim)
    rows so the mean is a plain keyed aggregate — no vector UDAF, full
    map-side combine. Component sums fold through DECIMAL so the mean is
    order/partitioning-invariant and bit-identical to the oracle."""
    em = load_table(spark, sf_dir, "embeddings")
    ex = em.select("label", F.posexplode("embedding").alias("dim", "x"))
    return ex.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            (F.sum(F.col("x").cast("decimal(27,12)")) / F.count(F.lit(1))).cast(
                "double"
            ),
            6,
        ).alias("centroid"),
    )


@register(
    "quality_filter_chain",
    oracle="""
    SELECT doc_id, reject_reason, reject_reason IS NULL AS kept
    FROM (
      SELECT doc_id,
             CASE WHEN text IS NULL OR n_chars IS NULL OR lang IS NULL
                    THEN 'missing_metadata'
                  WHEN n_chars < 60 THEN 'too_short'
                  WHEN n_chars > 1500 THEN 'too_long'
                  WHEN lang NOT IN ('en', 'vi') THEN 'lang_out_of_scope'
                  WHEN length(regexp_replace(text, '[a-zA-Zàáạảãâầấậẩẫăằắặẳẵèéẹẻẽêềếệểễìíịỉĩòóọỏõôồốộổỗơờớợởỡùúụủũưừứựửữỳýỵỷỹđ0-9\\s]', '', 'g'))
                       > CAST(0.1 * length(text) AS DOUBLE) THEN 'too_much_symbol'
                  ELSE NULL END AS reject_reason
      FROM documents
    ) t
    """,
)
def q_quality_filter_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rules-as-data corpus filter chain with reject reasons (first failing
    rule wins): metadata presence → length bounds → language scope →
    symbol-density screen. The leading missing_metadata rule keeps every
    later comparison two-valued, so ``kept = reason IS NULL`` means the
    same thing in Spark and the oracle (a NULL-metadata row is rejected,
    not silently kept). One codegen'd projection; at scale the kept subset
    feeds dedup/mixing and the reasons feed the data-quality report."""
    d = load_table(spark, sf_dir, "documents")
    viet = "àáạảãâầấậẩẫăằắặẳẵèéẹẻẽêềếệểễìíịỉĩòóọỏõôồốộổỗơờớợởỡùúụủũưừứựửữỳýỵỷỹđ"
    symbol_len = F.length(
        F.regexp_replace(F.col("text"), f"[a-zA-Z{viet}0-9\\s]", "")
    )
    too_symbolic = symbol_len > (F.lit(0.1) * F.length("text")).cast("double")
    reason = (
        F.when(
            F.col("text").isNull() | F.col("n_chars").isNull() | F.col("lang").isNull(),
            "missing_metadata",
        )
        .when(F.col("n_chars") < 60, "too_short")
        .when(F.col("n_chars") > 1500, "too_long")
        .when(~F.col("lang").isin("en", "vi"), "lang_out_of_scope")
        .when(too_symbolic, "too_much_symbol")
    )
    return d.select(
        "doc_id", reason.alias("reject_reason"), reason.isNull().alias("kept")
    )


# ---------------------------------------------------------------------------
# Similarity search (SURVEY §2.12 E4 + engine extension)
# ---------------------------------------------------------------------------

# DuckDB twin of similarity._dots/_norm: explicit ascending-index fold so the
# double accumulation order matches Spark's sequential aggregate() exactly.
def _duck_dot(a: str, b: str) -> str:
    # NULL-element guard: DuckDB list_sum SKIPS NULL elements, silently
    # computing a partial dot product for a corrupt vector; Spark's
    # F.aggregate propagates NULL (the engine contract — a vector with a
    # NULL component has no defined score). Length guard for the same
    # reason: a RAGGED pair would compute a partial dot (short side) or
    # skip the out-of-range NULLs (long side), where Spark's zip_with
    # padding propagates NULL. CASE of a NULL condition falls through to
    # the body, which is itself NULL for a NULL list.
    body = (
        f"list_sum(list_transform(range(len({a})), i -> "
        f"CAST({a}[i + 1] AS DOUBLE) * CAST({b}[i + 1] AS DOUBLE)))"
    )
    return (
        f"(CASE WHEN len(list_filter({a}, x -> x IS NULL)) > 0 "
        f"OR len(list_filter({b}, x -> x IS NULL)) > 0 "
        f"OR len({a}) <> len({b}) "
        f"THEN NULL ELSE {body} END)"
    )


def _duck_cosine(a: str, b: str) -> str:
    return (
        f"round({_duck_dot(a, b)} / "
        f"(sqrt({_duck_dot(a, a)}) * sqrt({_duck_dot(b, b)})), 6)"
    )


@register(
    "cosine_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, label, {_duck_cosine('embedding', 'qv')} AS score
    FROM embeddings CROSS JOIN q
    ORDER BY score DESC, vec_id
    LIMIT 10
    """,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 brute-force cosine top-k against a query vector (reference pgvector
    ``ORDER BY distance LIMIT k``, ``generate_embeddings.py:418-452`` — here
    executed natively: broadcast query, map-side scoring,
    TakeOrderedAndProject)."""

    e = load_table(spark, sf_dir, "embeddings")
    query = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    out = SIM.topk_brute_force(e, query, k=10, metric="cosine")
    return out.select("vec_id", "label", "score")


@register(
    "l2_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, label,
           -- NULL-element + length guard: list_sum skips NULLs (partial
           -- distance) and a ragged pair would partial-sum too; the
           -- engine propagates NULL and sorts those rows last
           round(CASE WHEN len(list_filter(embedding, x -> x IS NULL)) > 0
                      OR len(embedding) <> len(qv)
                 THEN NULL
                 ELSE sqrt(list_sum(list_transform(range(len(embedding)), i ->
                   (CAST(embedding[i + 1] AS DOUBLE) - CAST(qv[i + 1] AS DOUBLE))
                   * (CAST(embedding[i + 1] AS DOUBLE) - CAST(qv[i + 1] AS DOUBLE)))))
                 END, 6) AS distance
    FROM embeddings CROSS JOIN q
    ORDER BY distance, vec_id
    LIMIT 10
    """,
)
def q_l2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 L2-distance top-k (the reference's actual metric — pgvector ``<->``
    with score ``1 - distance``, ``generate_embeddings.py:487``)."""

    e = load_table(spark, sf_dir, "embeddings")
    query = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    out = SIM.topk_brute_force(e, query, k=10, metric="l2")
    return out.select("vec_id", "label", "distance")


@register(
    "embedding_pairs_blocked",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_duck_cosine('a.embedding', 'b.embedding')} AS cosine
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_duck_cosine('a.embedding', 'b.embedding')} >= 0.3
    """,
)
def q_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within a blocking key (label) — the
    exact-verify stage of an ANN dedup pipeline (engine extension)."""

    e = load_table(spark, sf_dir, "embeddings")
    return SIM.pairs_above_threshold(
        e, "vec_id", "embedding", "label", threshold=0.3
    )


@register(
    "semantic_dedup_embeddings",
    oracle=f"""
    WITH removals AS (
      SELECT DISTINCT b.vec_id AS rid
      FROM embeddings a
      JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {_duck_cosine('a.embedding', 'b.embedding')} >= 0.35
    )
    SELECT e.vec_id, e.label
    FROM embeddings e
    WHERE e.vec_id NOT IN (SELECT rid FROM removals)
    """,
)
def q_semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup-style semantic dedup over the embedding column: cosine
    near-dup pairs within a blocking key (label ≈ the cluster id an IVF/LSH
    stage assigns at scale), then keep-lowest-id survival — the embedding
    analogue of ``neardup_dedup_docs`` (engine extension; the reference
    stops at pgvector top-k, ``generate_embeddings.py:418-452``).

    Scale shape: pairwise work only inside blocks (never unblocked), one
    distinct on the removal ids, one broadcast-able anti-join back to the
    corpus spine."""

    e = load_table(spark, sf_dir, "embeddings")
    pairs = SIM.pairs_above_threshold(
        e, "vec_id", "embedding", "label", threshold=0.35
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    return N.neardup_filter(e.select("vec_id", "label"), pairs, "vec_id")


def _duck_lsh_window_cands(n_planes: int = 16, n_bands: int = 4, window: int = 8) -> str:
    """DuckDB twin of ``similarity.lsh_band_window_pairs``'s candidate +
    verify stages, as a WITH-clause body ending in a ``verified`` CTE
    (id_a, id_b, cosine). The oracle independently re-derives the md5
    hyperplanes, every signature bit, the band decomposition, the
    sorted-neighborhood lead() pairs, and the exact cosines — nothing is
    smuggled from the Spark side."""
    # same contract as lsh_band_window_pairs: a non-divisible band count
    # would silently drop high signature bits on both engines at once
    assert n_planes % n_bands == 0, (n_planes, n_bands)
    r_bits = n_planes // n_bands
    leads = ",\n             ".join(
        f"lead(vec_id, {i}) OVER w AS n{i}" for i in range(1, window + 1)
    )
    lead_list = ", ".join(f"n{i}" for i in range(1, window + 1))
    plane_h = _duck_hash48("'7|' || CAST(j AS VARCHAR) || '|' || CAST(ii AS VARCHAR)")
    return f"""
    planes AS (
      SELECT j, list_transform(range(64), ii ->
        ({plane_h} / 281474976710656.0) * 2.0 - 1.0) AS plane
      FROM range({n_planes}) t(j)
    ),
    -- valid vectors only: the engine's lsh_signature is NULL for a NULL
    -- vector, one with a NULL element, or a wrong-length one, so corrupt
    -- rows can never become candidates
    sigs AS MATERIALIZED (
      SELECT e.vec_id,
             CAST(SUM(CASE WHEN {_duck_dot('e.embedding', 'p.plane')} > 0
                           THEN (CAST(1 AS BIGINT) << p.j) ELSE 0 END) AS BIGINT) AS sig
      FROM embeddings e CROSS JOIN planes p
      WHERE e.embedding IS NOT NULL
        AND len(list_filter(e.embedding, x -> x IS NULL)) = 0
        AND len(e.embedding) = 64
      GROUP BY e.vec_id
    ),
    banded AS (
      SELECT vec_id, b, (sig >> ({r_bits} * b)) & {2**r_bits - 1} AS bval
      FROM sigs CROSS JOIN range({n_bands}) t(b)
    ),
    neigh AS (
      SELECT vec_id, {leads}
      FROM banded WINDOW w AS (PARTITION BY b, bval ORDER BY vec_id)
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT id_a, id_b FROM (
        SELECT vec_id AS id_a, unnest([{lead_list}]) AS id_b FROM neigh
      ) WHERE id_b IS NOT NULL
    ),
    verified AS MATERIALIZED (
      SELECT c.id_a, c.id_b,
             {_duck_cosine('ea.embedding', 'eb.embedding')} AS cosine
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.id_a
      JOIN embeddings eb ON eb.vec_id = c.id_b
    )"""


_DUCK_ANN_CANDS = _duck_lsh_window_cands()


@register(
    "embedding_pairs_ann",
    oracle=f"""
    WITH {_DUCK_ANN_CANDS}
    SELECT id_a, id_b, cosine FROM verified WHERE cosine >= 0.3
    """,
)
def q_embedding_pairs_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shaped twin of ``embedding_pairs_blocked``: the exact
    cosine verify stage fed by LSH CANDIDATES with bounded per-row fan-out
    (16-plane signature → 4 bands, sorted-neighborhood window 8 inside
    each band bucket) instead of raw metadata blocks. Raw blocks grow
    linearly with the corpus, so block-pair work grows ~SF² — the reason
    the blocked variant is value-verified at sf0.01/sf1 but skipped at
    sf10. This variant's candidate volume is ≤ 32 pairs/row at ANY scale,
    so it runs — and is fingerprint-verified — at sf10 too."""

    e = load_table(spark, sf_dir, "embeddings")
    return SIM.lsh_band_window_pairs(
        e, "vec_id", "embedding", dim=64, threshold=0.3
    )


@register(
    "semantic_dedup_ann",
    oracle=f"""
    WITH {_DUCK_ANN_CANDS},
    removals AS (
      SELECT DISTINCT id_b FROM verified WHERE cosine >= 0.35
    )
    SELECT e.vec_id, e.label FROM embeddings e
    WHERE e.vec_id NOT IN (SELECT id_b FROM removals)
    """,
)
def q_semantic_dedup_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shaped twin of ``semantic_dedup_embeddings`` (SemDedup):
    keep-lowest-id survival over LSH-candidate near-dup pairs (bounded
    fan-out) instead of label-block pairs. Candidate generation is one
    window shuffle; verification touches ≤ 32 candidates/row; survival is
    one distinct + one anti-join — every stage linear in the corpus."""

    e = load_table(spark, sf_dir, "embeddings")
    pairs = SIM.lsh_band_window_pairs(
        e, "vec_id", "embedding", dim=64, threshold=0.35
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    return N.neardup_filter(e.select("vec_id", "label"), pairs, "vec_id")


@register(
    "bitext_margin_ann",
    oracle=f"""
    WITH {_DUCK_ANN_CANDS},
    lab AS (SELECT vec_id, label FROM embeddings),
    cross_pairs AS MATERIALIZED (
      SELECT CASE WHEN la.label = 0 THEN v.id_a ELSE v.id_b END AS a_id,
             CASE WHEN la.label = 0 THEN v.id_b ELSE v.id_a END AS b_id,
             v.cosine AS c
      FROM verified v
      JOIN lab la ON la.vec_id = v.id_a
      JOIN lab lb ON lb.vec_id = v.id_b
      WHERE (la.label = 0 AND lb.label = 1)
         OR (la.label = 1 AND lb.label = 0)
    ),
    ka AS (
      SELECT a_id, SUM(CAST(round(c * 1000000) AS BIGINT)) AS ksum_a FROM (
        SELECT a_id, c,
               row_number() OVER (PARTITION BY a_id ORDER BY c DESC, b_id) AS rn
        FROM cross_pairs
      ) t WHERE rn <= 4 GROUP BY a_id
    ),
    kb AS (
      SELECT b_id, SUM(CAST(round(c * 1000000) AS BIGINT)) AS ksum_b FROM (
        SELECT b_id, c,
               row_number() OVER (PARTITION BY b_id ORDER BY c DESC, a_id) AS rn
        FROM cross_pairs
      ) t WHERE rn <= 4 GROUP BY b_id
    ),
    margins AS (
      SELECT s.a_id, s.b_id, s.c,
             round(s.c * 8000000.0 / (ka.ksum_a + kb.ksum_b), 6) AS margin
      FROM cross_pairs s JOIN ka ON s.a_id = ka.a_id JOIN kb ON s.b_id = kb.b_id
    ),
    ranked AS (
      SELECT a_id, b_id, c, margin,
             row_number() OVER (PARTITION BY a_id
                                ORDER BY margin DESC, b_id) AS ra,
             row_number() OVER (PARTITION BY b_id
                                ORDER BY margin DESC, a_id) AS rb
      FROM margins
    )
    SELECT a_id, b_id, c AS cosine, margin
    FROM ranked WHERE ra = 1 AND rb = 1 AND margin > 1.0
    """,
)
def q_bitext_margin_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shaped twin of ``bitext_margin_mining``: the margin math
    (Artetxe & Schwenk 2019) unchanged, but the pair candidates come from
    the bounded-fan-out LSH stage (what a CCMatrix-scale miner does with
    FAISS retrieval) instead of the full A×B cross score whose work grows
    ~SF². kNN sums run over each side's retrieved candidates (≤ its
    candidate degree, capped at 4), margin = cos · 8e6 / (ksum_a +
    ksum_b) on 1e-6-scaled integer sums, mutual best-margin pairs above
    1.0 survive. Candidates, windows, and the final filter are all linear
    in the corpus."""


    e = load_table(spark, sf_dir, "embeddings")
    v = SIM.lsh_band_window_pairs(e, "vec_id", "embedding", dim=64)
    la = e.select(F.col("vec_id").alias("id_a"), F.col("label").alias("la"))
    lb = e.select(F.col("vec_id").alias("id_b"), F.col("label").alias("lb"))
    cp = (
        v.join(la, "id_a")
        .join(lb, "id_b")
        .filter(
            ((F.col("la") == 0) & (F.col("lb") == 1))
            | ((F.col("la") == 1) & (F.col("lb") == 0))
        )
        .select(
            F.when(F.col("la") == 0, F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("a_id"),
            F.when(F.col("la") == 0, F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("b_id"),
            F.col("cosine").alias("c"),
        )
        .localCheckpoint(eager=True)  # three ranking branches reuse it
    )
    ci = F.round(F.col("c") * 1000000).cast("long")
    # Both per-side kNN sums in ONE window pass (r10): symmetrize the
    # checkpointed pair list to (side, group-id, other-id) rows and rank
    # within (side, gid) — one exchange + one sort over 2·|cp| rows
    # replaces the two per-side window/agg chains. Rank semantics are
    # identical per side (c DESC, other-id ASC tiebreak), the 1e-6-scaled
    # integer sums are associative, so ksum_a/ksum_b are bit-identical to
    # the split formulation (collected-rows equality verified at sf0.1).
    sym = cp.select(
        F.lit(0).alias("side"),
        F.col("a_id").alias("gid"),
        F.col("b_id").alias("oid"),
        "c",
    ).unionByName(
        cp.select(
            F.lit(1).alias("side"),
            F.col("b_id").alias("gid"),
            F.col("a_id").alias("oid"),
            "c",
        )
    )
    ws = Window.partitionBy("side", "gid").orderBy(F.col("c").desc(), F.col("oid"))
    # ks feeds BOTH side filters below — checkpoint it or Catalyst replays
    # the symmetrized window per consumer (two window passes over the
    # corpus-sized pair list again). The artifact is ≤ 2·|ids| rows of
    # three longs; neutral at sf0.1, strictly fewer passes at scale.
    ks = (
        sym.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= 4)
        .groupBy("side", "gid")
        .agg(F.sum(ci).alias("ksum"))
        .localCheckpoint(eager=True)
    )
    ka = ks.filter(F.col("side") == 0).select(
        F.col("gid").alias("a_id"), F.col("ksum").alias("ksum_a")
    )
    kb = ks.filter(F.col("side") == 1).select(
        F.col("gid").alias("b_id"), F.col("ksum").alias("ksum_b")
    )
    margins = (
        cp.join(ka, "a_id")
        .join(kb, "b_id")
        .select(
            "a_id",
            "b_id",
            "c",
            F.round(
                F.col("c") * 8000000.0 / (F.col("ksum_a") + F.col("ksum_b")), 6
            ).alias("margin"),
        )
    )
    wma = Window.partitionBy("a_id").orderBy(F.col("margin").desc(), F.col("b_id"))
    wmb = Window.partitionBy("b_id").orderBy(F.col("margin").desc(), F.col("a_id"))
    return (
        margins.withColumn("ra", F.row_number().over(wma))
        .withColumn("rb", F.row_number().over(wmb))
        .filter(
            (F.col("ra") == 1) & (F.col("rb") == 1) & (F.col("margin") > 1.0)
        )
        .select("a_id", "b_id", F.col("c").alias("cosine"), "margin")
    )


# Full ANN-LSH oracle: DuckDB independently re-derives the md5 hyperplanes
# (same (seed|plane|i) → first-12-hex-digits/2^48*2-1 arithmetic — division
# by a power of two and the affine map are exact in doubles), recomputes
# every signature bit from its own dot products, prunes by XOR bit-count,
# and exact-scores the survivors. Nothing is smuggled from the Spark side.
_DUCK_ANN_LSH = f"""
    WITH planes AS (
      SELECT j, list_transform(range(64), ii ->
        ({_duck_hash48("'7|' || CAST(j AS VARCHAR) || '|' || CAST(ii AS VARCHAR)")}
         / 281474976710656.0) * 2.0 - 1.0) AS plane
      FROM range(8) t(j)
    ), sigs AS (
      -- valid vectors only: the engine's lsh_signature is NULL for a NULL
      -- vector, one with a NULL element, or a WRONG-LENGTH one (never
      -- bucket 0), so corrupt rows can never be LSH candidates
      SELECT e.vec_id,
             CAST(SUM(CASE WHEN {_duck_dot('e.embedding', 'p.plane')} > 0
                           THEN (CAST(1 AS BIGINT) << p.j) ELSE 0 END) AS BIGINT) AS sig
      FROM embeddings e CROSS JOIN planes p
      WHERE e.embedding IS NOT NULL
        AND len(list_filter(e.embedding, x -> x IS NULL)) = 0
        AND len(e.embedding) = 64
      GROUP BY e.vec_id
    ), q AS (
      SELECT e.embedding AS qv, s.sig AS qsig
      FROM embeddings e JOIN sigs s ON e.vec_id = s.vec_id
      WHERE e.vec_id = 0
    )
    SELECT e.vec_id, e.label, {_duck_cosine('e.embedding', 'q.qv')} AS score
    FROM embeddings e JOIN sigs s ON e.vec_id = s.vec_id CROSS JOIN q
    WHERE bit_count(xor(s.sig, q.qsig)) <= 3
    ORDER BY score DESC, e.vec_id
    LIMIT 10
"""


@register("ann_lsh_topk", oracle=_DUCK_ANN_LSH)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via random-hyperplane LSH signature pruning (engine
    extension — the 100 TB path where brute force is infeasible; signature
    becomes a bucket/partition key at scale)."""

    e = load_table(spark, sf_dir, "embeddings")
    query = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    out = SIM.topk_ann_lsh(e, query, dim=64, k=10, n_planes=8, max_hamming=3)
    return out.select("vec_id", "label", "score")


def _duck_l2(a: str, b: str) -> str:
    # same NULL-element guard as _duck_dot: list_sum skipping NULLs would
    # yield a partial (wrong) distance for a corrupt vector
    body = (
        f"sqrt(list_sum(list_transform(range(len({a})), i -> "
        f"(CAST({a}[i + 1] AS DOUBLE) - CAST({b}[i + 1] AS DOUBLE)) "
        f"* (CAST({a}[i + 1] AS DOUBLE) - CAST({b}[i + 1] AS DOUBLE)))))"
    )
    return (
        f"(CASE WHEN len(list_filter({a}, x -> x IS NULL)) > 0 "
        f"OR len(list_filter({b}, x -> x IS NULL)) > 0 "
        f"THEN NULL ELSE {body} END)"
    )


# Full IVF oracle: DuckDB re-derives the 4 md5 centroids (seed 99), assigns
# every vector to its nearest cell (first-index ties via ORDER BY dist,
# cell), picks the 2 cells nearest the query exactly like the Python-side
# probe sort (stable by cell index), and exact-scores the probed subset.
_DUCK_ANN_IVF = f"""
    WITH cents AS (
      SELECT p AS cell, list_transform(range(64), ii ->
        ({_duck_hash48("'99|' || CAST(p AS VARCHAR) || '|' || CAST(ii AS VARCHAR)")}
         / 281474976710656.0) * 2.0 - 1.0) AS c
      FROM range(4) t(p)
    ), q AS (
      SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
    ), probe AS (
      SELECT cell FROM cents CROSS JOIN q
      ORDER BY {_duck_l2('q.qv', 'cents.c')}, cell LIMIT 2
    ), assigned AS (
      SELECT vec_id, label, embedding, cell FROM (
        SELECT e.vec_id, e.label, e.embedding, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_duck_l2('e.embedding', 'c.c')}, c.cell) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) t WHERE rn = 1
    )
    SELECT a.vec_id, a.label, {_duck_cosine('a.embedding', 'q.qv')} AS score
    FROM assigned a CROSS JOIN q
    WHERE a.cell IN (SELECT cell FROM probe)
    ORDER BY score DESC, a.vec_id
    LIMIT 10
"""


@register("ann_ivf_topk", oracle=_DUCK_ANN_IVF)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via IVF coarse quantization (engine extension): probe the
    nearest cells only; cells become partition keys at scale."""

    # Deterministic pseudo-random centroids (stand-in for an offline-trained
    # quantizer; same md5 derivation as the LSH hyperplanes).
    centroids = [_hyperplane(64, p, seed=99) for p in range(4)]
    e = load_table(spark, sf_dir, "embeddings")
    query = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    out = SIM.topk_ivf(e, query, centroids, k=10, n_probe=2)
    return out.select("vec_id", "label", "score")


# ---------------------------------------------------------------------------
# Seeded enrichment (SURVEY §2.9 math/random; §7 hard part 1)
# ---------------------------------------------------------------------------

def _duck_uniform(seed: str, key: str = "CAST(p_partkey AS VARCHAR)") -> str:
    """DuckDB twin of seeded.hash_uniform: hash48('{seed}|' || key) / 2^48.
    Division by a power of two is exact, so both engines agree bit-for-bit.
    NULL keys draw via the same '__NULL_KEY__' sentinel as the engine
    (a bare || would make the draw NULL instead of deterministic)."""
    keyed = f"'{seed}|' || coalesce({key}, '__NULL_KEY__')"
    return f"({_duck_hash48(keyed)} / 281474976710656.0)"


@register(
    "seeded_enrichment",
    oracle=f"""
    SELECT p_partkey,
           CAST(CASE WHEN {_duck_uniform('42-gate')} < 0.3
                THEN CAST(FLOOR({_duck_uniform('42-val')} * 45) + 5 AS INT)
                ELSE 0 END AS INT) AS discount,
           CAST(FLOOR({_duck_uniform('42-ord')} * 500) + 0 AS INT) AS orders_mock,
           CAST((FLOOR({_duck_uniform('42-price')} * 140) + 80) * 1000 AS BIGINT) AS price_default
    FROM part
    """,
)
def q_seeded_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded mock-data generation (reference unseeded numpy draws,
    ``generate_mock_data.py:18-26,39-40,50-57``): every value derives from
    (stable key, seed) via md5 — reproducible on any partitioning/retry,
    which ``rand(seed)`` cannot guarantee at 100 TB (SURVEY §4a)."""


    p = load_table(spark, sf_dir, "part")
    key = F.col("p_partkey")
    return p.select(
        "p_partkey",
        seeded.discount_column(key, 42).alias("discount"),
        seeded.orders_column(key, 42).alias("orders_mock"),
        default_price(key, 42).alias("price_default"),
    )


@register(
    "ratings_exponential",
    oracle=f"""
    SELECT p_partkey,
           CAST(FLOOR(-50.0 * ln(1.0 - {_duck_uniform('42-rat')})) + 1 AS INT) AS ratings_mock
    FROM part
    """,
)
def q_ratings_exponential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential(50)+1 ratings via inverse CDF (reference
    ``generate_mock_data.py:28-31``). Kept as its own query: ln() is the one
    place libm rounding could theoretically diverge between engines."""

    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey", seeded.ratings_column(F.col("p_partkey"), 42).alias("ratings_mock")
    )


@register("stars_beta")  # no SQL oracle: Beta has no closed form — property-tested
def q_stars_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta(4,1.5)-skewed star ratings (reference
    ``generate_mock_data.py:33-35``) — the one pandas-UDF enrichment (seeded
    per-row, Arrow-batched)."""

    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey", E.stars_column(F.col("p_partkey")).alias("stars_mock")
    )


# ---------------------------------------------------------------------------
# OLAP extension surface: rollup/cube, frames, sessionization, set ops
# ---------------------------------------------------------------------------

@register(
    "rollup_sales",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_price
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping id (SURVEY §2.5 'absent from reference' —
    built-in Spark surface the engine exposes)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("l_extendedprice")).cast("string").cast("double").alias("sum_price"),
    ).select("l_returnflag", "l_linestatus", "gid", "n", "sum_price")


@register(
    "cube_sales",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with grouping id (extension surface)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"), F.count(F.lit(1)).alias("n")
    ).select("l_returnflag", "l_linestatus", "gid", "n")


@register(
    "running_total",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS VARCHAR) AS DOUBLE)
             AS running_spend
    FROM orders
    """,
)
def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame: per-customer running spend (frame-spec windows — absent
    from reference, exposed as extension; decimal-exact accumulation)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec("o_totalprice")).over(w).cast("string").cast("double")
        .alias("running_spend"),
    )


@register(
    "lag_lead_deltas",
    oracle="""
    SELECT user_id, event_id,
           CAST(epoch_us(ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                AS BIGINT) AS us_since_prev
    FROM events
    """,
)
def q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead inter-event deltas (extension surface; streaming-adjacent)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    delta = (F.unix_micros(F.col("ts")) - F.unix_micros(prev)).alias("us_since_prev")
    return e.select("user_id", "event_id", delta)


@register(
    "nation_set_ops",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct set difference — U2 generalized to SQL set ops)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)  # EXCEPT DISTINCT semantics


@register(
    "events_tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event windows — the batch twin of the streaming
    pipeline (streaming/events.py runs the same transform under
    readStream + watermark; SURVEY §2.14 door-open design)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("string").cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "sessionization",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_num
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_num
    """,
)
def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) via ``session_window`` — the
    streaming-native sessionizer run in batch; oracle replays the same
    semantics with lag + cumulative-sum session numbering."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# E1 document templating / E5 LLM enrichment (SURVEY §2.12)
# ---------------------------------------------------------------------------

@register(
    "doc_template",
    oracle="""
    SELECT p_partkey,
           concat_ws(' ',
             'Product: ' || p_name || '.',
             'Category: ' || p_type || '.',
             CASE WHEN p_brand IS NOT NULL AND p_brand <> ''
                  THEN 'Brand: ' || p_brand || '.' END,
             CASE WHEN p_size > 30 THEN 'Details: oversize.' END,
             CASE WHEN floor(p_retailprice) > 0  -- Spark gates on the floored value
                  THEN 'Price: ' || CAST(CAST(floor(p_retailprice) AS BIGINT) AS VARCHAR) || '.' END,
             -- fallback buckets gated on NOT NULL: the engine's sections
             -- are presence-gated, so a NULL size emits NO sentence — a
             -- bare ELSE would invent 'Rated average.'/'Out of stock.'
             CASE WHEN p_size / 10.0 >= 4.5 THEN 'Rated excellent.'
                  WHEN p_size / 10.0 >= 3.5 THEN 'Rated good.'
                  WHEN p_size IS NOT NULL THEN 'Rated average.' END,
             CASE WHEN (p_partkey * 7) % 1500 >= 1000 THEN 'A best-seller.' END,
             CASE WHEN p_size * 5 >= 100 THEN 'In stock.'
                  WHEN p_size * 5 >= 21 THEN 'Limited stock.'
                  WHEN p_size * 5 >= 1 THEN 'Almost sold out.'
                  WHEN p_size IS NOT NULL THEN 'Out of stock.' END
           ) AS document
    FROM part
    """,
)
def q_doc_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1: conditional document templating (reference Vietnamese blob
    assembly, ``generate_embeddings.py:39-194``) — pure when/concat_ws
    expression tree; absent sections vanish via concat_ws NULL-skipping.
    Bucket thresholds mirror the reference's stars/orders/stock cutoffs."""

    p = load_table(spark, sf_dir, "part")
    doc = template.product_document(
        name=F.col("p_name"),
        brand=F.col("p_brand"),
        category=F.col("p_type"),
        description=F.when(F.col("p_size") > 30, F.lit("oversize")).otherwise(F.lit("")),
        price=F.floor(F.col("p_retailprice")),
        stars=F.col("p_size") / 10.0,
        orders=(F.col("p_partkey") * 7) % 1500,
        stock=F.col("p_size") * 5,
    )
    return p.select("p_partkey", doc.alias("document"))


# The oracle interpolates the OPERATOR'S own sentence strings (operators/
# template.VI) — one source of truth, so the Spark side and this SQL cannot
# drift apart.
from ..operators.template import VI as _DOC_VI_SENT  # noqa: E402

_DOC_VI_ORACLE = """
    WITH f AS (
      SELECT
        p_partkey AS pk,
        CASE WHEN p_partkey % 29 = 0 THEN NULL ELSE p_partkey % 14 END AS cid,
        CASE WHEN p_partkey % 23 = 0 THEN NULL ELSE p_name END AS name,
        CASE WHEN p_partkey % 7 = 0 THEN NULL ELSE p_brand END AS brand,
        CASE WHEN p_partkey % 11 = 0 THEN NULL
             WHEN p_partkey % 11 = 1 THEN repeat(p_name || ' ', 60)
             WHEN p_partkey % 11 = 2 THEN '   '
             ELSE p_type END AS descr,
        CASE
          WHEN p_partkey % 10 = 0 THEN
            '{{''product_sizes'': ''S|M|L'', ''product_prices'': '''
            || CAST(p_partkey AS VARCHAR) || '|' || CAST(p_partkey*2 AS VARCHAR)
            || '|' || CAST(p_partkey*3 AS VARCHAR) || ''''  || '}}'
          WHEN p_partkey % 10 = 5 THEN
            '{{''product_sizes'': ''S|M|L'', ''product_prices'': '''
            || CAST(p_partkey AS VARCHAR) || '|' || CAST(p_partkey*2 AS VARCHAR)
            || '''' || '}}'
          WHEN p_partkey % 5 = 1 THEN CAST(CAST(floor(p_retailprice) AS BIGINT) AS VARCHAR)
          WHEN p_partkey % 5 = 2 THEN '{{''product_sizes'': ''S|M'''
          WHEN p_partkey % 5 = 3 THEN '{{''note'': ''combo''}}'
          ELSE NULL END AS up,
        CASE WHEN p_partkey % 4 = 0 THEN NULL ELSE 'đ' END AS curr,
        (p_partkey % 20) / 2.0 AS discount,
        CASE WHEN p_partkey % 13 = 0 THEN NULL ELSE (p_partkey % 50) / 10.0 END AS stars,
        CASE WHEN p_partkey % 17 = 0 THEN NULL ELSE p_partkey % 500 END AS ratings,
        (p_partkey * 7) % 1500 AS orders,
        CASE WHEN p_partkey % 19 = 0 THEN NULL ELSE (p_partkey % 30) * 10 END AS stock
      FROM part
    ), g AS (
      SELECT *,
        coalesce(cid IN (10, 11, 12, 13), false) AS is_drink,
        coalesce(cid BETWEEN 1 AND 9, false) AS is_food,
        CASE cid WHEN 1 THEN 'Bánh ngọt' WHEN 2 THEN 'Bánh kem Pháp'
                 WHEN 3 THEN 'Bánh nướng giòn' WHEN 4 THEN 'Bánh quy bơ'
                 WHEN 5 THEN 'Set quà' WHEN 10 THEN 'Trà trái cây'
                 WHEN 11 THEN 'Cà phê máy' WHEN 12 THEN 'Đá xay frosty'
                 WHEN 13 THEN 'Thức uống đá đặc biệt' END AS cat,
        CASE cid WHEN 1 THEN 'Các loại bánh ngọt mềm, dùng cho tiệc.'
                 WHEN 11 THEN 'Đồ uống cà phê pha máy đậm đà.' END AS catd,
        replace(up, chr(39), '"') AS fx,
        regexp_replace(regexp_replace(descr, '^[ \t\n\r\f\x0B]+', ''),
                       '[ \t\n\r\f\x0B]+$', '') AS descr_s,
        coalesce(curr, '') AS cur0,
        'Giá bán của sản phẩm ' || up || ' ' || coalesce(curr, '') || '.' AS price_fallback
      FROM f
    ), h AS (
      SELECT *,
        lower(coalesce(cat, '')) AS catl,
        lower(name) AS namel,
        CASE WHEN up IS NOT NULL AND starts_with(up, '{{') AND json_valid(fx)
             THEN string_split(json_extract_string(fx, '$.product_sizes'), '|') END AS sz,
        CASE WHEN up IS NOT NULL AND starts_with(up, '{{') AND json_valid(fx)
             THEN string_split(json_extract_string(fx, '$.product_prices'), '|') END AS pr
      FROM g
    )
    SELECT pk AS p_partkey, concat_ws(' ',
      CASE WHEN is_drink THEN '{drink_open}' END,
      CASE WHEN NOT is_drink AND is_food THEN '{food_open}' END,
      CASE WHEN cat IS NOT NULL THEN 'Sản phẩm thuộc danh mục ' || cat || '.' END,
      CASE WHEN cat IS NOT NULL AND catd IS NOT NULL THEN 'Về danh mục này: ' || catd END,
      CASE WHEN is_drink AND contains(catl, 'trà') THEN '{tea}' END,
      CASE WHEN is_drink AND contains(catl, 'cà phê') THEN '{coffee}' END,
      CASE WHEN is_drink AND (contains(catl, 'đá xay') OR contains(catl, 'thức uống đá'))
           THEN '{blended}' END,
      CASE WHEN is_food AND (contains(catl, 'bánh ngọt') OR contains(catl, 'bánh kem'))
           THEN '{sweet_cake}' END,
      CASE WHEN is_food AND (contains(catl, 'bánh giòn') OR contains(catl, 'bánh nướng')
                             OR contains(catl, 'bánh ngàn lớp'))
           THEN '{baked_cake}' END,
      CASE WHEN is_food AND contains(catl, 'bánh quy') THEN '{cookie}' END,
      CASE WHEN name IS NOT NULL THEN 'Sản phẩm có tên gọi ' || name || '.' END,
      CASE WHEN name IS NOT NULL AND (is_drink OR contains(namel, 'cà phê')
             OR contains(namel, 'coffee') OR contains(namel, 'trà')
             OR contains(namel, 'tea') OR contains(namel, 'đá xay')
             OR contains(namel, 'drink') OR contains(namel, 'nước'))
           THEN '{name_drink}' END,
      CASE WHEN name IS NOT NULL AND NOT (is_drink OR contains(namel, 'cà phê')
             OR contains(namel, 'coffee') OR contains(namel, 'trà')
             OR contains(namel, 'tea') OR contains(namel, 'đá xay')
             OR contains(namel, 'drink') OR contains(namel, 'nước'))
           AND (is_food OR contains(namel, 'bánh') OR contains(namel, 'cake')
                OR contains(namel, 'pastry') OR contains(namel, 'cookie')
                OR contains(namel, 'bread'))
           THEN '{name_food}' END,
      CASE WHEN brand IS NOT NULL THEN 'Thương hiệu của sản phẩm ' || brand || '.' END,
      CASE WHEN descr IS NOT NULL AND descr_s <> '' THEN
        'Mô tả sản phẩm: ' ||
        CASE WHEN length(descr_s) > 1000 THEN substr(descr_s, 1, 1000) || '...'
             ELSE descr_s END END,
      CASE WHEN up IS NULL THEN NULL
           WHEN NOT starts_with(up, '{{') THEN price_fallback
           WHEN NOT json_valid(fx) THEN price_fallback
           WHEN json_extract_string(fx, '$.product_sizes') IS NOT NULL
                AND json_extract_string(fx, '$.product_prices') IS NOT NULL THEN
             'Sản phẩm có nhiều size với nhiều mức giá khác nhau: ' ||
             array_to_string(list_transform(range(least(len(sz), len(pr))),
                                            i -> sz[i+1] || ' for ' || cur0 || pr[i+1]),
                             ', ')
           END,
      CASE WHEN discount > 0 THEN
        'Sản phẩm đang được giảm giá ' || CAST(discount AS VARCHAR) || '%.' END,
      CASE WHEN stars IS NOT NULL THEN
        CASE WHEN stars > 4.5 THEN
               'Sản phẩm này được đánh giá rất cao với ' || CAST(stars AS VARCHAR) || ' sao trên 5.'
             WHEN stars > 3.5 THEN
               'Sản phẩm này được đánh giá tốt với ' || CAST(stars AS VARCHAR) || ' sao trên 3.5.'
             ELSE 'Sản phẩm này có số điểm đánh giá là ' || CAST(stars AS VARCHAR) || '.'
        END END,
      CASE WHEN ratings IS NOT NULL THEN
        'Sản phẩm có tổng số lượt ' || CAST(ratings AS VARCHAR) || ' khách hàng đánh giá.' END,
      CASE WHEN orders IS NOT NULL THEN
        CASE WHEN orders > 1000 THEN
               'Đây là sản phẩm bán chạy với hơn ' || CAST(orders AS VARCHAR) || ' lượt đặt hàng.'
             ELSE 'Sản phẩm đã bán được ' || CAST(orders AS VARCHAR) || ' đơn hàng.'
        END END,
      CASE WHEN stock IS NOT NULL THEN
        CASE WHEN stock > 100 THEN '{stock_high}'
             WHEN stock > 20 THEN '{stock_mid}'
             WHEN stock > 0 THEN '{stock_low}'
             ELSE '{stock_out}' END END,
      CASE WHEN is_drink THEN '{drink_close}' END,
      CASE WHEN NOT is_drink AND is_food THEN '{food_close}' END
    ) AS document
    FROM h
""".format(**_DOC_VI_SENT)


@register("doc_template_vi", oracle=_DOC_VI_ORACLE)
def q_doc_template_vi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 Vietnamese fidelity: the reference's exact ~25-sentence document
    (``generate_embeddings.py:39-194``) over part-derived product fields that
    exercise every branch — drink/food type gates, category sub-sentences,
    the elif-shaped name reinforcement, single-quote JSON price parse with
    fallback/skip/zip-truncation, 1000-char ellipsis, strict-> star/order
    buckets and the stock ladder. Pure concat_ws/when expression tree — one
    codegen'd projection, no shuffle, no Python. Character-level parity with
    the reference renderer itself is pinned by tests/test_template_vi.py."""

    p = load_table(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    cid = (
        F.when(pk % 29 == 0, F.lit(None)).otherwise(pk % 14).cast("int")
    )
    cat = (
        F.when(cid == 1, "Bánh ngọt").when(cid == 2, "Bánh kem Pháp")
        .when(cid == 3, "Bánh nướng giòn").when(cid == 4, "Bánh quy bơ")
        .when(cid == 5, "Set quà").when(cid == 10, "Trà trái cây")
        .when(cid == 11, "Cà phê máy").when(cid == 12, "Đá xay frosty")
        .when(cid == 13, "Thức uống đá đặc biệt")
    )
    catd = (
        F.when(cid == 1, "Các loại bánh ngọt mềm, dùng cho tiệc.")
        .when(cid == 11, "Đồ uống cà phê pha máy đậm đà.")
    )
    up = (
        F.when(
            pk % 10 == 0,
            F.concat(
                F.lit("{'product_sizes': 'S|M|L', 'product_prices': '"),
                pk.cast("string"), F.lit("|"), (pk * 2).cast("string"),
                F.lit("|"), (pk * 3).cast("string"), F.lit("'}"),
            ),
        )
        .when(
            pk % 10 == 5,
            F.concat(
                F.lit("{'product_sizes': 'S|M|L', 'product_prices': '"),
                pk.cast("string"), F.lit("|"), (pk * 2).cast("string"), F.lit("'}"),
            ),
        )
        .when(pk % 5 == 1, F.floor(F.col("p_retailprice")).cast("long").cast("string"))
        .when(pk % 5 == 2, F.lit("{'product_sizes': 'S|M'"))
        .when(pk % 5 == 3, F.lit("{'note': 'combo'}"))
    )
    doc = product_document_vi(
        category_id=cid,
        category_name=cat,
        name=F.when(pk % 23 == 0, F.lit(None)).otherwise(F.col("p_name")),
        brand=F.when(pk % 7 == 0, F.lit(None)).otherwise(F.col("p_brand")),
        description=(
            F.when(pk % 11 == 0, F.lit(None))
            .when(pk % 11 == 1, F.repeat(F.concat(F.col("p_name"), F.lit(" ")), 60))
            .when(pk % 11 == 2, F.lit("   "))
            .otherwise(F.col("p_type"))
        ),
        unit_price=up,
        currency=F.when(pk % 4 == 0, F.lit(None)).otherwise(F.lit("đ")),
        discount=(pk % 20) / F.lit(2.0),
        stars=F.when(pk % 13 == 0, F.lit(None)).otherwise((pk % 50) / F.lit(10.0)),
        ratings=F.when(pk % 17 == 0, F.lit(None)).otherwise((pk % 500).cast("long")),
        orders=((pk * 7) % 1500).cast("long"),
        stock=F.when(pk % 19 == 0, F.lit(None)).otherwise(((pk % 30) * 10).cast("long")),
        category_description=catd,
    )
    return p.select("p_partkey", doc.alias("document"))


@register(
    "llm_enrich_descriptions",
    oracle="""
    SELECT p_partkey, p_name,
           -- the enrich gate fires on NULL/blank descriptions too (that is
           -- its purpose), and the prompt renders a NULL name as '' (the
           -- engine fillna)
           CASE WHEN p_size < 10 OR p_type IS NULL OR trim(p_type) = ''
                THEN 'Auto-description [' ||
                     substr(md5('Describe the product: '
                                || coalesce(p_name, '')), 1, 8) || ']'
                ELSE p_type END AS description
    FROM part
    """,
)
def q_llm_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5: LLM description enrichment (reference Ollama fill of empty
    descriptions, ``generate_mock_data.py:42-65,130-133``) with the
    deterministic mock backend. Only rows failing the P7 empty-gate enter the
    mapInPandas path; the rest never leave the JVM."""

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.when(F.col("p_size") < 10, F.lit("")).otherwise(F.col("p_type")).alias("description"),
    )
    return L.enrich_descriptions(
        p, text_col="description", prompt_cols=["p_name"]
    ).select("p_partkey", "p_name", "description")


# ---------------------------------------------------------------------------
# X1/X2 snowflake split (SURVEY §2.10)
# ---------------------------------------------------------------------------

def _wide_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-shaped wide table synthesized from part: a piped multi-image
    column (second image name intentionally blank → fallback path)."""
    p = load_table(spark, sf_dir, "part")
    return p.withColumn(
        "image_urls",
        F.concat_ws(
            "|",
            F.concat(F.lit("http://img/"), F.col("p_partkey").cast("string")),
            F.concat(F.lit("http://alt/"), F.col("p_partkey").cast("string")),
        ),
    ).withColumn("image_names", F.concat_ws("|", F.col("p_name"), F.lit("")))


def _part_snowflake(spark: SparkSession, sf_dir: str) -> NORM.SnowflakeResult:
    """``snowflake_split`` of ``_wide_part``: brand dims, hash fact ids and
    the image children — the three ``snowflake_*`` queries' shared input."""
    return NORM.snowflake_split(
        _wide_part(spark, sf_dir),
        dim_key="p_brand",
        dim_attrs=["p_type"],
        fact_key="p_partkey",
        child_url_col="image_urls",
        child_name_col="image_names",
        order_by=["p_partkey"],
        fact_id_hash=lambda *cols: md5_hash48(F.concat_ws("|", *cols)),
    )


_DUCK_WIDE_PART = """
    SELECT *,
           'http://img/' || CAST(p_partkey AS VARCHAR) || '|' ||
           'http://alt/' || CAST(p_partkey AS VARCHAR) AS image_urls,
           p_name || '|' AS image_names
    FROM part
"""


@register(
    "snowflake_dims",
    oracle=f"""
    WITH wide AS ({_DUCK_WIDE_PART}),
    fw AS (
      SELECT p_brand, p_type,
             row_number() OVER (PARTITION BY p_brand ORDER BY p_partkey) AS rn
      FROM wide
    )
    SELECT CAST(row_number() OVER (ORDER BY p_brand) AS INT) AS dim_id, p_brand, p_type
    FROM fw WHERE rn = 1
    """,
)
def q_snowflake_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 dims branch: first-wins collapse per brand + dense ids (reference
    dict build ``seperate_tables.py:24-33`` + ``enumerate`` ids at :112)."""
    return _part_snowflake(spark, sf_dir).dims.select("dim_id", "p_brand", "p_type")


@register(
    "snowflake_facts",
    oracle=f"""
    WITH wide AS ({_DUCK_WIDE_PART}),
    fw AS (
      SELECT p_brand,
             row_number() OVER (PARTITION BY p_brand ORDER BY p_partkey) AS rn
      FROM wide
    ),
    dims AS (
      SELECT CAST(row_number() OVER (ORDER BY p_brand) AS INT) AS dim_id, p_brand
      FROM fw WHERE rn = 1
    )
    SELECT w.p_partkey,
           CASE WHEN w.p_partkey IS NULL THEN NULL
                ELSE {_duck_hash48("CAST(w.p_partkey AS VARCHAR)")}
           END AS fact_id,
           d.dim_id, w.p_name
    FROM wide w LEFT JOIN dims d ON w.p_brand = d.p_brand
    """,
)
def q_snowflake_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 facts branch: broadcast dim-key resolution (J1) + hash surrogate
    ids — the 100 TB-safe deviation from the reference's global enumerate
    (SURVEY §7 hard part 4)."""
    return _part_snowflake(spark, sf_dir).facts.select(
        "p_partkey", "fact_id", "dim_id", "p_name"
    )


@register(
    "snowflake_children",
    oracle=f"""
    WITH wide AS ({_DUCK_WIDE_PART}),
    exploded AS (
      SELECT {_duck_hash48("CAST(p_partkey AS VARCHAR)")} AS fact_id,
             p_partkey,
             trim(string_split(image_urls, '|')[t.i + 1]) AS item_url,
             trim(string_split(image_names, '|')[t.i + 1]) AS item_name_raw
      FROM wide CROSS JOIN range(2) t(i)
    )
    SELECT fact_id, item_url,
           CASE WHEN item_name_raw IS NULL OR item_name_raw = ''
                THEN CAST(p_partkey AS VARCHAR) ELSE item_name_raw END AS item_name
    FROM exploded
    WHERE item_url IS NOT NULL AND item_url <> ''
    """,
)
def q_snowflake_children(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 children branch: piped url/name explode with empty-name fallback
    (reference ``seperate_tables.py:81-106``)."""
    return _part_snowflake(spark, sf_dir).children.select(
        "fact_id", "item_url", "item_name"
    )


# ---------------------------------------------------------------------------
# E2 embeddings / multimodal plumbing (rows-only: Python-side operators)
# ---------------------------------------------------------------------------

@register(
    "doc_embeddings",
    # Full component-level oracle: DuckDB independently re-derives the
    # HashEmbedder (md5 → ±1 at md5%dim, L2-normalize, float32 cast).
    # idx = first 8 md5 hex digits as int (< 2^32, exact in double) % 64;
    # sign = low bit of digest byte 4 = 10th hex digit % 2. Counts are exact
    # integers, the norm/divide are IEEE-identical doubles, and the REAL
    # cast reproduces the UDF's float32 — so values hash-match at 6 dp.
    oracle=f"""
    WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents),
    tok AS (SELECT doc_id, unnest(ws) AS tok FROM w),
    h AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(range(8), i ->
               (strpos('0123456789abcdef', substr(md5(tok), i + 1, 1)) - 1)
               * 16 ** (7 - i))) AS BIGINT) % 64 AS idx,
             CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 10, 1)) - 1) % 2 = 0
                  THEN 1.0 ELSE -1.0 END AS sign
      FROM tok
    ),
    comp AS (SELECT doc_id, idx, sum(sign) AS v FROM h GROUP BY doc_id, idx),
    grid AS (
      SELECT d.doc_id, p.pos
      FROM documents d CROSS JOIN (SELECT unnest(range(64)) AS pos) p
    ),
    vec AS (
      SELECT g.doc_id, g.pos, coalesce(c.v, 0.0) AS v
      FROM grid g LEFT JOIN comp c ON c.doc_id = g.doc_id AND c.idx = g.pos
    ),
    nrm AS (SELECT doc_id, sqrt(sum(v * v)) AS n FROM vec GROUP BY doc_id)
    SELECT vec.doc_id, vec.pos,
           round(CAST(CAST(CASE WHEN n > 0 THEN vec.v / n ELSE 0.0 END
                 AS REAL) AS DOUBLE), 6) AS val
    FROM vec JOIN nrm USING (doc_id)
    """,
)
def q_doc_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2: deterministic hash-embedder over documents (pluggable model
    interface; production swaps in a sentence-transformer via the same
    pandas-UDF shape, reference ``generate_embeddings.py:245-272``).
    Exploded to one row per (doc, component) so the driver hash checks
    every value of every vector against the DuckDB re-derivation."""

    # embed is the expensive (Arrow-batched) stage; spread the
    # non-splittable local scan so it doesn't run single-task (no-op on
    # naturally split inputs)
    d = _cpu_spread(spark, sf_dir, "documents")
    out = d.select("doc_id", embed_column(F.col("text")).alias("e"))
    return out.select("doc_id", F.posexplode("e").alias("pos", "c")).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.round(F.col("c").cast("double"), 6).alias("val"),
    )


@register(
    "media_decode",
    # Probe-level oracle: the FakeCodec's dimensions are md5-derived from
    # the payload, which is exactly the utf-8 of p_name — so DuckDB's
    # VARCHAR md5 replays them (byte k = hex chars 2k+1..2k+2). The feature
    # vector needs md5 over raw digest BYTES (no BLOB md5 in DuckDB), so it
    # stays pytest-verified (tests/test_multimodal.py); this oracle pins the
    # mapInPandas batch plumbing + probe math the driver can check.
    oracle="""
    WITH h AS (
      -- decode contract: NULL-id / NULL-payload rows go to the dead letter
      -- (decode_and_featurize drops them before the codec stage)
      SELECT p_partkey AS media_id,
             CASE WHEN p_partkey % 2 = 0 THEN 'image' ELSE 'video' END AS kind,
             md5(p_name) AS dg
      FROM part
      WHERE p_partkey IS NOT NULL AND p_name IS NOT NULL
    )
    SELECT media_id, kind,
           CAST(64 + ((strpos('0123456789abcdef', substr(dg, 1, 1)) - 1) * 16
                    + (strpos('0123456789abcdef', substr(dg, 2, 1)) - 1)) % 192 AS INT) AS width,
           CAST(64 + ((strpos('0123456789abcdef', substr(dg, 3, 1)) - 1) * 16
                    + (strpos('0123456789abcdef', substr(dg, 4, 1)) - 1)) % 192 AS INT) AS height,
           CAST(CASE WHEN kind = 'image' THEN 1
                ELSE 1 + ((strpos('0123456789abcdef', substr(dg, 5, 1)) - 1) * 16
                        + (strpos('0123456789abcdef', substr(dg, 6, 1)) - 1)) % 32
           END AS INT) AS n_frames
    FROM h
    """,
)
def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: decode/feature plumbing over a synthesized media table
    (payload = opaque bytes; FakeCodec stands in for PIL/ffmpeg which are
    not installed — the Spark-side schema/batching is the real thing)."""

    p = load_table(spark, sf_dir, "part")
    media = p.select(
        F.col("p_partkey").alias("media_id"),
        F.when(F.col("p_partkey") % 2 == 0, "image").otherwise("video").alias("kind"),
        F.encode(F.col("p_name"), "utf-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        (F.col("p_partkey") * 997 % 60000).cast("long").alias("duration_ms"),
    )
    out = decode_and_featurize(media, feature_dim=8)
    return out.select("media_id", "kind", "width", "height", "n_frames")


@register(
    "media_frame_sample",
    oracle="""
    WITH m AS (
      SELECT p_partkey AS media_id,
             (p_partkey * 997) % 60000 AS duration_ms
      FROM part WHERE p_partkey % 2 = 1
    )
    SELECT media_id, CAST(s AS INT) AS second
    FROM m, UNNEST(range(0, CAST(duration_ms // 1000 AS INT) + 1)) AS t(s)
    WHERE s % 8 = 0 AND s * 1000 < duration_ms
    """,
)
def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sampling PLAN (every 8th second strictly inside the
    video): pure sequence+explode expressions — the kept-frame index list is
    decided JVM-side so only selected frames ever reach the (Python) codec
    stage. Same synthesized media table as ``media_decode``."""

    p = load_table(spark, sf_dir, "part")
    media = p.select(
        F.col("p_partkey").alias("media_id"),
        F.when(F.col("p_partkey") % 2 == 0, "image").otherwise("video").alias("kind"),
        (F.col("p_partkey") * 997 % 60000).cast("long").alias("duration_ms"),
    )
    return sample_frames(media, every_n=8).select(
        "media_id", F.col("second").cast("int").alias("second")
    )


# ---------------------------------------------------------------------------
# As-of / range joins, skew-salted aggs, casts (extension surface)
# ---------------------------------------------------------------------------

@register(
    "asof_join_last_purchase",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type,
           p.purchase_value, p.purchase_ts
    FROM events e
    ASOF LEFT JOIN (
      SELECT user_id, ts, value AS purchase_value, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    ) p ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operator Spark lacks natively): each event picks the
    user's latest purchase at-or-before its timestamp. Implemented as
    union + sorted window carry-forward — one shuffle, O(n log n) per key,
    no pairwise range explosion (operators/joins.py)."""

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("value").alias("purchase_value"),
        F.col("ts").alias("purchase_ts"),
    )
    left = e.select("event_id", "user_id", "event_type", "ts")
    out = asof_join(
        left,
        purchases,
        key="user_id",
        left_time="ts",
        right_time="ts",
        right_vals=["purchase_value", "purchase_ts"],
    )
    return out.select("event_id", "user_id", "event_type", "purchase_value", "purchase_ts")


@register(
    "range_join_balance_tiers",
    oracle="""
    SELECT c.c_custkey, c.c_acctbal, t.tier
    FROM customer c
    LEFT JOIN (VALUES ('negative', -1e9, 0.0),
                      ('low', 0.0, 3000.0),
                      ('mid', 3000.0, 7000.0),
                      ('high', 7000.0, 1e9)) t(tier, lo, hi)
      ON c.c_acctbal >= t.lo AND c.c_acctbal < t.hi
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/theta join against a broadcast tier dimension (extension
    surface; BroadcastNestedLoopJoin over 4 tiers — bucketize to an equi-key
    if the range table grows)."""

    c = load_table(spark, sf_dir, "customer")
    # SQL VALUES is a JVM local relation; createDataFrame(<list>) would be a
    # Python RDD whose tasks start Python workers
    tiers = spark.sql(
        """VALUES ('negative', -1e9D, 0.0D),
                  ('low', 0.0D, 3000.0D),
                  ('mid', 3000.0D, 7000.0D),
                  ('high', 7000.0D, 1e9D) AS t(tier, lo, hi)"""
    )
    out = range_join(c.select("c_custkey", "c_acctbal"), tiers, "c_acctbal", "lo", "hi")
    return out.select("c_custkey", "c_acctbal", "tier")


@register(
    "salted_counts",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_salted_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted two-stage count (hot-key remedy at 100 TB): same answer
    as a plain groupBy — the oracle proves it — via (key, salt) partials."""

    li = load_table(spark, sf_dir, "lineitem")
    return salted_count(li, ["l_returnflag"], salt_buckets=16)


@register(
    "casts_battery",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey AS VARCHAR) AS key_str,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor,
           CAST(o_orderdate AS DATE) AS order_date,
           TRY_CAST(regexp_replace(o_orderpriority, '[^0-9]', '', 'g') AS INT) AS priority_num
    FROM orders
    """,
)
def q_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 casts battery (reference defensive per-column casts,
    ``generate_mock_data.py:84-88``, ``seperate_tables.py:69-74``)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.floor("o_totalprice").cast("long").alias("price_floor"),
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.regexp_replace("o_orderpriority", "[^0-9]", "").try_cast("int").alias("priority_num"),
    )


@register(
    "distinct_counts",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column distinct counts (SURVEY §2.5 'absent' list —
    engine exposes them; Catalyst expands to expand+two-phase agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@register("approx_distinct_counts")  # no oracle: HLL sketches differ per engine
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct counts — the 100 TB path where exact distinct
    would shuffle every key (pytest bounds the relative error vs exact)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("n_parts_approx")
    )


@register(
    "neardup_dedup_docs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, source, unnest({_DUCK_NGRAMS2}) AS shingle FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.source = b.source AND a.shingle = b.shingle
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    removals AS (
      SELECT DISTINCT doc_b FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE round(n_common / (sa.sz + sb.sz - n_common), 6) >= 0.1
    )
    SELECT d.doc_id, d.source FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_b FROM removals)
    """,
)
def q_neardup_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end fuzzy dedup decision: blocked Jaccard pairs → keep-lowest
    removal policy → anti-join survivors (the full candidate→verify→decide
    pipeline a training corpus runs). Shingles match on 64-bit hashes:
    two distinct shingles of one source that collide count as shared (see
    ``neardup.ngram_jaccard_pairs``)."""

    d = _cpu_spread(spark, sf_dir, "documents")
    pairs = N.ngram_jaccard_pairs(d, "doc_id", "text", "source", n=2, threshold=0.1)
    return N.neardup_filter(d, pairs, "doc_id").select("doc_id", "source")


_DUCK_SIMHASH16 = ORACLE_SQL["simhash16"]


@register(
    "simhash_hamming_pairs",
    oracle=f"""
    WITH sig AS MATERIALIZED ({_DUCK_SIMHASH16}),
    tagged AS MATERIALIZED (
      SELECT s.doc_id, s.simhash, d.lang
      FROM sig s JOIN documents d ON s.doc_id = d.doc_id
    )
    -- The sf10 twin of this query is OUTPUT-BOUND: 1.69B qualifying
    -- pairs, which both engines must hash row-by-row for the fingerprint
    -- compare. Round 8 measured a value-space rewrite (pair the <=65536
    -- distinct 16-bit simhash VALUES through the 697 XOR masks of weight
    -- <=3, then expand back to doc pairs) head-to-head against this
    -- naive self-join at sf10: the rewrite was ~4x SLOWER (5931 s vs
    -- 1553 s total row wall) — DuckDB streams the degenerate-key join's
    -- ~2e10 vectorized bit_count comparisons faster than the mask-join
    -- materializes its multi-hundred-million-row expansion. The naive
    -- join therefore stays (tests/test_graph.py keeps the mask-join
    -- equivalence executable); MATERIALIZED on sig/tagged is the one
    -- kept improvement — it stops DuckDB re-deriving the whole
    -- tokenize->hash simhash pipeline once per self-join side.
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM tagged a JOIN tagged b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: Hamming ≤ 3 within a blocking key (lang). At
    scale the block is a simhash band (pigeonhole guarantee) instead of
    metadata."""

    d = load_table(spark, sf_dir, "documents")
    # the tokenize→hash simhash pipeline is the dominant map work and the
    # operator self-joins its input, which Catalyst evaluates once per
    # side — materialize the (doc_id, simhash, lang) rows ONCE (r11; guide
    # §2.4 multi-consumer subtrees / §8 decide with small rows: two longs
    # plus a tiny lang key per doc, at any corpus size)
    sim = (
        T.simhash(d, "text", ["doc_id"], n_bits=16)
        .join(d.select("doc_id", "lang"), "doc_id")
        .localCheckpoint(eager=True)
    )
    return N.simhash_hamming_pairs(sim, "doc_id", "simhash", max_hamming=3, block_col="lang")


@register(
    "order_lineitem_revenue",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q_big_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact equi-join (lineitem ⋈ orders) + rollup — the big-big
    join class absent from the reference (all its joins probe tiny dims).
    Catalyst picks sort-merge/shuffled-hash with AQE skew splitting; at scale
    this is THE query bucketing/co-partitioning accelerates (see
    tests/test_bucketing.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    joined = li.join(o, li.l_orderkey == o.o_orderkey)
    # decimal → STRING → double (r3 lesson, resurfaced by the sf1 sweep):
    # a direct decimal→double cast lets the two engines double-round
    # differently once the sums grow past 2^53 — the string detour makes
    # both parse the same exact decimal literal
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
        .cast("string")
        .cast("double")
        .alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Pivot / unpivot / percentiles / moments (extension surface)
# ---------------------------------------------------------------------------

@register(
    "pivot_event_counts",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
    FROM events GROUP BY user_id
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type counts as columns. The explicit value list
    keeps the plan static (no driver-side distinct scan) — required at
    scale."""
    e = load_table(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    out = (
        e.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id", *[F.coalesce(F.col(k), F.lit(0)).cast("long").alias(k) for k in kinds]
    )


@register(
    "unpivot_part_metrics",
    oracle="""
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: wide metrics → (metric, value) rows."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").alias("p_retailprice"),
    ).unpivot("p_partkey", ["p_size", "p_retailprice"], "metric", "value")


@register(
    "quantity_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 6) AS p50,
           round(quantile_cont(l_quantity, 0.9), 6) AS p90,
           round(quantile_cont(l_quantity, 0.99), 6) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles per group (DuckDB quantile_cont twin).
    At 100 TB swap in approx_percentile (t-digest) — exact percentile
    gathers per-group values; fine for bounded group counts only."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("l_quantity", F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile("l_quantity", F.lit(0.99)), 6).alias("p99"),
    )


@register(
    "stats_moments",
    oracle="""
    SELECT l_returnflag,
           round(avg(CAST(l_quantity AS DECIMAL(18,4)))::DOUBLE, 6) AS mean_qty,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics. stddev/corr merge partial M2 states whose
    float error (~1e-12 relative) is real but far below the 4-decimal
    rounding contract; the mean rides the exact-decimal path."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.avg(dec("l_quantity")).cast("double"), 6).alias("mean_qty"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
    )


# ---------------------------------------------------------------------------
# Streaming in the catalog (SURVEY §2.14)
# ---------------------------------------------------------------------------

def _stream_snapshot_dir(tag: str) -> str:
    """Where ``_drain_stream_snapshot`` writes ``tag``'s snapshot: under
    the driver's SparkFiles root (a ``userFiles-*`` directory private to
    this application), which Spark deletes when the context stops."""
    return os.path.join(SparkFiles.getRootDirectory(), "stream_snapshots", tag)


def _drain_stream_snapshot(spark: SparkSession, agg: DataFrame, tag: str) -> DataFrame:
    """Shared drain harness for the streaming catalog queries (VERDICT r4):
    availableNow → ``foreachBatch`` parquet snapshot → return a SCAN of the
    snapshot. The result set never crosses the driver — the old memory-sink
    + collect() + createDataFrame round-trip was the one driver-heap
    ceiling the rest of the catalog doesn't have. The snapshot dir
    (``_stream_snapshot_dir``) belongs to this application and goes with
    it at ``spark.stop()``; it is CLEARED before the drain starts — a
    leftover snapshot from a prior invocation must never masquerade as
    this run's result when the source drains zero batches (the isdir
    fallback then correctly means 'zero batches THIS run'). It must
    outlive the return (the caller collects the lazy scan), so it is
    overwritten in place, not tempdir-scoped; one dir per query
    accumulates nothing across bench loops or driver retries. The snapshot
    is read back with ``agg``'s schema, so the read runs no footer job."""

    out = _stream_snapshot_dir(tag)
    shutil.rmtree(out, ignore_errors=True)
    with tempfile.TemporaryDirectory() as ckpt:
        SE.run_stream_to_parquet_snapshot(agg, out, ckpt)
    if not os.path.isdir(out):  # zero-batch drain (empty source)
        return spark.createDataFrame([], agg.schema)
    return spark.read.schema(agg.schema).parquet(out)


@register(
    "streaming_windowed_counts",
    oracle=ORACLE_SQL["events_tumbling_window"],
)
def q_streaming_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING path of the tumbling-window aggregation: file-source
    readStream + watermark drained with availableNow into a parquet
    snapshot (foreachBatch — no driver round-trip). Shares its oracle with
    the batch twin — the streaming engine must produce the identical
    result on bounded input (checkpointing included)."""

    stream = SE.read_events_stream(spark, sf_dir)
    agg = SE.windowed_counts(stream)
    return _drain_stream_snapshot(spark, agg, "win_counts")


# ---------------------------------------------------------------------------
# SQL-surface breadth: subqueries, arrays, regex, dates
# ---------------------------------------------------------------------------

@register(
    "scalar_subquery_above_avg",
    oracle="""
    SELECT c_custkey, c_acctbal
    FROM customer
    WHERE c_acctbal > (
      SELECT CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS VARCHAR)
                  AS DOUBLE) / count(*)
      FROM customer
    )
    """,
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery filter (above-average balance). Spark evaluates the
    scalar subquery once and broadcasts it as a literal predicate — map-side
    filter after a one-row agg."""
    c = load_table(spark, sf_dir, "customer")
    # DataFrame-arg SQL — no temp-view registration that could clobber
    # same-named views on a shared (driver-owned) session
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal
        FROM {c}
        WHERE c_acctbal > (
          -- sum exact-decimal, cast via string, divide by count: avg()'s
          -- internal sum crosses 2^53 at large SF and the two engines
          -- double-round it differently (same class as the r5 sf1 reds)
          SELECT CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS STRING)
                      AS DOUBLE) / count(*) FROM {c}
        )
        """,
        c=c,
    )


@register(
    "array_ops_battery",
    oracle=f"""
    SELECT doc_id,
           coalesce(array_to_string(
             list_sort(list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                                                 w -> w <> ''))), ' '), '') AS vocab,
           len(list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                                         w -> w <> ''))) AS vocab_size,
           coalesce(array_to_string(
             list_sort(list_filter(list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                                                             w -> w <> '')),
                       w -> list_contains({_DUCK_EN_STOP}, w))), ' '), '')
             AS stop_hits
    FROM documents
    """,
)
def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function battery: distinct, sort, filter-intersect. Outputs are
    sorted so cross-engine array ordering is canonical, then space-joined to
    a string: the driver's pandas-based comparator cannot hash list cells
    (round-2 red row), and a joined string carries identical information."""

    d = load_table(spark, sf_dir, "documents").withColumn("__ws", words("text"))
    vocab = F.array_sort(F.array_distinct(F.col("__ws")))
    stop_arr = F.array(*[F.lit(w) for w in LANG_STOPWORDS[0][1]])
    # NULL text: array_join(NULL) is NULL but the oracle's coalesce lands
    # on '' — coalesce the joined strings so both engines agree on junk
    return d.select(
        "doc_id",
        F.coalesce(F.array_join(vocab, " "), F.lit("")).alias("vocab"),
        F.size(F.array_distinct(F.col("__ws"))).cast("long").alias("vocab_size"),
        F.coalesce(
            F.array_join(
                F.array_sort(
                    F.filter(
                        F.array_distinct(F.col("__ws")),
                        lambda w: F.array_contains(stop_arr, w),
                    )
                ),
                " ",
            ),
            F.lit(""),
        ).alias("stop_hits"),
    )


@register(
    "regex_extract_battery",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_brand, 'Brand#([0-9]+)', 1) AS brand_id,
           regexp_extract(p_name, '^([a-z]+) ', 1) AS first_word,
           CASE WHEN regexp_matches(p_name, 'w.dget') THEN 1 ELSE 0 END AS is_widgetish
    FROM part
    """,
)
def q_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex battery: group extraction + wildcard matching (reference
    ``re.search``/``<script>`` JSON extraction sites, SURVEY §2.9)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", "Brand#([0-9]+)", 1).alias("brand_id"),
        F.regexp_extract("p_name", "^([a-z]+) ", 1).alias("first_word"),
        F.when(F.col("p_name").rlike("w.dget"), 1).otherwise(0).alias("is_widgetish"),
    )


@register(
    "date_battery",
    oracle="""
    SELECT o_orderkey,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
           date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch95,
           dayofweek(o_orderdate) + 1 AS dow  -- DuckDB 0=Sun, Spark 1=Sun
    FROM orders
    """,
)
def q_date_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic battery (reference audit timestamps generalized):
    trunc, last_day, interval add, datediff, day-of-week."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.last_day("o_orderdate").alias("month_end"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch95"
        ),
        F.dayofweek("o_orderdate").alias("dow"),
    )


# ---------------------------------------------------------------------------
# Outer joins / grouping sets / ranking / ordered collect
# ---------------------------------------------------------------------------

@register(
    "left_outer_order_counts",
    oracle="""
    SELECT c.c_custkey, c.c_name, COUNT(o.o_orderkey) AS n_orders
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def q_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders (outer-join
    class — absent from the reference, SURVEY §2.4 'absent' list)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "full_outer_nation_presence",
    oracle="""
    SELECT COALESCE(cu.n, su.n) AS nationkey,
           COALESCE(cu.c_cnt, 0) AS n_customers,
           COALESCE(su.s_cnt, 0) AS n_suppliers
    FROM (SELECT c_nationkey AS n, COUNT(*) AS c_cnt FROM customer GROUP BY 1) cu
    FULL OUTER JOIN (SELECT s_nationkey AS n, COUNT(*) AS s_cnt FROM supplier GROUP BY 1) su
      ON cu.n = su.n
    """,
)
def q_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: nations present on either side, zero-filled."""
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("n"))
        .agg(F.count(F.lit(1)).alias("c_cnt"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("n"))
        .agg(F.count(F.lit(1)).alias("s_cnt"))
    )
    joined = c.alias("cu").join(s.alias("su"), F.col("cu.n") == F.col("su.n"), "full_outer")
    return joined.select(
        F.coalesce(F.col("cu.n"), F.col("su.n")).alias("nationkey"),
        F.coalesce(F.col("cu.c_cnt"), F.lit(0)).alias("n_customers"),
        F.coalesce(F.col("su.s_cnt"), F.lit(0)).alias("n_suppliers"),
    )


@register(
    "grouping_sets_sales",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube)."""
    li = load_table(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM {li}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
        li=li,
    )


@register(
    "ranking_battery",
    oracle="""
    SELECT o_custkey, o_orderkey,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS prank,
           round(cume_dist() OVER w, 6) AS cdist,
           first_value(o_orderkey) OVER w AS top_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function battery: rank, dense_rank, ntile, percent_rank,
    cume_dist, first_value (each customer's top order). Tie-break is
    explicitly NULLS LAST (Spark's ascending default is NULLS FIRST,
    DuckDB's is NULLS LAST)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc_nulls_last()
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.first_value(F.col("o_orderkey")).over(w).alias("top_order"),
    )


@register(
    "grouped_string_agg",
    oracle="""
    SELECT c_mktsegment,
           string_agg(DISTINCT CAST(c_nationkey AS VARCHAR), ','
                      ORDER BY CAST(c_nationkey AS VARCHAR)) AS nations
    FROM customer GROUP BY c_mktsegment
    """,
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (canonical order makes collect_list
    deterministic across partitions — unordered collect is never
    hash-comparable). A group with only NULL values aggregates to NULL
    (SQL string_agg semantics), not '' — collect_set silently skips NULLs
    and array_join would render the empty set as an empty string."""
    c = load_table(spark, sf_dir, "customer")
    arr = F.array_sort(F.collect_set(F.col("c_nationkey").cast("string")))
    return c.groupBy("c_mktsegment").agg(
        F.when(F.size(arr) > 0, F.array_join(arr, ",")).alias("nations")
    )


# DuckDB twin of the full HashEmbedder (embed.py): md5 → ±1 at md5 % dim,
# L2-normalize, float32 (REAL) cast — same derivation the doc_embeddings
# oracle proves component-exact. Returns a derived table (id, e list<REAL>).
def _duck_hash_embed(src: str, id_col: str, text_col: str, dim: int = 64) -> str:
    tokens = (
        f"list_filter(string_split_regex(lower({text_col}), '\\s+'), w -> w <> '')"
    )
    return f"""(
      WITH __w AS (SELECT {id_col} AS __id, {tokens} AS ws FROM {src}),
      __tok AS (SELECT __id, unnest(ws) AS tok FROM __w),
      __h AS (
        SELECT __id,
               CAST(list_sum(list_transform(range(8), i ->
                 (strpos('0123456789abcdef', substr(md5(tok), i + 1, 1)) - 1)
                 * 16 ** (7 - i))) AS BIGINT) % {dim} AS idx,
               CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 10, 1)) - 1) % 2 = 0
                    THEN 1.0 ELSE -1.0 END AS sign
        FROM __tok
      ),
      __c AS (SELECT __id, idx, sum(sign) AS v FROM __h GROUP BY __id, idx),
      __g AS (SELECT w.__id, p.pos
              FROM __w w CROSS JOIN (SELECT unnest(range({dim})) AS pos) p),
      __v AS (SELECT g.__id, g.pos, coalesce(c.v, 0.0) AS v
              FROM __g g LEFT JOIN __c c ON c.__id = g.__id AND c.idx = g.pos),
      __n AS (SELECT __id, sqrt(sum(v * v)) AS n FROM __v GROUP BY __id)
      SELECT v.__id AS {id_col},
             array_agg(CAST(CASE WHEN n > 0 THEN v.v / n ELSE 0.0 END AS REAL)
                       ORDER BY v.pos) AS e
      FROM __v v JOIN __n USING (__id) GROUP BY v.__id
    )"""


@register(
    "semantic_search_pipeline",
    # End-to-end oracle by composition: the doc_template SQL twin renders
    # the document (description='' and orders=0 → those sections vanish),
    # _duck_hash_embed re-derives both document and query vectors, and
    # _duck_cosine + ORDER BY/LIMIT replays the brute-force top-k.
    oracle=f"""
    WITH doc AS (
      SELECT p_partkey,
             concat_ws(' ',
               'Product: ' || p_name || '.',
               'Category: ' || p_type || '.',
               CASE WHEN p_brand IS NOT NULL AND p_brand <> ''
                    THEN 'Brand: ' || p_brand || '.' END,
               CASE WHEN floor(p_retailprice) > 0
                    THEN 'Price: ' || CAST(CAST(floor(p_retailprice) AS BIGINT) AS VARCHAR) || '.' END,
               CASE WHEN p_size / 10.0 >= 4.5 THEN 'Rated excellent.'
                    WHEN p_size / 10.0 >= 3.5 THEN 'Rated good.'
                    ELSE 'Rated average.' END,
               CASE WHEN p_size * 5 >= 100 THEN 'In stock.'
                    WHEN p_size * 5 >= 21 THEN 'Limited stock.'
                    WHEN p_size * 5 >= 1 THEN 'Almost sold out.'
                    ELSE 'Out of stock.' END
             ) AS document
      FROM part
    ),
    emb AS (SELECT * FROM {_duck_hash_embed('doc', 'p_partkey', 'document')} t),
    q AS (SELECT e AS qe FROM {_duck_hash_embed(
        "(SELECT 0 AS qid, 'large economy widget' AS qtext)", 'qid', 'qtext'
    )} t2),
    top AS (
      SELECT p_partkey, {_duck_cosine('e', 'qe')} AS score
      FROM emb CROSS JOIN q
      ORDER BY score DESC, p_partkey
      LIMIT 5
    )
    SELECT t.p_partkey, p.p_name, p.p_brand, p.p_type, t.score
    FROM top t JOIN part p USING (p_partkey)
    """,
)
def q_semantic_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's §3.3 lifecycle end-to-end in Spark: template each
    product row into a document (E1) → embed (E2, hash-embedder) → top-k
    cosine search for a text query (E4) → join results back to product
    details (J3) with score = rank-descending cosine. Everything except the
    two pandas-UDF embed calls is JVM-side."""

    p = load_table(spark, sf_dir, "part")
    # the template+embed projection is the expensive stage and part.parquet
    # is a non-splittable single-row-group file locally — spread the scan
    # feeding the ArrowEvalPython stage across cores (no-op at scale where
    # the scan has natural splits); the final detail join keeps the plain
    # scan, it is broadcast-side and cheap
    docs = _cpu_spread(spark, sf_dir, "part").select(
        "p_partkey",
        product_document(
            name=F.col("p_name"),
            brand=F.col("p_brand"),
            category=F.col("p_type"),
            description=F.lit(""),
            price=F.floor(F.col("p_retailprice")),
            stars=F.col("p_size") / 10.0,
            orders=F.lit(0),
            stock=F.col("p_size") * 5,
        ).alias("document"),
    )
    emb = docs.select("p_partkey", "document", embed_column(F.col("document")).alias("embedding"))
    # a one-partition JVM relation: the query text's embed runs one Python task
    query = spark.range(1, numPartitions=1).select(
        embed_column(F.lit("large economy widget")).alias("q")
    )
    top = topk_brute_force(emb, query, k=5, id_col="p_partkey")
    # J3: join search hits back to full product details
    return top.join(p, "p_partkey").select(
        "p_partkey", "p_name", "p_brand", "p_type", "score"
    )


# ---------------------------------------------------------------------------
# applyInPandas escape hatch / data quality / corpus stats
# ---------------------------------------------------------------------------

@register(
    "grouped_robust_zscore",
    oracle="""
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS m
      FROM lineitem GROUP BY l_returnflag
    ),
    mad AS (
      SELECT l.l_returnflag, quantile_cont(abs(l.l_quantity - med.m), 0.5) AS mad
      FROM lineitem l JOIN med ON l.l_returnflag = med.l_returnflag
      GROUP BY l.l_returnflag
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           round((l.l_quantity - med.m) / (1.4826 * mad.mad), 6) AS robust_z
    FROM lineitem l
    JOIN med ON l.l_returnflag = med.l_returnflag
    JOIN mad ON l.l_returnflag = mad.l_returnflag
    """,
)
def q_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped custom analytics via ``applyInPandas`` (SURVEY §2.13 — the
    per-group pandas escape hatch): robust z-score (median/MAD) per return
    flag, computed in numpy per group, verified against a pure-SQL oracle.
    numpy's linear-interpolated median matches quantile_cont(0.5) exactly."""


    out_schema = StructType(
        [
            StructField("l_orderkey", LongType()),
            StructField("l_linenumber", IntegerType()),
            StructField("l_returnflag", StringType()),
            StructField("robust_z", DoubleType()),
        ]
    )

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        # nanmedian, not median: one NULL quantity (NaN after Arrow) would
        # otherwise poison the whole group's median and MAD. NULL quantity
        # or a zero/undefined MAD -> NULL z (nullable Float64 array — a
        # bare float column would ship NaN, which hashes != SQL NULL).
        q = pdf["l_quantity"].to_numpy(dtype="float64")
        finite = ~np.isnan(q)
        m = float(np.nanmedian(q)) if finite.any() else float("nan")
        mad = float(np.nanmedian(np.abs(q - m))) if finite.any() else float("nan")
        denom = 1.4826 * mad
        pdf = pdf[["l_orderkey", "l_linenumber", "l_returnflag"]].copy()
        if not np.isfinite(denom) or denom == 0:
            pdf["robust_z"] = pd.array([None] * len(q), dtype="Float64")
        else:
            z = np.round((q - m) / denom, 6)
            pdf["robust_z"] = pd.array(
                [None if np.isnan(v) else float(v) for v in z], dtype="Float64"
            )
        return pdf

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    # SQL join semantics: a NULL group key matches nothing (the oracle's
    # med/mad joins drop those rows) — applyInPandas would happily make a
    # NULL-flag group
    li = li.filter(F.col("l_returnflag").isNotNull())
    return li.groupBy("l_returnflag").applyInPandas(zscore, schema=out_schema)


@register(
    "data_quality_report",
    oracle="""
    SELECT
      COUNT(*) AS n_rows,
      CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_quantity,
      CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpositive_quantity,
      CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS bad_discount,
      CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_shipdate,
      CAST(SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS BIGINT) AS bad_returnflag,
      COUNT(DISTINCT l_orderkey) AS distinct_orders
    FROM lineitem
    """,
)
def q_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations report (training-pipeline gatekeeping):
    null/range/domain violation counts in ONE pass — every check is a
    conditional aggregate, so the table is scanned once regardless of how
    many rules run."""
    li = load_table(spark, sf_dir, "lineitem")

    def viol(cond):
        return F.sum(F.when(cond, 1).otherwise(0))

    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        viol(F.col("l_quantity").isNull()).alias("null_quantity"),
        viol(F.col("l_quantity") <= 0).alias("nonpositive_quantity"),
        viol((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).alias("bad_discount"),
        viol(F.col("l_shipdate").isNull()).alias("null_shipdate"),
        viol(~F.col("l_returnflag").isin("A", "N", "R")).alias("bad_returnflag"),
        F.countDistinct("l_orderkey").alias("distinct_orders"),
    )


@register(
    "corpus_stats",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len({_DUCK_WORDS})) AS BIGINT) AS total_tokens,
           round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
           round(quantile_cont(n_chars, 0.95), 6) AS p95_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents GROUP BY lang
    """,
)
def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics (the first report any training-data
    pipeline runs): doc counts, token totals, length percentiles."""

    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_ws("text")).alias("total_tokens"),
        F.round(F.percentile("n_chars", F.lit(0.5)), 6).alias("p50_chars"),
        F.round(F.percentile("n_chars", F.lit(0.95)), 6).alias("p95_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# ---------------------------------------------------------------------------
# Deterministic sampling / split assignment (training-pipeline extension)
# ---------------------------------------------------------------------------

def _duck_uniform_doc(seed: str) -> str:
    return _duck_uniform(seed, key="CAST(doc_id AS VARCHAR)")


@register(
    "stratified_sample_docs",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {_duck_uniform_doc('42')} <
          CASE WHEN lang = 'en' THEN 0.8
               WHEN lang = 'de' THEN 0.5
               WHEN lang = 'zh' THEN 0.25
               ELSE 0.1 END
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sampling (data mixing): fraction by
    language, chosen by row-key hash — same rows survive on any cluster,
    any partitioning, any retry (``DataFrame.sample`` cannot promise that)."""

    d = load_table(spark, sf_dir, "documents")
    out = stratified_sample(
        d,
        key_col="doc_id",
        strata_col="lang",
        fractions={"en": 0.8, "de": 0.5, "zh": 0.25},
        seed=42,
        default_fraction=0.1,
    )
    return out.select("doc_id", "lang")


@register(
    "train_val_test_split",
    oracle=f"""
    SELECT doc_id,
           -- cuts mirror the Spark-side float arithmetic exactly
           -- (1.0-0.1-0.1 != 0.8 in IEEE; a literal 0.8 would misclassify
           -- a hash landing in the 1-ulp gap)
           CASE WHEN {_duck_uniform_doc('42-split')} < (1.0 - 0.1 - 0.1) THEN 'train'
                WHEN {_duck_uniform_doc('42-split')} < (1.0 - 0.1 - 0.1 + 0.1) THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def q_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based train/val/test assignment: a document never migrates
    between splits as the corpus grows — the reproducibility property
    random splits lack."""

    d = load_table(spark, sf_dir, "documents")
    return train_val_test_split(d, key_col="doc_id", seed="42-split").select(
        "doc_id", "split"
    )


@register(
    "winnow_fingerprints",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents
    ),
    kg AS (
      SELECT doc_id,
             list_transform(range(greatest(len(ws) - 2, 0)),
                            i -> array_to_string(ws[i + 1:i + 3], ' ')) AS kgrams
      FROM base
    ),
    h AS (
      SELECT doc_id, list_transform(kgrams, g -> {_duck_hash48('g')}) AS hs FROM kg
    ),
    m AS (
      SELECT doc_id,
             list_transform(range(greatest(len(hs) - 3, 0)),
                            i -> list_min(hs[i + 1:i + 4])) AS mins
      FROM h
    )
    SELECT doc_id, unnest(list_distinct(mins)) AS fingerprint FROM m
    """,
)
def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (rolling-hash family, MOSS-style): hash word
    3-grams, keep the min of each sliding window of 4 — local edits only
    perturb fingerprints whose window touches them. Map-side array ops, one
    explode."""

    d = _cpu_spread(spark, sf_dir, "documents")
    return winnow_fingerprints(d, "text", ["doc_id"], k=3, w=4)


@register(
    "fill_forward_props",
    oracle="""
    SELECT event_id, user_id,
           last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
    FROM events
    """,
)
def q_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-forward / gap filling: carry the last non-null observation
    forward per key (time-series staple; ``last(..., ignorenulls=True)``
    over an ordered frame)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = F.when(F.col("event_type") == "purchase", F.col("value"))
    return e.select(
        "event_id",
        "user_id",
        F.last(marked, ignorenulls=True).over(w).alias("last_purchase_value"),
    )


@register(
    "trailing_hour_activity",
    oracle="""
    SELECT event_id, user_id,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch(ts)
                          RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS events_last_hour
    FROM events
    """,
)
def q_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing time-RANGE window: per event, how many events the user
    produced in the preceding hour (the batch twin of a sliding-window
    stream metric). RANGE frame over epoch seconds — value-based, not
    row-based."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")) / 1_000_000)
        .rangeBetween(-3600, 0)
    )
    return e.select(
        "event_id", "user_id", F.count(F.lit(1)).over(w).alias("events_last_hour")
    )


@register(
    "funnel_conversion",
    oracle="""
    WITH steps AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT
      COUNT(*) AS n_users,
      CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS step_view,
      CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view THEN 1 ELSE 0 END) AS BIGINT) AS step_click,
      CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view AND t_purchase > t_click
               THEN 1 ELSE 0 END) AS BIGINT) AS step_purchase
    FROM steps
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: users progressing view → click → purchase IN ORDER
    (first-occurrence timestamps per step, strict ordering between steps).
    One shuffle on user_id; conditional-min aggregates do the sequencing —
    no self-joins, no window sorts."""
    e = load_table(spark, sf_dir, "events")

    def first_ts(kind):
        return F.min(F.when(F.col("event_type") == kind, F.col("ts")))

    steps = e.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    did_view = F.col("t_view").isNotNull()
    did_click = did_view & (F.col("t_click") > F.col("t_view"))
    did_purchase = did_click & (F.col("t_purchase") > F.col("t_click"))

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0))

    return steps.agg(
        F.count(F.lit(1)).alias("n_users"),
        cnt(did_view).alias("step_view"),
        cnt(did_click).alias("step_click"),
        cnt(did_purchase).alias("step_purchase"),
    )


@register("approx_percentiles")  # no oracle: t-digest sketches are engine-specific
def q_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (t-digest-style sketch) — the 100 TB path where
    exact per-group percentiles would gather whole groups (pytest bounds the
    error vs the exact quantity_percentiles query)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_quantity", F.lit(0.5), F.lit(1000)).alias("p50_approx"),
        F.approx_percentile("l_quantity", F.lit(0.99), F.lit(1000)).alias("p99_approx"),
    )


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH tokens AS (
      SELECT doc_id, unnest({_DUCK_WORDS}) AS word FROM documents
    ),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tokens GROUP BY doc_id, word),
    df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM tokens GROUP BY word),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.word,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df ON tf.word = df.word CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, word, tfidf,
             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rn
      FROM scored
    )
    SELECT doc_id, word, tfidf, CAST(rn AS INT) AS rn FROM ranked WHERE rn <= 3
    """,
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document — the classic text-relevance
    pipeline: term frequencies (one shuffle), document frequencies (one
    shuffle over the token dictionary), idf broadcast back, per-doc ranking
    window. The df side is dictionary-sized, so the join back to tf is a
    broadcast at any corpus scale."""

    d = load_table(spark, sf_dir, "documents")
    tokens = d.withColumn("__ws", words("text")).select(
        "doc_id", F.explode("__ws").alias("word")
    )
    tf = tokens.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tokens.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()  # scalar, driver-side (one tiny job)
    scored = tf.join(F.broadcast(df_), "word").select(
        "doc_id",
        "word",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "word")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "word", "tfidf", "rn")
    )


@register(
    "anomaly_events",
    oracle="""
    WITH stats AS (
      SELECT event_type,
             avg(value) AS mu,
             stddev_samp(value) AS sigma
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           round((e.value - s.mu) / nullif(s.sigma, 0), 4) AS zscore
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE abs((e.value - s.mu) / nullif(s.sigma, 0)) > 3
    """,
)
def q_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly detection: events beyond 3σ of their type's value
    distribution (grouped stats broadcast back over the stream's batch
    twin). 4-decimal rounding absorbs the ~1e-12 partial-M2 merge noise.
    A constant-value group has sigma 0 — its z-score is undefined (NULL),
    not an ANSI DIVIDE_BY_ZERO crash."""
    e = load_table(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    joined = e.join(F.broadcast(stats), "event_type")
    z = (F.col("value") - F.col("mu")) / F.nullif(F.col("sigma"), F.lit(0.0))
    return joined.filter(F.abs(z) > 3).select(
        "event_id", "event_type", F.round(z, 4).alias("zscore")
    )


# ---------------------------------------------------------------------------
# Round-2 additions, second wave: decontamination, heavy hitters, VARIANT
# JSON, embedding quantization (engine extensions — training-data pipeline
# staples with full DuckDB oracles).
# ---------------------------------------------------------------------------

# DuckDB twin of neardup.word_ngrams(n=5): starts 1..len-4 (range end is
# exclusive and an end < start yields an empty list, mirroring the Spark
# sequence guard), 1-based inclusive slice of 5 words, per-doc distinct.
_DUCK_5GRAMS = (
    "list_distinct(list_transform(range(1, len(ws) - 3), "
    "i -> array_to_string(ws[i:i+4], ' ')))"
)


@register(
    "decontaminate_ngram_overlap",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents),
    ev AS (
      SELECT DISTINCT gram FROM (
        SELECT unnest({_DUCK_5GRAMS}) AS gram
        FROM w WHERE doc_id % 53 = 0
      )
    ),
    tr AS (
      SELECT doc_id, unnest({_DUCK_5GRAMS}) AS gram
      FROM w WHERE doc_id % 53 <> 0
    ),
    hits AS (
      SELECT tr.doc_id, count(*) AS n_overlap
      FROM tr JOIN ev USING (gram) GROUP BY tr.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
           coalesce(h.n_overlap, 0) > 0 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 53 <> 0) d
    LEFT JOIN hits h USING (doc_id)
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (engine extension): 5-gram overlap between
    the training corpus and a held-out eval set (here the deterministic
    ``doc_id % 53`` slice standing in for a benchmark). Eval n-grams are
    broadcast — the corpus side never shuffles on shingles; see
    ``neardup.decontaminate_overlap``."""

    d = load_table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 53 == 0
    return decontaminate_overlap(
        d.filter(~is_eval), d.filter(is_eval), "doc_id", "text", n=5
    )


@register(
    "heavy_hitter_tokens",
    oracle=f"""
    WITH tok AS (SELECT unnest({_DUCK_WORDS}) AS token FROM documents),
    counts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM counts)
    SELECT token, cnt, round(cnt / n, 6) AS share
    FROM counts, tot WHERE cnt * 200 > n
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: tokens exceeding 1/200 of total token mass
    (stopword/boilerplate screen ahead of dedup and quality scoring). Two
    aggregations, but the second pass runs over the vocab-sized count
    table, not the corpus; the single-row total is broadcast. Exact — at
    100 TB the same shape holds because vocab ≪ corpus; for truly unbounded
    key domains switch the first agg to count-min + the same threshold."""

    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(words("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").alias("n"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * 200 > F.col("n"))
        .select(
            "token",
            "cnt",
            F.round(F.col("cnt") / F.col("n"), 6).alias("share"),
        )
    )


@register(
    "variant_json_events",
    oracle="""
    SELECT event_id,
           -- integer-pattern gate instead of a bare TRY_CAST: DuckDB
           -- TRY_CAST('7.5' AS INT) ROUNDS to 8 where Spark's variant int
           -- extraction does not — gating both engines on ^-?[0-9]+$ over
           -- the string form makes non-integer k NULL identically
           TRY_CAST(CASE WHEN regexp_matches(v, '^-?[0-9]+$') THEN v END AS INT) AS k,
           TRY_CAST(v AS VARCHAR) AS k_str,
           props IS NOT NULL AND json_valid(props) AS is_valid
    FROM (
      -- DuckDB's json_extract_string RAISES on malformed JSON (no try_
      -- variant), so the validity gate must wrap the extraction itself
      SELECT event_id, props,
             CASE WHEN json_valid(props)
               THEN json_extract_string(props, '$.k') END AS v
      FROM events
    )
    """,
)
def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON through Spark 4 VARIANT: ``try_parse_json`` once,
    then typed ``try_variant_get`` extractions — the open-schema path for
    event property bags (parse once, binary-encoded, no per-access
    re-parse, unlike repeated ``get_json_object`` calls). NULL-on-malformed
    end to end: junk props → NULL variant → NULL fields, is_valid false."""
    e = load_table(spark, sf_dir, "events")
    v = F.try_parse_json("props")
    k_str = F.try_variant_get(v, "$.k", "string")
    return e.select(
        "event_id",
        # int via the string form behind an integer-pattern gate — the
        # cross-engine contract for non-integer k (floats, booleans):
        # NULL in both, where typed variant-get vs TRY_CAST would diverge
        # (DuckDB rounds '7.5'→8, Spark does not)
        F.when(k_str.rlike("^-?[0-9]+$"), k_str).try_cast("int").alias("k"),
        k_str.alias("k_str"),
        v.isNotNull().alias("is_valid"),
    )


@register(
    "udtf_unit_price_explode",
    oracle="""
    WITH t AS (
      SELECT p_partkey, CAST(floor(p_retailprice) AS BIGINT) AS base
      FROM part
    )
    SELECT p_partkey,
           unnest(['S', 'M', 'L']) AS size,
           unnest([base, base + 5000, base + 10000]) AS price
    FROM t
    """,
)
def q_udtf_unit_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (SURVEY §2.13 — the reference needs no UDTF, so
    this is the beyond-parity demo): build the reference-shaped
    single-quoted size/price struct per part row, then LATERAL-explode it
    with ``ParseUnitPriceUDTF``. The DuckDB twin zips the same S/M/L price
    ladder with positional unnest. The expression-plan twin of this query
    is ``zip_explode_pairs`` — UDTFs stay the slow-path escape hatch."""

    register_parse_unit_price_udtf(spark)
    p = load_table(spark, sf_dir, "part")
    base = F.floor("p_retailprice").cast("long")
    t = p.select(
        "p_partkey",
        F.format_string(
            "{'product_sizes': 'S|M|L', 'product_prices': '%d|%d|%d'}",
            base,
            base + F.lit(5000),
            base + F.lit(10000),
        ).alias("unit_price"),
    )
    return spark.sql(
        "SELECT t.p_partkey, u.size, u.price "
        "FROM {t} t, LATERAL parse_unit_price_udtf(t.unit_price) u",
        t=t,
    )


@register(
    "temperature_sample_mix",
    oracle=f"""
    WITH n AS (SELECT source, count(*) AS n_source FROM documents GROUP BY source),
    r AS (
      SELECT source, n_source,
             least(1.0, 4.0 / sqrt(n_source)) AS rate
      FROM n
    )
    SELECT d.doc_id, d.source, r.n_source, round(r.rate, 6) AS rate
    FROM documents d JOIN r USING (source)
    WHERE {_duck_uniform("mix", "CAST(doc_id AS VARCHAR)")} < r.rate
    """,
)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened data mixing (α = 1/2): big sources downsampled
    ∝ 1/sqrt(n), small sources kept whole — see
    ``sampling.temperature_mix``. sqrt is IEEE-correctly-rounded (pow is
    not), which is what makes the rate — and therefore the kept set —
    bit-identical across engines."""

    d = load_table(spark, sf_dir, "documents")
    out = temperature_mix(d, "doc_id", "source", coefficient=4.0, seed="mix")
    return out.select(
        "doc_id", "source", "n_source", F.round("rate", 6).alias("rate")
    )


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, e,
             list_aggregate(e, 'min') AS vmin,
             list_aggregate(e, 'max') AS vmax
      FROM v
    ),
    c AS (
      SELECT vec_id, vmin, vmax,
             list_transform(e, x -> CASE WHEN vmax <> vmin
               THEN CAST(round((x - vmin) * 255.0 / (vmax - vmin)) AS INT) - 128
               ELSE 0 END) AS codes,
             round(list_aggregate(list_transform(e, x -> abs(
               CASE WHEN vmax <> vmin
                 THEN vmin + CAST(CAST(round((x - vmin) * 255.0 / (vmax - vmin)) AS INT) - 128 + 128 AS DOUBLE) * (vmax - vmin) / 255.0
                 ELSE vmin END - x)), 'max'), 6) AS max_abs_err
      FROM s
    )
    SELECT vec_id, vmin, vmax, max_abs_err,
           i AS pos, codes[CAST(i AS INT) + 1] AS code
    FROM c CROSS JOIN unnest(range(len(codes))) AS t(i)
    """,
)
def q_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding int8 scalar quantization (storage-scale op — see
    ``similarity.quantize_int8``), exploded to one row per (vector,
    position) so the driver hash checks every code and the per-vector
    reconstruction error."""

    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_int8(emb, "vec_id", "embedding")
    return q.select(
        "vec_id",
        "vmin",
        "vmax",
        "max_abs_err",
        F.posexplode("codes").alias("pos", "code"),
    ).select(
        "vec_id", "vmin", "vmax", "max_abs_err", F.col("pos").cast("long").alias("pos"), "code"
    )


# ---------------------------------------------------------------------------
# Round-2 additions, third wave: cross-corpus segment dedup (C4-style) and
# Bloom-prefiltered decontamination.
# ---------------------------------------------------------------------------


@register(
    "line_dedup_docs",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents),
    pe AS (
      SELECT doc_id, ws,
             unnest(range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS pos
      FROM w
    ),
    segs AS (
      SELECT doc_id, pos,
             array_to_string(ws[(pos*8+1):(pos*8+8)], ' ') AS seg
      FROM pe
    ),
    marked AS (
      SELECT doc_id, pos, seg,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) = 1 AS keep
      FROM segs
    ),
    agg AS (
      SELECT doc_id,
             coalesce(string_agg(seg, ' ' ORDER BY pos) FILTER (WHERE keep), '') AS clean_text,
             count(*) FILTER (WHERE keep) AS n_kept,
             count(*) FILTER (WHERE NOT keep) AS n_dropped
      FROM marked GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(a.clean_text, '') AS clean_text,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(coalesce(a.n_dropped, 0) AS BIGINT) AS n_dropped
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-corpus span dedup (engine extension): 8-word segments,
    global keep-first, reassemble — removes page boilerplate repeated across
    documents. One shuffle on the segment for the window, one groupBy(id) to
    reassemble; see ``neardup.segment_dedup``."""

    d = load_table(spark, sf_dir, "documents")
    return segment_dedup(d, "doc_id", "text", seg_words=8)


@register(
    "bloom_decontaminate",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents),
    ev AS (
      SELECT DISTINCT gram FROM (
        SELECT unnest({_DUCK_5GRAMS}) AS gram
        FROM w WHERE doc_id % 53 = 0
      )
    ),
    tr AS (
      SELECT doc_id, unnest({_DUCK_5GRAMS}) AS gram
      FROM w WHERE doc_id % 53 <> 0
    ),
    bad AS (SELECT DISTINCT tr.doc_id FROM tr JOIN ev USING (gram))
    SELECT d.doc_id, d.text FROM documents d
    WHERE d.doc_id % 53 <> 0
      AND d.doc_id NOT IN (SELECT doc_id FROM bad)
    """,
)
def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination APPLY step with a Bloom prefilter (engine extension):
    the eval set's 5-gram Bloom filter screens corpus grams executor-side;
    only candidates reach the exact verification join, whose output drops
    contaminated docs via anti-join. Result is provably identical to the
    filter-less exact join (oracle is exactly that) — the Bloom stage is the
    scale path for eval sets too big to broadcast exactly. See
    ``operators/bloom.py``."""

    d = load_table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 53 == 0
    with_ws = d.withColumn("__ws", words("text"))
    corpus = with_ws.filter(~is_eval)
    eval_df = with_ws.filter(is_eval)
    # spread ONLY the corpus-gram branch (r11): its explode + Bloom probe
    # ran as one 0.55 s single-task stage over the non-splittable local
    # scan. Spreading the TABLE (_cpu_spread on d) was measured 2x
    # SLOWER — every consumer branch (eval grams, final anti-join) then
    # re-pays the repartition shuffle of the full text column; one
    # round-robin exchange of just the corpus docs feeds the probe stage.
    corpus_grams = corpus.repartition(
        spark.sparkContext.defaultParallelism
    ).select(
        "doc_id", F.explode(word_ngrams(F.col("__ws"), 5)).alias("gram")
    )
    # no .distinct() (r11): the Bloom build sets identical bits for
    # duplicate grams and the verify join is LEFT SEMI — the dedup shuffle
    # bought nothing (guide §2.4: remove shuffles outright)
    eval_grams = eval_df.select(
        F.explode(word_ngrams(F.col("__ws"), 5)).alias("gram")
    )
    # Filter sizing from table metadata (parquet row-count read, no gram
    # job): eval slice ≈ n_docs/53 docs × ≤64 grams/doc — an overestimate,
    # which only widens the bitset.
    est_eval_grams = (d.count() // 53 + 1) * 64
    bad = bloom_decontaminate(
        corpus_grams, eval_grams, "gram", fpp=0.01, expected_items=est_eval_grams
    )
    return corpus.join(bad, "doc_id", "left_anti").select("doc_id", "text")


@register(
    "late_shipment_priority_counts",
    oracle="""
    SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    )
    GROUP BY o.o_orderpriority
    """,
)
def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-family: orders with at least one lineitem shipping >90 days
    after the order date, counted per priority — exercises the
    correlated-EXISTS surface (the correlation touches an OUTER column
    inside the subquery), which Catalyst rewrites to a left-semi hash join
    (no nested-loop; bounded exchanges, enforced by the catalog plan lint)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        FROM {o} o
        WHERE EXISTS (
          SELECT 1 FROM {li} l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > date_add(o.o_orderdate, 90)
        )
        GROUP BY o.o_orderpriority
        """,
        o=o,
        li=li,
    )


def _baskets(li: DataFrame) -> DataFrame:
    """One row per order: ``ps`` = its sorted distinct part keys. The
    orderkey exchange is width-pinned (r11): basket rows are tiny, so AQE
    would coalesce the basket agg + pair-explode stage to ~4 partitions
    while the explode's quadratic fan-out is the work (see _pin_width)."""
    return _pin_width(li, "l_orderkey").groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )


def _basket_pairs(baskets: DataFrame, a: str, b: str) -> GroupedData:
    """``baskets`` grouped by every part pair ``(a, b)``, ``a < b``, that
    shares a basket. Pairs expand INSIDE the array expression (map-side
    after the basket agg) instead of a self-join — blocked by the order
    key, never all-pairs, and width bounded by basket size."""
    s = F.col("ps")
    pair_structs = F.flatten(
        F.transform(
            s,
            lambda x, i: F.transform(
                F.slice(s, i + 2, F.greatest(F.size(s) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias(a), y.alias(b)),
            ),
        )
    )
    return baskets.select(F.explode(pair_structs).alias("p")).groupBy(
        F.col(f"p.{a}").alias(a), F.col(f"p.{b}").alias(b)
    )


@register(
    "copurchase_pairs",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, n_orders
    FROM pairs
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 20
    """,
)
def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-purchase pairs: parts appearing in the same order,
    counted across orders, top 20. The self-join is BLOCKED by the order
    key (equi-join, never all-pairs) and pair width is bounded by basket
    size — at 100 TB the shuffle is |lineitem| on orderkey and pair
    generation stays per-order local. TakeOrderedAndProject for the top-k."""
    li = load_table(spark, sf_dir, "lineitem")
    # one shuffle on the order key builds each basket and pairs expand
    # inside it: two exchanges total instead of the self-join shape's ~9
    pairs = _basket_pairs(_baskets(li), "part_a", "part_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    return pairs.orderBy(F.col("n_orders").desc(), "part_a", "part_b").limit(20)


@register(
    "weighted_sample_docs",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, n_chars,
             greatest({_duck_hash48("concat('wsample|', CAST(doc_id AS VARCHAR))")}
               / 281474976710656.0, 1.0 / 1125899906842624.0) AS uv
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, n_chars, round(-ln(uv) / n_chars, 6) AS es_key
    FROM u
    ORDER BY -ln(uv) / n_chars, doc_id
    LIMIT 50
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (A-ES) — 50 docs
    with inclusion probability ∝ length. See ``sampling.weighted_sample``;
    the plan is TakeOrderedAndProject, never a global sort."""

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample(d, "doc_id", "n_chars", n=50, seed="wsample")


@register(
    "next_day_retention",
    oracle="""
    WITH active AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    ret AS (
      SELECT a.day,
             CAST(count(*) AS BIGINT) AS n_active,
             CAST(count(b.user_id) AS BIGINT) AS n_retained
      FROM active a
      LEFT JOIN active b
        ON a.user_id = b.user_id AND b.day = a.day + INTERVAL 1 DAY
      GROUP BY a.day
    )
    SELECT day, n_active, n_retained,
           round(CAST(n_retained AS DOUBLE) / n_active, 6) AS retention
    FROM ret
    """,
)
def q_next_day_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-day cohort retention (engine extension): of the users active on
    day D, the share also active on D+1 — the canonical product-analytics
    rollup. One distinct (user, day) pass, then a self-join on
    (user, day+1): both sides hash-partition on user_id, so the join
    co-locates; the per-day aggregate is day-cardinality sized."""
    e = load_table(spark, sf_dir, "events")
    active = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    nxt = active.select("user_id", F.date_sub("day", 1).alias("day"))
    ret = (
        active.join(
            nxt.withColumn("retained", F.lit(1)),
            ["user_id", "day"],
            "left",
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_active"),
            F.sum(F.coalesce("retained", F.lit(0))).cast("long").alias("n_retained"),
        )
    )
    return ret.select(
        "day",
        "n_active",
        "n_retained",
        F.round(F.col("n_retained").cast("double") / F.col("n_active"), 6).alias(
            "retention"
        ),
    )


@register(
    "order_total_histogram",
    oracle="""
    WITH b AS (
      SELECT CAST(least(floor(o_totalprice / 60000.0), 9) AS INT) AS bucket
      FROM orders
    ),
    grid AS (SELECT CAST(unnest(range(10)) AS INT) AS bucket)
    SELECT g.bucket,
           round(g.bucket * 60000.0, 1) AS lo,
           round((g.bucket + 1) * 60000.0, 1) AS hi,
           CAST(coalesce(count(b.bucket), 0) AS BIGINT) AS n
    FROM grid g LEFT JOIN b USING (bucket)
    GROUP BY g.bucket ORDER BY g.bucket
    """,
)
def q_order_total_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (10 × 60k buckets, top bucket
    clamps the tail): the distribution-profiling primitive behind quality
    dashboards and skew diagnosis. Map-side bucket assignment + one 10-group
    aggregate; the empty-bucket spine is a broadcast of 10 literal rows, so
    the result shape is stable even when a bucket has no orders."""
    o = load_table(spark, sf_dir, "orders")
    width = 60000.0
    bucket = F.least(F.floor(F.col("o_totalprice") / width), F.lit(9)).cast("int")
    counts = o.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    grid = spark.range(10).select(F.col("id").cast("int").alias("bucket"))
    return (
        grid.join(counts, "bucket", "left")
        .select(
            "bucket",
            F.round(F.col("bucket") * width, 1).alias("lo"),
            F.round((F.col("bucket") + 1) * width, 1).alias("hi"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        )
        .orderBy("bucket")
    )


@register(
    "url_canonical_dedup",
    # The oracle re-synthesizes the same messy URLs from events and replays
    # the canonicalization with DuckDB's regex/list functions — one grouped
    # dedup report per canonical URL.
    oracle=r"""
    WITH raw AS (
      SELECT event_id,
        'HTTP://Shop' || CAST(user_id % 20 AS VARCHAR) || '.Example.COM:80/p/'
        || CAST(event_id % 100 AS VARCHAR)
        || CASE WHEN event_id % 3 = 0 THEN '/' ELSE '' END
        || CASE WHEN event_id % 4 = 0 THEN '?utm_source=x&id=' || CAST(event_id % 50 AS VARCHAR)
                WHEN event_id % 5 = 0 THEN '?id=' || CAST(event_id % 50 AS VARCHAR) || '&utm_campaign=y'
                ELSE '' END
        || CASE WHEN event_id % 7 = 0 THEN '#frag' ELSE '' END AS url
      FROM events
    ),
    parts AS (
      SELECT event_id,
             regexp_replace(url, '#.*$', '') AS nf,
             lower(regexp_extract(regexp_replace(url, '#.*$', ''),
               '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme
      FROM raw
    ),
    comp AS (
      SELECT event_id, scheme,
             CASE WHEN scheme = 'http'
                  THEN regexp_replace(lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1)), ':80$', '')
                  WHEN scheme = 'https'
                  THEN regexp_replace(lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1)), ':443$', '')
                  ELSE lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1)) END AS host,
             regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*(.*)$', 1) AS rest
      FROM parts
    ),
    canon AS (
      SELECT event_id, scheme, host,
             CASE WHEN regexp_replace(regexp_replace(rest, '\?.*$', ''), '/$', '') = ''
                  THEN '/' ELSE regexp_replace(regexp_replace(rest, '\?.*$', ''), '/$', '') END AS path,
             array_to_string(list_filter(
               string_split(CASE WHEN contains(rest, '?')
                                 THEN regexp_replace(rest, '^[^?]*\?', '')
                                 ELSE '' END, '&'),
               p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)(=|$)')
             ), '&') AS qs
      FROM comp
    ),
    cu AS (
      SELECT event_id,
             scheme || '://' || host || path
             || CASE WHEN qs <> '' THEN '?' || qs ELSE '' END AS url
      FROM canon
    )
    SELECT url, CAST(count(*) AS BIGINT) AS n, min(event_id) AS first_id
    FROM cu GROUP BY url
    """,
)
def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl URL dedup (engine extension): messy synthesized URLs (mixed
    case, default ports, trailing slashes, utm params, fragments) →
    ``canonicalize_url`` → grouped dedup report (canonical url, count,
    first event). The canonicalization is pure codegen'd expressions —
    map-side; the only shuffle is the final group-by on the canonical key."""

    e = _cpu_spread(spark, sf_dir, "events")
    eid, uid = F.col("event_id"), F.col("user_id")
    raw = F.concat(
        F.lit("HTTP://Shop"), (uid % 20).cast("string"),
        F.lit(".Example.COM:80/p/"), (eid % 100).cast("string"),
        F.when(eid % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(eid % 4 == 0, F.concat(F.lit("?utm_source=x&id="), (eid % 50).cast("string")))
        .when(eid % 5 == 0, F.concat(F.lit("?id="), (eid % 50).cast("string"), F.lit("&utm_campaign=y")))
        .otherwise(F.lit("")),
        F.when(eid % 7 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    with_canon = e.select("event_id", canonicalize_url(raw).alias("url"))
    return with_canon.groupBy("url").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("event_id").alias("first_id"),
    )


@register(
    "sql_market_share",
    oracle="""
    WITH rev AS (
      -- keep the group sums EXACT decimal; the nation total must be a
      -- decimal sum of decimals, not a sum of doubles (addition order
      -- across 5 doubles differs between engines in the last ulp and
      -- flips round(...,6) boundaries at large SF — r5 sf1 sweep)
      SELECT n.n_name AS nation,
             o.o_orderpriority AS priority,
             sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                 * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS rev_dec
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name, o.o_orderpriority
    ),
    tot AS (SELECT nation, sum(rev_dec) AS nation_rev_dec FROM rev GROUP BY nation)
    SELECT r.nation, r.priority,
           -- round the DECIMAL (exact HALF_UP in both engines), then cast:
           -- rounding the double flips on .xx5 boundary cells (r5 sf1 sweep)
           CAST(CAST(round(r.rev_dec, 2) AS VARCHAR) AS DOUBLE) AS revenue,
           round(CAST(CAST(r.rev_dec AS VARCHAR) AS DOUBLE)
                 / nullif(CAST(CAST(t.nation_rev_dec AS VARCHAR) AS DOUBLE), 0),
                 6) AS share
    FROM rev r JOIN tot t USING (nation)
    """,
)
def q_sql_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same engine through its SQL face: a multi-CTE revenue-share query
    written as a SQL string with DataFrame args (``spark.sql(..., df=...)``
    — no temp-view session-state side effects). Catalyst compiles this and
    the DataFrame API to the same plans: broadcast dims, partial aggs,
    decimal-exact revenue. TPC-H-flavored 4-table join."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return spark.sql(
        """
        WITH rev AS (
          SELECT /*+ BROADCAST(c), BROADCAST(n) */
                 n.n_name AS nation,
                 o.o_orderpriority AS priority,
                 -- EXACT decimal until the final casts: the nation total
                 -- below must sum decimals, not doubles — a double sum's
                 -- addition order differs across engines in the last ulp
                 -- and flips round(...,6) at large SF (r5 sf1 sweep)
                 sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                     * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS rev_dec
          FROM {li} l
          JOIN {o} o ON l.l_orderkey = o.o_orderkey
          JOIN {c} c ON o.o_custkey = c.c_custkey
          JOIN {n} n ON c.c_nationkey = n.n_nationkey
          GROUP BY n.n_name, o.o_orderpriority
        )
        SELECT nation, priority,
               CAST(CAST(round(rev_dec, 2) AS STRING) AS DOUBLE) AS revenue,
               -- nullif: a zero-revenue nation has no defined share (and
               -- ANSI mode makes the bare division a runtime error)
               round(CAST(CAST(rev_dec AS STRING) AS DOUBLE)
                     / nullif(CAST(CAST(sum(rev_dec) OVER (PARTITION BY nation)
                                        AS STRING) AS DOUBLE), 0),
                     6) AS share
        FROM rev
        """,
        li=li,
        o=o,
        c=c,
        n=n,
    )


@register(
    "percentile_quality_gate",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id, source,
             length(text) AS n_chars,
             len({_DUCK_WORDS}) AS n_words,
             CASE WHEN length(text) > 0 THEN
               round(length(regexp_replace(text, '[^.!?,;]', '', 'g'))
                     / length(text), 6) END AS punct_ratio,
             CASE WHEN len({_DUCK_WORDS}) > 0 THEN
               round(len(list_filter({_DUCK_WORDS}, w -> list_contains({_DUCK_EN_STOP}, w)))
                     / len({_DUCK_WORDS}), 6) END AS stop_ratio
      FROM documents
    ),
    scored AS (
      SELECT doc_id, source,
             CASE WHEN n_words = 0 OR n_chars = 0 THEN 0.0 ELSE
               round(least(1.0, n_words / 100.0) * 0.4
                     + (1.0 - punct_ratio) * 0.3
                     + stop_ratio * 0.3, 6) END AS quality_score
      FROM feats
    )
    SELECT doc_id, source, quality_score,
           round(percent_rank() OVER (PARTITION BY source
                 ORDER BY quality_score DESC, doc_id), 6) AS pctile,
           percent_rank() OVER (PARTITION BY source
                 ORDER BY quality_score DESC, doc_id) <= 0.3 AS kept
    FROM scored
    """,
)
def q_percentile_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source percentile quality gate (engine extension): keep the top
    30% of each source by composite quality score — the curation policy
    that adapts to per-source score distributions instead of one global
    threshold (a fixed cutoff keeps junk from clean sources and drops good
    docs from noisy ones). One window shuffle on source; ties break on
    doc_id so the gate is deterministic."""

    d = load_table(spark, sf_dir, "documents")
    feats = T.quality_features(d, "text", ["doc_id", "source"])
    w = Window.partitionBy("source").orderBy(
        F.col("quality_score").desc(), "doc_id"
    )
    pr = F.percent_rank().over(w)
    return feats.select(
        "doc_id",
        "source",
        "quality_score",
        F.round(pr, 6).alias("pctile"),
        (pr <= 0.3).alias("kept"),
    )


@register(
    "unicode_normalize_docs",
    # DuckDB's nfc_normalize/strip_accents (utf8proc) implement the same
    # Unicode standard as pandas' str.normalize (unicodedata) — verified
    # byte-identical on Vietnamese/Latin edge cases incl. đ (a letter, kept
    # by both) and NFKC-only forms (untouched by both).
    oracle="""
    SELECT doc_id,
           nfc_normalize(text) AS text_nfc,
           strip_accents(text) AS text_folded,
           text IS DISTINCT FROM nfc_normalize(text) AS changed
    FROM documents
    """,
)
def q_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode ingest hygiene (engine extension): NFC normalization (composed
    vs decomposed Vietnamese diacritics hash differently — dedup digests and
    equality joins silently diverge without this) + accent folding for search
    keys. Arrow-vectorized pandas ops; see ``textops.normalize_unicode``."""

    d = load_table(spark, sf_dir, "documents")
    nfc = normalize_unicode(F.col("text"), "NFC")
    return d.select(
        "doc_id",
        nfc.alias("text_nfc"),
        fold_accents(F.col("text")).alias("text_folded"),
        (~F.col("text").eqNullSafe(nfc)).alias("changed"),
    )


def _doc_token_counts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``documents``, its ``(doc_id, token)`` rows and the corpus-wide
    ``(token, cnt)`` counts — the prelude of the unigram-vocabulary
    queries."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(words("text")).alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    return d, tok, counts


@register(
    "unigram_logprob_quality",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_DUCK_WORDS}) AS token FROM documents),
    counts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
    tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM counts),
    scored AS (
      SELECT tok.doc_id, ln(CAST(cnt AS DOUBLE) / n) AS lp
      FROM tok JOIN counts USING (token) CROSS JOIN tot
    ),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             round(sum(lp) / count(*), 6) AS avg_logprob
      FROM scored GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
           a.avg_logprob,
           coalesce(a.avg_logprob > -6.0, FALSE) AS kept
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM quality score (engine extension): per-doc mean token
    log-probability under the corpus's own unigram distribution — the
    CCNet-style cheap LM proxy that flags gibberish/outlier docs before
    expensive filtering. Shape: one vocab-sized count aggregation, a
    token→count join (vocab ≪ corpus → AQE broadcasts it at scale), one
    per-doc aggregation. Empty docs keep a NULL score and are not kept."""
    d, tok, counts = _doc_token_counts(spark, sf_dir)
    total = counts.agg(F.sum("cnt").cast("double").alias("n"))
    scored = tok.join(counts, "token").crossJoin(F.broadcast(total))
    lp = F.log(F.col("cnt").cast("double") / F.col("n"))
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.round(F.sum(lp) / F.count(F.lit(1)), 6).alias("avg_logprob"),
    )
    return (
        d.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.col("avg_logprob"),
            F.coalesce(F.col("avg_logprob") > -6.0, F.lit(False)).alias("kept"),
        )
    )


@register(
    "global_shuffle_shards",
    oracle=f"""
    WITH k AS (
      SELECT doc_id,
             {_duck_hash48("concat('shuffle|', CAST(doc_id AS VARCHAR))")} AS ord48
      FROM documents
    )
    SELECT doc_id, ord48, CAST(ord48 % 8 AS INT) AS shard,
           CAST(row_number() OVER (PARTITION BY ord48 % 8
                                   ORDER BY ord48, doc_id) AS BIGINT) AS pos
    FROM k
    """,
)
def q_global_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into training shards (engine extension):
    hash order key → shard → within-shard position, reproducible on any
    partitioning — the write-side twin is partitionBy(shard) with
    sortWithinPartitions(pos). See ``sampling.shuffle_shards``."""

    d = load_table(spark, sf_dir, "documents")
    return shuffle_shards(d, "doc_id", n_shards=8, seed="shuffle").select(
        "doc_id", "ord48", "shard", "pos"
    )


@register(
    "tpch_q10_returned_items",
    oracle="""
    WITH rev AS (
      SELECT c_custkey, c_name, c_acctbal, n_name,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS rev_dec
      FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1996-04-01'
        AND l_returnflag = 'R'
      GROUP BY c_custkey, c_name, c_acctbal, n_name
    )
    SELECT c_custkey, c_name,
           CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM rev
    ORDER BY rev_dec DESC, c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue in a
    quarter. Plan: orderdate filter pushed to the orders scan, returnflag
    filter pushed to lineitem, fact-fact join on orderkey (the only big
    shuffle), customer join key-partitioned, nation broadcast; the top-20 is
    TakeOrderedAndProject on the exact decimal revenue (bit-stable sort,
    c_custkey tiebreak)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).alias(
                "rev_dec"
            )
        )
    )
    return (
        rev.orderBy(F.col("rev_dec").desc(), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            F.col("rev_dec").cast("string").cast("double").alias("revenue"),
            "c_acctbal",
            "n_name",
        )
    )


@register(
    "tpch_q14_promo_share",
    oracle="""
    WITH r AS (
      SELECT CAST(l_extendedprice AS DECIMAL(18,4))
             * (1 - CAST(l_discount AS DECIMAL(18,4))) AS rev,
             p_type = 'PROMO' AS is_promo
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-09-01'
        AND l_shipdate <  TIMESTAMP '1996-10-01'
    )
    SELECT
      round(100.0 * CAST(CAST(SUM(CASE WHEN is_promo THEN rev ELSE CAST(0 AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE)
                  / CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE), 6) AS promo_share,
      CAST(CAST(SUM(CASE WHEN is_promo THEN rev ELSE CAST(0 AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE) AS promo_revenue,
      CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE) AS total_revenue
    FROM r
    """,
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo-part revenue share for one ship-month.
    Shipdate filter pushed to the lineitem scan; part joined on partkey
    (broadcast here — at real TPC-H scale part is fact-sized and this
    becomes a key-partitioned join; AQE picks per stats); single global
    aggregate with map-side partials, exact decimal sums."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    p = load_table(spark, sf_dir, "part")
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    zero = F.lit(0).cast("decimal(18,4)")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        rev.alias("rev"), (F.col("p_type") == "PROMO").alias("is_promo")
    )
    promo = F.sum(F.when(F.col("is_promo"), F.col("rev")).otherwise(zero))
    total = F.sum("rev")
    return joined.agg(
        F.round(
            F.lit(100.0)
            * promo.cast("string").cast("double")
            / total.cast("string").cast("double"),
            6,
        ).alias("promo_share"),
        promo.cast("string").cast("double").alias("promo_revenue"),
        total.cast("string").cast("double").alias("total_revenue"),
    )


@register(
    "tpch_q18_big_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey,
             SUM(CAST(l_quantity AS DECIMAL(18,4))) AS qty_dec
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 300
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(CAST(qty_dec AS VARCHAR) AS DOUBLE) AS total_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders (aggregate-then-join with a
    HAVING filter). The quantity rollup shuffles once on orderkey and the
    HAVING prunes it to a tiny survivor set BEFORE the joins — so the
    orders/customer joins run on the filtered side (AQE broadcasts the
    survivors at scale). Exact decimal threshold compare."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("qty_dec"))
        .filter(F.col("qty_dec") > F.lit(300).cast("decimal(18,4)"))
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("qty_dec").cast("string").cast("double").alias("total_qty"),
        )
    )


@register(
    "ccnet_quality_buckets",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_DUCK_WORDS}) AS token FROM documents),
    counts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
    tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM counts),
    scored AS (
      SELECT tok.doc_id, ln(CAST(cnt AS DOUBLE) / n) AS lp
      FROM tok JOIN counts USING (token) CROSS JOIN tot
    ),
    agg AS (
      SELECT doc_id, round(sum(lp) / count(*), 6) AS avg_logprob
      FROM scored GROUP BY doc_id
    ),
    b AS (
      SELECT d.doc_id, d.source, a.avg_logprob,
             ntile(3) OVER (PARTITION BY d.source
                            ORDER BY a.avg_logprob DESC, d.doc_id) AS t
      FROM documents d JOIN agg a USING (doc_id)
    )
    SELECT doc_id, source, avg_logprob,
           CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
    FROM b
    """,
)
def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2020): score every doc
    with the corpus unigram LM, then split EACH SOURCE into head / middle /
    tail terciles by score — the standard way LLM corpora keep
    per-domain quality strata comparable. Shape: the unigram scoring
    pipeline (vocab agg + broadcastable count join + per-doc agg), then ONE
    ntile window partitioned by source (bounded groups — never a global
    sort). Docs with no tokens have no score and are excluded, as in CCNet."""
    d, tok, counts = _doc_token_counts(spark, sf_dir)
    total = counts.agg(F.sum("cnt").cast("double").alias("n"))
    scored = tok.join(counts, "token").crossJoin(F.broadcast(total))
    lp = F.log(F.col("cnt").cast("double") / F.col("n"))
    agg = scored.groupBy("doc_id").agg(
        F.round(F.sum(lp) / F.count(F.lit(1)), 6).alias("avg_logprob")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("avg_logprob").desc(), F.col("doc_id")
    )
    return (
        d.select("doc_id", "source")
        .join(agg, "doc_id")
        .withColumn("t", F.ntile(3).over(w))
        .select(
            "doc_id",
            "source",
            "avg_logprob",
            F.when(F.col("t") == 1, "head")
            .when(F.col("t") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )


@register(
    "boilerplate_purge_docs",
    oracle=f"""
    WITH w AS (SELECT doc_id, source, {_DUCK_WORDS} AS ws FROM documents),
    pe AS (
      SELECT doc_id, source, ws,
             unnest(range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS pos
      FROM w
    ),
    segs AS (
      SELECT doc_id, source, pos,
             array_to_string(ws[(pos*8+1):(pos*8+8)], ' ') AS seg
      FROM pe
    ),
    freq AS (
      SELECT source, seg, count(DISTINCT doc_id) AS df
      FROM segs GROUP BY source, seg
    ),
    marked AS (
      SELECT s.doc_id, s.pos, s.seg, f.df < 2 AS keep
      FROM segs s JOIN freq f
        ON s.source IS NOT DISTINCT FROM f.source AND s.seg = f.seg
    ),
    agg AS (
      SELECT doc_id,
             coalesce(string_agg(seg, ' ' ORDER BY pos) FILTER (WHERE keep), '') AS clean_text,
             count(*) FILTER (WHERE keep) AS n_kept,
             count(*) FILTER (WHERE NOT keep) AS n_dropped
      FROM marked GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(a.clean_text, '') AS clean_text,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(coalesce(a.n_dropped, 0) AS BIGINT) AS n_dropped
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def q_boilerplate_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-based boilerplate removal (CCNet §4.1 companion to the
    keep-first C4 dedup in ``line_dedup_docs``): an 8-word segment present
    in ≥2 distinct docs of the SAME source is boilerplate — dropped from
    every document, no survivor copy. See
    ``operators/neardup.boilerplate_removal`` for the shuffle audit."""

    d = load_table(spark, sf_dir, "documents")
    return boilerplate_removal(d, "doc_id", "text", "source", seg_words=8, min_docs=2)


@register(
    "bigram_logprob_quality",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents),
    -- linear-memory positional explode: build the per-doc struct list ONCE
    -- and drop ws before the unnest. The previous shape carried the whole
    -- ws list on every exploded row (O(doc_len^2) buffered), which at sf10
    -- pushed DuckDB past a 48 GB cap; this is the documented
    -- list_transform(range(...)) ordinality idiom, bit-identical output.
    bg AS (
      SELECT doc_id, s.pos AS pos, s.w1 AS w1, s.bigram AS bigram
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(0, greatest(len(ws) - 1, 0)),
                      i -> {{'pos': i, 'w1': ws[i + 1],
                            'bigram': ws[i + 1] || ' ' || ws[i + 2]}})) AS s
        FROM w
      )
    ),
    bc AS (SELECT bigram, count(*) AS c FROM bg GROUP BY bigram),
    cc AS (SELECT w1, count(*) AS cw FROM bg GROUP BY w1),
    v AS (
      SELECT CAST(count(DISTINCT word) AS DOUBLE) AS vsz
      FROM (SELECT unnest(ws) AS word FROM w)
    ),
    scored AS (
      SELECT g.doc_id, g.pos,
             ln((CAST(c AS DOUBLE) + 0.5) / (CAST(cw AS DOUBLE) + 0.5 * vsz)) AS lp
      FROM bg g JOIN bc USING (bigram) JOIN cc USING (w1) CROSS JOIN v
    ),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             round(list_sum(list(lp ORDER BY pos)) / count(*), 6) AS avg_logprob
      FROM scored GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           a.avg_logprob,
           coalesce(a.avg_logprob > -7.0, FALSE) AS kept
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-k-smoothed bigram LM quality score (engine extension; the next
    step up from ``unigram_logprob_quality``'s CCNet proxy): per-doc mean
    log P(w2|w1) under the corpus's own bigram distribution with add-0.5
    smoothing — catches scrambled/word-salad text whose unigram profile
    looks normal. Shape: bigrams explode map-side from the words array (no
    self-join, no lag window); bigram counts aggregate once into a
    dictionary, context counts C(w1·) are a window over that dictionary
    (never a second pass over the stream), and ONE explicit broadcast join
    carries both counts back (at corpus scale where the bigram dictionary
    outgrows the broadcast limit, drop the hint and the same plan runs as a
    shuffle join); vocabulary size is a 1-row broadcast scalar. The per-doc
    sum folds in ascending position order
    (collect → sort → fold) so the double accumulation is bit-identical on
    any partitioning — the same contract as the cosine oracles. Docs with
    <2 tokens score NULL and are not kept."""

    d = load_table(spark, sf_dir, "documents")
    # materialize the words array as a COLUMN first: inlining words("text")
    # into the transform lambda embeds a fresh split/filter tree at every
    # reference, re-tokenizing the document once per emitted bigram field
    # (measured 9.6 s → 1.5 s warm at sf0.1 for this one projection)
    dw = d.select("doc_id", words("text").alias("__ws"))
    ws = F.col("__ws")
    n_bg = F.greatest(F.size(ws) - 1, F.lit(0))
    idx = F.when(n_bg > 0, F.sequence(F.lit(0), n_bg - 1)).otherwise(
        F.array().cast("array<int>")
    )
    pairs = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("pos"),
            ws[i].alias("w1"),
            F.concat_ws(" ", ws[i], ws[i + 1]).alias("bigram"),
        ),
    )
    # posexplode_outer keeps bigram-less docs as a single NULL row, so the
    # final per-doc aggregate covers EVERY doc — no join back to the spine
    bg = dw.select("doc_id", F.posexplode_outer(pairs).alias("_i", "p")).select(
        "doc_id", "p.pos", "p.w1", "p.bigram"
    )
    real = bg.filter(F.col("bigram").isNotNull())
    # context counts fold the DICTIONARY, not the token stream: C(w1·) =
    # Σ C(w1 w2) as a window over the bigram counts — one dictionary-sized
    # exchange, and the single broadcast join carries BOTH counts (a
    # separate groupBy would make Catalyst recompute the whole bigram
    # aggregate from the scan — verified on the physical plan)
    w_ctx = Window.partitionBy(F.split("bigram", " ")[0])
    bc = (
        real.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("cw", F.sum("c").over(w_ctx))
    )
    v = dw.select(F.explode(ws).alias("word")).agg(
        F.countDistinct("word").cast("double").alias("vsz")
    )
    lp = F.log(
        (F.col("c").cast("double") + F.lit(0.5))
        / (F.col("cw").cast("double") + F.lit(0.5) * F.col("vsz"))
    )
    scored = (
        bg.join(F.broadcast(bc), "bigram", "left")
        .crossJoin(F.broadcast(v))
        .select("doc_id", "pos", F.when(F.col("bigram").isNotNull(), lp).alias("lp"))
    )
    folded = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "lp"))), lambda s: s["lp"]
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n_bigrams = F.count("lp").cast("long")
    return scored.groupBy("doc_id").agg(
        n_bigrams.alias("n_bigrams"),
        F.when(n_bigrams > 0, F.round(folded / n_bigrams, 6)).alias("avg_logprob"),
        F.coalesce(
            F.when(n_bigrams > 0, F.round(folded / n_bigrams, 6) > -7.0),
            F.lit(False),
        ).alias("kept"),
    )


@register(
    "cms_heavy_hitters",
    oracle=f"""
    WITH tok AS (SELECT unnest({_DUCK_WORDS}) AS token FROM documents),
    counts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
    kj AS (SELECT token, cnt, unnest(range(4)) AS row FROM counts),
    kb AS (
      SELECT token, cnt, row,
             {_duck_hash48("concat('cms', CAST(row AS VARCHAR), '|', token)")} % 64 AS bucket
      FROM kj
    ),
    cells AS (
      SELECT token, cnt, SUM(cnt) OVER (PARTITION BY row, bucket) AS cell
      FROM kb
    ),
    est AS (
      SELECT token, CAST(max(cnt) AS BIGINT) AS true_count,
             CAST(min(cell) AS BIGINT) AS cms_estimate
      FROM cells GROUP BY token
    )
    SELECT token, true_count, cms_estimate
    FROM est
    ORDER BY cms_estimate DESC, true_count DESC, token
    LIMIT 20
    """,
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch heavy hitters (Cormode & Muthukrishnan 2005) —
    completes the mergeable-sketch family next to HLL
    (``approx_distinct_counts``), t-digest (``approx_percentiles``) and the
    Bloom filter (``operators/bloom.py``). Sketch: depth 4 × width 64 md5
    buckets; estimate(token) = min over rows of its bucket's cell — always
    ≥ the true count. The testdata vocabulary (31 tokens) doesn't collide
    at width 64, so here estimate == count and the oracle verifies the
    bucket arithmetic; the collision/overestimate regime is pinned by the
    4×4-width property test in ``tests/test_properties.py``. Shape: one
    token-count aggregation, then the
    sketch cells are a WINDOW-sum over the 4×dictionary (a separate sketch
    DataFrame + join-back would make Catalyst recompute the whole token
    aggregate — same lesson as ``bigram_logprob_quality``), per-token min,
    top-20. The 256-cell sketch itself never leaves the executors; at
    100 TB the dictionary shuffle dominates and the sketch stays 2 KB —
    the whole point of CMS."""

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(words("text")).alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    rows = F.array(
        *[
            F.struct(
                F.lit(j).alias("row"),
                (
                    md5_hash48(F.concat(F.lit(f"cms{j}|"), F.col("token"))) % 64
                ).alias("bucket"),
            )
            for j in range(4)
        ]
    )
    kb = counts.select("token", "cnt", F.explode(rows).alias("b")).select(
        "token", "cnt", F.col("b.row").alias("row"), F.col("b.bucket").alias("bucket")
    )
    cells = kb.withColumn(
        "cell", F.sum("cnt").over(Window.partitionBy("row", "bucket"))
    )
    est = cells.groupBy("token").agg(
        F.max("cnt").cast("long").alias("true_count"),
        F.min("cell").cast("long").alias("cms_estimate"),
    )
    return est.orderBy(
        F.col("cms_estimate").desc(), F.col("true_count").desc(), "token"
    ).limit(20)


@register(
    "llm_corpus_pipeline",
    oracle=f"""
    WITH q AS (
      SELECT * FROM documents
      WHERE text IS NOT NULL AND n_chars IS NOT NULL AND lang IS NOT NULL
        AND n_chars >= 60 AND n_chars <= 1500
        AND lang IN ('en', 'vi')
        AND length(regexp_replace(text, '[a-zA-Zàáạảãâầấậẩẫăằắặẳẵèéẹẻẽêềếệểễìíịỉĩòóọỏõôồốộổỗơờớợởỡùúụủũưừứựửữỳýỵỷỹđ0-9\\s]', '', 'g'))
              <= CAST(0.1 * length(text) AS DOUBLE)
    ),
    dd AS (
      SELECT d.* FROM q d
      JOIN (SELECT md5(lower(trim(text))) AS dg, min(doc_id) AS doc_id
            FROM q GROUP BY 1) k
        ON md5(lower(trim(d.text))) = k.dg AND d.doc_id = k.doc_id
    ),
    corpus AS (SELECT * FROM dd WHERE doc_id % 53 <> 0),
    wv AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents),
    ev AS (
      SELECT DISTINCT gram FROM (
        SELECT unnest({_DUCK_5GRAMS}) AS gram FROM wv WHERE doc_id % 53 = 0
      )
    ),
    cg AS (
      SELECT doc_id, unnest({_DUCK_5GRAMS}) AS gram
      FROM (SELECT doc_id, {_DUCK_WORDS} AS ws FROM corpus)
    ),
    bad AS (SELECT DISTINCT cg.doc_id FROM cg JOIN ev USING (gram)),
    clean AS (
      SELECT * FROM corpus WHERE doc_id NOT IN (SELECT doc_id FROM bad)
    )
    SELECT doc_id, source, lang, md5(text) AS content_md5,
           CASE WHEN u < (1.0 - 0.1 - 0.1) THEN 'train'
                WHEN u < (1.0 - 0.1 - 0.1 + 0.1) THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT *, {_duck_uniform_doc('42-split')} AS u FROM clean)
    """,
)
def q_llm_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP COMPOSITE: the end-to-end LLM training-corpus pipeline as
    ONE declarative plan — quality gate (same ruleset as
    ``quality_filter_chain``) → exact content dedup keep-first
    (``neardup.exact_dedup_by_content``) → benchmark decontamination
    against the ``doc_id % 53`` eval slice
    (``neardup.decontaminate_overlap``, broadcast eval grams) → stable
    hash-based train/val/test assignment
    (``sampling.train_val_test_split``). Proves the operators COMPOSE:
    every stage is the same code path its standalone catalog query runs,
    and the single end-to-end oracle pins the whole chain. Shape: the gate
    is a pushed-down filter on the scan; dedup is one digest shuffle;
    decontamination adds no corpus shuffle (eval grams broadcast, per-doc
    hit counts); the split is a map-side hash. Returns
    (doc_id, source, lang, content_md5, split)."""

    d = load_table(spark, sf_dir, "documents")
    viet = "àáạảãâầấậẩẫăằắặẳẵèéẹẻẽêềếệểễìíịỉĩòóọỏõôồốộổỗơờớợởỡùúụủũưừứựửữỳýỵỷỹđ"
    symbol_len = F.length(F.regexp_replace(F.col("text"), f"[a-zA-Z{viet}0-9\\s]", ""))
    kept = (
        F.col("text").isNotNull()
        & F.col("n_chars").isNotNull()
        & F.col("lang").isNotNull()
        & (F.col("n_chars") >= 60)
        & (F.col("n_chars") <= 1500)
        & F.col("lang").isin("en", "vi")
        & (symbol_len <= (F.lit(0.1) * F.length("text")).cast("double"))
    )
    q = d.filter(kept)
    dd = exact_dedup_by_content(q, "text", "doc_id")
    is_eval = F.col("doc_id") % 53 == 0
    # THREE consumers need the gated+deduped corpus (decontamination's
    # shingle explode, its id spine, and the final clean join). Without a
    # barrier each replays the regexp quality gate AND the digest
    # dedup subtree per branch (14 parquet scans in the before-plan).
    # Materialize the corpus ID SPINE once — ids only, ~|unique docs| longs,
    # the smallest artifact that pins the stage — and let every consumer be
    # a plain scan + semi-join against it (4 scans total, ONE gate/dedup
    # evaluation at any scale). doc_id is the table PK, so id membership
    # selects exactly the corpus rows.
    corpus_ids = (
        dd.filter(~is_eval).select("doc_id").localCheckpoint(eager=True)
    )
    corpus = d.join(corpus_ids, on=["doc_id"], how="left_semi")
    verdicts = decontaminate_overlap(corpus, d.filter(is_eval), "doc_id", "text", n=5)
    clean = corpus.join(
        verdicts.filter(~F.col("contaminated")).select("doc_id"), "doc_id"
    )
    return train_val_test_split(clean, key_col="doc_id", seed="42-split").select(
        "doc_id", "source", "lang", F.md5("text").alias("content_md5"), "split"
    )


@register(
    "kmeans_lloyd_step",
    oracle="""
    WITH live0 AS (
      -- trainer contract (operators/ml.kmeans): rows with a NULL vector or
      -- any NULL element are excluded from the step — a partial distance
      -- (list_sum skips NULLs) would mis-assign, and a NULL element would
      -- bias its (cluster, dim) mean
      SELECT vec_id, embedding FROM embeddings
      WHERE embedding IS NOT NULL
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
    ),
    dim AS (
      -- ragged contract: canonical dim = the lowest-id valid row's length;
      -- wrong-length vectors are excluded like other corrupt shapes
      SELECT len(embedding) AS d FROM live0 ORDER BY vec_id LIMIT 1
    ),
    live AS (
      SELECT vec_id, embedding FROM live0, dim WHERE len(embedding) = dim.d
    ),
    cent AS (
      SELECT vec_id AS cid, embedding AS cv FROM live WHERE vec_id < 8
    ),
    dists AS (
      SELECT e.vec_id, cent.cid, e.embedding,
             list_sum(list_transform(range(len(e.embedding)),
               i -> (CAST(e.embedding[i+1] AS DOUBLE) - CAST(cent.cv[i+1] AS DOUBLE))
                  * (CAST(e.embedding[i+1] AS DOUBLE) - CAST(cent.cv[i+1] AS DOUBLE))))
               AS d
      FROM live e CROSS JOIN cent
    ),
    assign AS (
      SELECT vec_id, embedding, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      FROM dists
    ),
    ex AS (
      SELECT cid,
             unnest(list_transform(range(len(embedding)),
                                   i -> {'dim': i, 'x': embedding[i + 1]})) AS u
      FROM assign WHERE rn = 1
    )
    SELECT cid, CAST(u.dim AS INT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(CAST(SUM(CAST(CAST(u.x AS DOUBLE) AS DECIMAL(27,12))) / COUNT(*)
                 AS DOUBLE), 6) AS centroid
    FROM ex GROUP BY cid, u.dim
    """,
)
def q_kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd iteration of k-means (k=8, seeds = vec_id < 8) — the
    iterative-ML building block on top of the vector-aggregate primitive
    (``label_centroids``) and the assignment argmin IVF uses
    (``similarity.ivf_*``). Shape: 8 centroids broadcast, squared-L2 per
    (vector, centroid) as an ascending-index fold (bit-identical to the
    oracle's ``list_sum`` — same contract as the cosine queries), argmin
    via a struct-min keyed aggregate (ties break on centroid id), then the
    new centroids are decimal-exact per-(cluster, dim) means. Two keyed
    shuffles total; at any scale the per-round cost is k·n map-side work +
    those two exchanges — the canonical distributed k-means step. A full
    trainer loops this via ``localCheckpoint`` exactly like
    ``graph.connected_components_star``."""
    em0 = load_table(spark, sf_dir, "embeddings").filter(
        # trainer contract (operators/ml.kmeans): corrupt vectors — NULL, or
        # containing a NULL element — are excluded from the step
        F.col("embedding").isNotNull()
        & ~F.exists(F.col("embedding"), lambda x: x.isNull())
    )
    # ragged contract (matches the oracle's dim CTE): canonical dim = the
    # lowest-id valid row's length; wrong-length vectors are excluded
    dim = (
        em0.select("vec_id", F.size("embedding").alias("d"))
        .orderBy("vec_id")
        .limit(1)
        .collect()[0]["d"]
    )
    em = em0.filter(F.size("embedding") == int(dim))
    ev = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    e = em.select("vec_id", ev.alias("v"))
    cent = em.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), ev.alias("cv")
    )
    dist = F.aggregate(
        F.zip_with(F.col("v"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dists = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cid", "v", dist.alias("d")
    )
    best = dists.groupBy("vec_id").agg(F.min(F.struct("d", "cid", "v")).alias("b"))
    ex = best.select(F.col("b.cid").alias("cid"), F.posexplode("b.v").alias("dim", "x"))
    return ex.groupBy("cid", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            (F.sum(F.col("x").cast("decimal(27,12)")) / F.count(F.lit(1))).cast(
                "double"
            ),
            6,
        ).alias("centroid"),
    )


@register(
    "tpch_q6_forecast_revenue",
    oracle="""
    SELECT
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * CAST(l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        AS revenue,
      COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + global aggregate — the predicate-
    pushdown showcase. All four predicates (shipdate range, discount band,
    quantity cap) reach the parquet scan as PushedFilters, so row groups
    outside the year are never decoded; what remains is one map-side
    partial sum. The cheapest possible plan for this question at any
    scale."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        F.sum(dec("l_extendedprice") * dec("l_discount"))
        .cast("string")
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "tpch_q17_small_qty_revenue",
    oracle="""
    WITH pa AS (
      SELECT l_partkey,
             0.2 * (CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR)
                    AS DOUBLE) / COUNT(*)) AS qty_cut
      FROM lineitem GROUP BY l_partkey
    )
    SELECT
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        / 7.0 AS avg_yearly,
      COUNT(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pa   ON pa.l_partkey = lineitem.l_partkey
    WHERE p_brand = 'Brand#3' AND l_quantity < qty_cut
    """,
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: per-group correlated scalar subquery (quantity below
    20% of the PART's own average), decorrelated into a join against the
    per-part average — the standard Catalyst rewrite, expressed directly.
    The average folds through DECIMAL then one double multiply, so the
    threshold compare is bit-identical in both engines. The per-part agg
    and the fact join share the partkey key; the brand filter prunes via
    the part dimension."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    pa = li.groupBy("l_partkey").agg(
        (
            F.lit(0.2)
            * (
                F.sum(dec("l_quantity")).cast("string").cast("double")
                / F.count(F.lit(1))
            )
        ).alias("qty_cut")
    )
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(pa.withColumnRenamed("l_partkey", "pk"), F.col("l_partkey") == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
    )
    return joined.agg(
        (F.sum(dec("l_extendedprice")).cast("string").cast("double") / F.lit(7.0)).alias(
            "avg_yearly"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "tpch_q19_disjunctive_revenue",
    oracle="""
    SELECT
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE)
        AS revenue,
      COUNT(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive (OR-of-ANDs) predicates spanning both
    join sides. Catalyst extracts the common implied filters — the brand
    IN-list pushes to the part scan and the overall quantity envelope
    [1, 30] pushes to lineitem — so the join runs on pre-filtered inputs
    and the full disjunction evaluates post-join inside codegen. The
    classic test that predicate simplification survives OR branches."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    b = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(b).agg(
        F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
        .cast("string")
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "basket_lift_rules",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM lineitem),
    item_cnt AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
      FROM items GROUP BY l_partkey
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, n_ab,
           round(CAST(n_ab AS DOUBLE) / n_baskets, 6) AS support,
           round(CAST(n_ab AS DOUBLE) / ca.n_item, 6) AS conf_a_to_b,
           round(CAST(n_ab AS DOUBLE) / cb.n_item, 6) AS conf_b_to_a,
           round(CAST(n_ab AS DOUBLE) * n_baskets
                 / (CAST(ca.n_item AS DOUBLE) * cb.n_item), 6) AS lift
    FROM pairs
    JOIN item_cnt ca ON ca.l_partkey = part_a
    JOIN item_cnt cb ON cb.l_partkey = part_b
    CROSS JOIN n
    WHERE n_ab >= 2
    """,
)
def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over co-purchase baskets: support, directional
    confidence and lift for every part pair sharing >= 2 orders — the full
    market-basket metric set on top of ``copurchase_pairs``' in-array pair
    expansion (blocked by the order key, never all-pairs). Item supports
    are dictionary-sized and broadcast back; the basket total is one
    driver-side scalar (parquet-metadata-cheap), so no 1-row crossJoin
    reaches the plan. All ratios derive from exact BIGINT counts with
    mirrored rounding. A NULL orderkey is not a basket: DataFrame
    distinct().count() would count the NULL row where SQL
    count(DISTINCT ...) skips it, shifting every support/lift
    denominator by one."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey").isNotNull()
    )
    # PERF (r10): ONE lineitem scan + one orderkey shuffle builds the
    # basket table; every other input the rule math needs is derived from
    # it. Before, three independent subtrees each re-scanned lineitem and
    # paid their own distinct/agg shuffle: the n_baskets count action, the
    # item_cnt distinct+groupBy, and the basket collect_set. Equivalences:
    # collect_set de-dups within a basket, so |baskets| == count(DISTINCT
    # l_orderkey) and explode(ps) == DISTINCT (orderkey, partkey) rows;
    # collect_set drops NULL partkeys, but a NULL-partkey item_cnt row can
    # never join `pairs` (pair parts come from the same NULL-free arrays),
    # so the counts that reach the output are identical.
    # the width pin in _baskets also sets the checkpoint's partitioning
    baskets = _baskets(li).localCheckpoint(eager=True)
    n_baskets = baskets.count()
    item_cnt = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_item"))
    )
    pairs = (
        _basket_pairs(baskets, "part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    ca = item_cnt.select(
        F.col("l_partkey").alias("part_a"), F.col("n_item").alias("na")
    )
    cb = item_cnt.select(
        F.col("l_partkey").alias("part_b"), F.col("n_item").alias("nb")
    )
    nb_total = F.lit(float(n_baskets))
    out = (
        pairs.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.round(F.col("n_ab").cast("double") / nb_total, 6).alias("support"),
            F.round(F.col("n_ab").cast("double") / F.col("na"), 6).alias(
                "conf_a_to_b"
            ),
            F.round(F.col("n_ab").cast("double") / F.col("nb"), 6).alias(
                "conf_b_to_a"
            ),
            F.round(
                F.col("n_ab").cast("double")
                * nb_total
                / (F.col("na").cast("double") * F.col("nb")),
                6,
            ).alias("lift"),
        )
    )
    return out


@register(
    "running_distinct_event_types",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN row_number() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS first_seen
      FROM events
    )
    SELECT user_id, event_id, ts,
           CAST(SUM(first_seen) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_distinct_types
    FROM flagged
    """,
)
def q_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over an ordered window — a shape Spark (and
    ANSI SQL) cannot express directly (DISTINCT aggregates are not allowed
    over running frames). The standard rewrite: flag each (user, type)'s
    FIRST occurrence with one window, then a running SUM of flags in a
    second — two keyed window shuffles, both on bounded per-user groups,
    instead of the quadratic per-row set-rescan a naive rewrite would do."""
    e = load_table(spark, sf_dir, "events")
    w1 = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = e.withColumn(
        "first_seen", F.when(F.row_number().over(w1) == 1, 1).otherwise(0)
    )
    return flagged.select(
        "user_id",
        "event_id",
        "ts",
        F.sum("first_seen").over(w2).cast("long").alias("n_distinct_types"),
    )


def _sessionized_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with ``new_session`` / ``session_idx``: a user's session
    breaks at a gap of 30 minutes or more, numbered by a cumulative sum
    over the user's (ts, event_id) order. The gap is microsecond-exact:
    cast("long") TRUNCATES sub-second precision, so a 1799.5 s gap would
    read as 1800 and split a session the oracle keeps (bit sf0.1's user
    511; sf0.01 never hit a sub-second boundary case)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    return e.withColumn(
        "new_session", F.when(gap.isNull() | (gap >= 1800 * 1_000_000), 1).otherwise(0)
    ).withColumn(
        "session_idx",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


@register(
    "purchase_attribution",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, event_id, ts, event_type,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM flagged
    ),
    a AS (
      SELECT user_id, event_id, ts, event_type, session_idx,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_id END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id, session_idx ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS attr_event_id,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id, session_idx ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS attr_type
      FROM s
    )
    SELECT user_id, event_id AS purchase_event_id, ts,
           CAST(session_idx AS BIGINT) AS session_idx,
           attr_event_id, attr_type
    FROM a WHERE event_type = 'purchase'
    """,
)
def q_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution within sessions: for every purchase, the most
    recent NON-purchase event in the same 30-min-gap session (the standard
    marketing-attribution primitive, combining the sessionization rule with
    a conditional ignore-nulls last_value). First-of-session purchases
    attribute to NULL, not to the previous session — the frame resets at
    the session boundary. Two window shuffles: one on user for the
    lag/cumulative-sum session numbering, one on (user, session) for the
    attribution frame; both bounded per-user groups at any scale."""
    s = _sessionized_events(spark, sf_dir)
    wa = (
        Window.partitionBy("user_id", "session_idx")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    not_purchase = F.col("event_type") != "purchase"
    a = s.withColumn(
        "attr_event_id",
        F.last(F.when(not_purchase, F.col("event_id")), ignorenulls=True).over(wa),
    ).withColumn(
        "attr_type",
        F.last(F.when(not_purchase, F.col("event_type")), ignorenulls=True).over(wa),
    )
    return a.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        "ts",
        F.col("session_idx").cast("long").alias("session_idx"),
        "attr_event_id",
        "attr_type",
    )


@register(
    "missing_activity_days",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    g AS (
      SELECT user_id, day AS cur,
             lead(day) OVER (PARTITION BY user_id ORDER BY day) AS nxt
      FROM d
    )
    SELECT user_id,
           CAST(cur + INTERVAL 1 DAY AS DATE) AS gap_start,
           CAST(nxt - INTERVAL 1 DAY AS DATE) AS gap_end,
           CAST(date_diff('day', cur, nxt) - 1 AS BIGINT) AS n_missing
    FROM g
    WHERE date_diff('day', cur, nxt) > 1
    """,
)
def q_missing_activity_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap detection (the complement of ``longest_user_streaks``' islands):
    runs of MISSING days between a user's consecutive active days. One
    distinct-days aggregate, one per-user lead window — both keyed on
    user_id (bounded groups), so unlike a naive global-sequence scan this
    shape never funnels through a single partition at any scale."""
    e = load_table(spark, sf_dir, "events")
    d = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    g = d.withColumn("nxt", F.lead("day").over(w))
    missing = F.datediff(F.col("nxt"), F.col("day")) - 1
    return (
        g.filter(F.datediff(F.col("nxt"), F.col("day")) > 1)
        .select(
            "user_id",
            F.date_add("day", 1).alias("gap_start"),
            F.date_sub("nxt", 1).alias("gap_end"),
            missing.cast("long").alias("n_missing"),
        )
    )


@register(
    "tpch_q8_nation_market_share",
    oracle="""
    WITH flat AS (
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,4))
               * (1 - CAST(l_discount AS DECIMAL(18,4))) AS rev,
             ns.n_name AS s_nation
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation nc ON c_nationkey = nc.n_nationkey
      JOIN region r  ON nc.n_regionkey = r.r_regionkey
      JOIN supplier s ON l_suppkey = s.s_suppkey
      JOIN nation ns ON s.s_nationkey = ns.n_nationkey
      WHERE r.r_name = 'ASIA'
    )
    SELECT o_year,
           round(CAST(CAST(SUM(CASE WHEN s_nation = 'NATION_2' THEN rev
                                    ELSE CAST(0 AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE), 6) AS mkt_share,
           CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE) AS total_revenue
    FROM flat GROUP BY o_year
    """,
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's supplier market share within a region's
    customer orders, by order year. The 7-table star resolves every
    dimension (customer-nation, region, supplier-nation) via broadcast —
    the only big shuffle is lineitem⋈orders on the order key; the region
    filter prunes through the dimension chain before the facts join.
    Decimal-exact revenue; the share divides two VARCHAR-routed doubles."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = load_table(spark, sf_dir, "supplier")
    nc = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    ns = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("s_nation")
    )
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    zero = F.lit(0).cast("decimal(18,4)")
    flat = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), c.c_nationkey == F.col("c_nkey"))
        .join(F.broadcast(r), F.col("c_rkey") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), s.s_nationkey == F.col("s_nkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            rev.alias("rev"),
            F.col("s_nation"),
        )
    )
    nation_rev = F.sum(
        F.when(F.col("s_nation") == "NATION_2", F.col("rev")).otherwise(zero)
    )
    total = F.sum("rev")
    return flat.groupBy("o_year").agg(
        F.round(
            nation_rev.cast("string").cast("double")
            / total.cast("string").cast("double"),
            6,
        ).alias("mkt_share"),
        total.cast("string").cast("double").alias("total_revenue"),
    )


@register(
    "session_funnel",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, event_id, ts, event_type,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, session_idx,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM s GROUP BY user_id, session_idx
    )
    SELECT COUNT(*) AS n_sessions,
           CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS step_view,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                         THEN 1 ELSE 0 END) AS BIGINT) AS step_click,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                              AND t_purchase > t_click
                         THEN 1 ELSE 0 END) AS BIGINT) AS step_purchase
    FROM per_session
    """,
)
def q_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel at SESSION granularity (vs ``funnel_conversion``'s user
    granularity): sessions whose events progress view → click → purchase IN
    ORDER within the same 30-min-gap session — the conversion metric a
    product team actually tracks. The sessionization windows share the
    user-key shuffle; the step logic is conditional-min aggregates, no
    self-joins. Sessions come from ``_sessionized_events``."""
    s = _sessionized_events(spark, sf_dir)

    def first_ts(kind):
        return F.min(F.when(F.col("event_type") == kind, F.col("ts")))

    per_session = s.groupBy("user_id", "session_idx").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    did_view = F.col("t_view").isNotNull()
    did_click = did_view & (F.col("t_click") > F.col("t_view"))
    did_purchase = did_click & (F.col("t_purchase") > F.col("t_click"))

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    return per_session.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        cnt(did_view).alias("step_view"),
        cnt(did_click).alias("step_click"),
        cnt(did_purchase).alias("step_purchase"),
    )


@register(
    "inverted_token_index",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest({_DUCK_WORDS}) AS token FROM documents
    )
    SELECT token,
           CAST(count(*) AS BIGINT) AS df,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
    FROM tok GROUP BY token
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction (the IR/search primitive): token →
    sorted posting list of documents containing it, with document
    frequency. One distinct + one groupBy on the token — the postings
    build is exactly a keyed sort-aggregate; at scale the index is written
    partitioned (bucketed) by token hash so lookups prune. Postings are
    emitted as a comma string for driver hashability — the parquet sink
    keeps the array form."""

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(words("text")).alias("token")
    ).distinct()
    return tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )


@register(
    "customer_rfm_scores",
    oracle="""
    WITH base AS (
      SELECT c_custkey,
             max(o_orderdate) AS last_order,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR)
                  AS DOUBLE) AS monetary
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_custkey
    ),
    scored AS (
      SELECT c_custkey, last_order, frequency, monetary,
             ntile(5) OVER (ORDER BY last_order DESC, c_custkey) AS r_score,
             ntile(5) OVER (ORDER BY frequency DESC, c_custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary DESC, c_custkey) AS m_score
      FROM base
    )
    SELECT c_custkey, last_order, frequency, monetary,
           CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
             || CAST(m_score AS VARCHAR) AS rfm
    FROM scored
    """,
)
def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer scoring (recency / frequency / monetary quintiles — the
    classic CRM segmentation): per-customer aggregates, then three ntile
    windows. The windows are deliberately GLOBAL (quintiles are defined
    over the whole customer base) — at 100 TB the base table is
    |customers|, orders-of-magnitude smaller than the fact input, and the
    standard scale-out is quantile-boundary broadcast as in
    ``equidepth_histogram``; this query keeps the exact-ntile form the
    oracle can replay. Decimal-exact monetary; every sort tiebroken by
    custkey."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    base = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(dec("o_totalprice")).cast("string").cast("double").alias(
                "monetary"
            ),
        )
    )
    wr = Window.orderBy(F.col("last_order").desc(), "c_custkey")
    wf = Window.orderBy(F.col("frequency").desc(), "c_custkey")
    wm = Window.orderBy(F.col("monetary").desc(), "c_custkey")
    scored = (
        base.withColumn("r_score", F.ntile(5).over(wr))
        .withColumn("f_score", F.ntile(5).over(wf))
        .withColumn("m_score", F.ntile(5).over(wm))
    )
    return scored.select(
        "c_custkey",
        "last_order",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("rfm"),
    )


@register(
    "copurchase_triangles",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pe AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    -- MATERIALIZED is load-bearing at scale: e is referenced 4x and
    -- oriented 3x below; DuckDB inlines non-materialized CTEs per
    -- reference, so each inline re-derives the whole 120M-row pair
    -- pipeline and the planner join-reorders across the copies — measured
    -- >51 GB of spill before filling the disk at sf10. Materialized, the
    -- same query runs in ~150 s with ZERO spill under a 20 GB cap.
    e AS MATERIALIZED (SELECT pa, pb FROM pe WHERE n >= 2),
    deg AS MATERIALIZED (
      SELECT node, count(*) AS d FROM (
        SELECT pa AS node FROM e UNION ALL SELECT pb FROM e
      ) GROUP BY node
    ),
    -- Degree-oriented (same Suri-Vassilvitskii orientation as the engine):
    -- the naive three-way self-join of e buffered >77 GB of spill at sf10
    -- (unoriented wedge fan-out is SUM d^2 over hub nodes); orienting each
    -- edge from its lower-(degree, id) endpoint bounds per-node fan-out by
    -- out-degree <= O(sqrt m) and counts each triangle exactly once.
    -- Bit-identical to the naive spec (verified at sf0.001/sf0.01/sf1).
    oriented AS MATERIALIZED (
      SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.pa < e.pb)
                  THEN e.pa ELSE e.pb END AS src,
             CASE WHEN da.d < db.d OR (da.d = db.d AND e.pa < e.pb)
                  THEN e.pb ELSE e.pa END AS dst,
             CASE WHEN da.d < db.d OR (da.d = db.d AND e.pa < e.pb)
                  THEN db.d ELSE da.d END AS dst_deg
      FROM e JOIN deg da ON da.node = e.pa JOIN deg db ON db.node = e.pb
    ),
    tri AS (
      SELECT count(*) AS t
      FROM oriented o1
      JOIN oriented o2 ON o1.src = o2.src
       AND (o1.dst_deg < o2.dst_deg
            OR (o1.dst_deg = o2.dst_deg AND o1.dst < o2.dst))
      JOIN oriented o3 ON o3.src = o1.dst AND o3.dst = o2.dst
    ),
    wed AS (SELECT SUM(d * (d - 1) // 2) AS w FROM deg)
    SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
           CAST(t AS BIGINT) AS n_triangles,
           CAST(w AS BIGINT) AS n_wedges,
           round(CASE WHEN w > 0 THEN 3.0 * t / w ELSE 0.0 END, 6)
             AS clustering
    FROM tri, wed
    """,
)
def q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the strong co-purchase graph (parts sharing ≥2
    orders) — the classic distributed graph-analytics kernel, implemented
    with DEGREE ORIENTATION (Suri & Vassilvitskii 2011, "Counting Triangles
    and the Curse of the Last Reducer"): every edge orients from its
    lower-(degree, id) endpoint, wedges form only among OUT-edges of a
    node, and each triangle is counted exactly once at its lowest vertex.
    Orientation bounds per-node wedge fan-out by out-degree ≤ O(√m), which
    is what survives power-law graphs at scale. Since round 7 the ORACLE
    uses the same degree orientation (plus MATERIALIZED CTEs — DuckDB
    otherwise inlines the 4×-referenced edge set and spills >51 GB at
    sf10), so engine and oracle share the algorithm; the INDEPENDENT
    naive-spec check lives in
    tests/test_graph.py::test_triangle_oracle_matches_naive_spec, which
    asserts the oriented oracle is bit-identical to the naive three-way
    edge self-join SQL at small SF. Also reports the global clustering
    coefficient (3·triangles / open wedges)."""
    li = load_table(spark, sf_dir, "lineitem")
    e = (
        _basket_pairs(_baskets(li), "pa", "pb")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("pa", "pb")
        # the edge set feeds FIVE branches (degrees ×2, orientation, both
        # wedge sides, closure); without materialization Catalyst recomputes
        # the whole basket→pair aggregation per branch — 56 exchanges
        # measured. The strong-edge set is support-pruned (tiny vs the
        # fact), so one eager materialization is the scale-correct trade —
        # same lesson as graph.connected_components_star.
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("pa").alias("node"))
        .unionAll(e.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("node").alias("pa"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("pb"), F.col("d").alias("db"))
    ed = e.join(F.broadcast(da), "pa").join(F.broadcast(db), "pb")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("pa") < F.col("pb"))
    )
    oriented = ed.select(
        F.when(a_first, F.col("pa")).otherwise(F.col("pb")).alias("src"),
        F.when(a_first, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dst_deg"),
    ).localCheckpoint(eager=True)  # reused by o1, o2 and the closure join
    o1 = oriented.select("src", F.col("dst").alias("v"), F.col("dst_deg").alias("dv"))
    o2 = oriented.select("src", F.col("dst").alias("w"), F.col("dst_deg").alias("dw"))
    wedges = o1.join(o2, "src").filter(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    closed = wedges.join(
        oriented.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        ["v", "w"],
    )
    tri_row = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    edge_row = e.agg(F.count(F.lit(1)).alias("n_edges"))
    wedge_row = deg.agg(
        F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("long")).alias("n_wedges")
    )
    return (
        edge_row.crossJoin(F.broadcast(tri_row))
        .crossJoin(F.broadcast(wedge_row))
        .select(
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.round(
                F.when(
                    F.col("n_wedges") > 0,
                    F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering"),
        )
    )


@register(
    "daily_activity_spine",
    oracle="""
    WITH bounds AS (
      SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
      FROM events
    ),
    spine AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    ),
    act AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events GROUP BY 1
    )
    SELECT s.day,
           CAST(coalesce(a.n_events, 0) AS BIGINT) AS n_events,
           CAST(coalesce(a.n_users, 0) AS BIGINT) AS n_users,
           a.n_events IS NULL AS is_dark
    FROM spine s LEFT JOIN act a USING (day)
    """,
)
def q_daily_activity_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine pattern: a generated continuous day spine LEFT-joined
    to per-day activity, so ZERO-activity days appear as explicit rows
    (``is_dark``) instead of silently missing — the idiom every
    time-series rollup needs before gap-aware charting/alerting. The spine
    derives from a 1-row min/max aggregate exploded into days (broadcast,
    calendar-sized); activity aggregates once on the day key."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    act = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    return (
        spine.join(act, "day", "left")
        .select(
            "day",
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            F.coalesce("n_users", F.lit(0)).cast("long").alias("n_users"),
            F.col("n_events").isNull().alias("is_dark"),
        )
    )


@register(
    "hour_weekday_heatmap",
    oracle="""
    SELECT CAST(isodow(ts) AS INT) AS weekday,
           CAST(hour(ts) AS INT) AS hour,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def q_hour_weekday_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × ISO-weekday activity matrix (the telemetry heatmap
    behind load forecasting and anomaly baselines). One shuffle on the
    168-cell key; Spark's ``dayofweek`` is Sunday=1, so the ISO mapping is
    derived explicitly to match DuckDB's ``isodow``."""
    e = load_table(spark, sf_dir, "events")
    iso = ((F.dayofweek("ts") + 5) % 7) + 1  # Sun=1..Sat=7 → Mon=1..Sun=7
    return e.groupBy(
        iso.cast("int").alias("weekday"), F.hour("ts").cast("int").alias("hour")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


@register(
    "daily_volume_anomalies",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS x
      FROM events GROUP BY 1
    ),
    stats AS (
      SELECT day, x,
             SUM(x)     OVER w AS s1,
             SUM(x * x) OVER w AS s2,
             COUNT(*)   OVER w AS n
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT day, CAST(x AS BIGINT) AS n_events,
           round((x - s1 / n)
                 / sqrt((s2 * n - s1 * s1) / (n * (n - 1.0))), 6) AS z,
           abs((x - s1 / n)
               / sqrt((s2 * n - s1 * s1) / (n * (n - 1.0)))) > 2.0 AS anomaly
    FROM stats
    WHERE n >= 2
    """,
)
def q_daily_volume_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-baseline anomaly detection: each day's event volume scored
    against the mean/std of the PRECEDING 7 days (frame excludes the
    current row, so a spike can't mask itself). The variance comes from
    explicit (Σx, Σx²) window sums with the same algebraic formula in both
    engines — built-in windowed stddev implementations differ in
    accumulation and drift by ulps. Day counts are one keyed aggregate;
    the global day-ordered window runs over |days| rows (calendar-sized —
    the one place a global window is safe, as in ``running_total``)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    w = Window.orderBy("day").rowsBetween(-7, -1)
    stats = daily.select(
        "day",
        "x",
        F.sum("x").over(w).alias("s1"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("s2"),
        F.count(F.lit(1)).over(w).alias("n"),
    ).filter(F.col("n") >= 2)
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    z = (F.col("x") - s1 / n) / F.sqrt(
        (s2 * n - s1 * s1) / (n * (n - F.lit(1.0)))
    )
    return stats.select(
        "day",
        F.col("x").cast("long").alias("n_events"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > 2.0).alias("anomaly"),
    )


@register(
    "revenue_pareto_deciles",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev_dec
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, rev_dec,
             ntile(10) OVER (ORDER BY rev_dec DESC, o_custkey) AS decile
      FROM cust
    ),
    tot AS (SELECT SUM(rev_dec) AS t FROM cust)
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(CAST(SUM(rev_dec) AS VARCHAR) AS DOUBLE) AS revenue,
           round(CAST(CAST(SUM(rev_dec) AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(t AS VARCHAR) AS DOUBLE), 6) AS revenue_share
    FROM ranked CROSS JOIN tot
    GROUP BY decile, t
    """,
)
def q_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration profile: customers ranked into revenue deciles,
    each decile's share of total revenue (the 80/20 view). Per-customer
    rollup shuffles once; the global decile window runs over |customers|
    (dim-sized); the grand total rides a 1-row broadcast. Exact decimal
    sums end-to-end, shares via the VARCHAR-routed double division."""
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(dec("o_totalprice")).alias("rev_dec")
    )
    wd = Window.orderBy(F.col("rev_dec").desc(), "o_custkey")
    ranked = cust.withColumn("decile", F.ntile(10).over(wd))
    tot = cust.agg(F.sum("rev_dec").alias("t"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy("decile", "t")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("rev_dec").alias("rev_sum"),
        )
        .select(
            "decile",
            "n_customers",
            F.col("rev_sum").cast("string").cast("double").alias("revenue"),
            F.round(
                F.col("rev_sum").cast("string").cast("double")
                / F.col("t").cast("string").cast("double"),
                6,
            ).alias("revenue_share"),
        )
    )


@register(
    "cohort_ltv_matrix",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('month', min(ts)) AS cohort_month
      FROM events GROUP BY user_id
    ),
    cohort_sizes AS (
      SELECT cohort_month, CAST(count(*) AS BIGINT) AS cohort_users
      FROM firsts GROUP BY cohort_month
    ),
    spend AS (
      SELECT f.cohort_month,
             CAST(datediff('month', f.cohort_month,
                           date_trunc('month', e.ts)) AS INT) AS month_offset,
             SUM(CAST(e.value AS DECIMAL(18,4))) AS v
      FROM events e JOIN firsts f USING (user_id)
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2
    )
    SELECT s.cohort_month, s.month_offset, c.cohort_users,
           CAST(CAST(s.v AS VARCHAR) AS DOUBLE) AS cohort_revenue,
           round(CAST(CAST(s.v AS VARCHAR) AS DOUBLE) / c.cohort_users, 6)
             AS revenue_per_user
    FROM spend s JOIN cohort_sizes c USING (cohort_month)
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: users grouped by first-seen month,
    purchase revenue accumulated per (cohort, months-since-acquisition)
    cell, normalized per cohort user — the LTV curve marketing reads down
    each column. Shape: first-seen is one user-keyed aggregate reused by
    BOTH the cohort sizing and the spend join (user-dim-sized → broadcast
    back); the matrix itself is a calendar²-sized aggregate."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("month", F.min("ts")).alias("cohort_month")
    )
    sizes = firsts.groupBy("cohort_month").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_users")
    )
    spend = (
        e.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .groupBy(
            "cohort_month",
            (
                (F.year(F.date_trunc("month", F.col("ts"))) - F.year("cohort_month")) * 12
                + (F.month(F.date_trunc("month", F.col("ts"))) - F.month("cohort_month"))
            )
            .cast("int")
            .alias("month_offset"),
        )
        .agg(F.sum(dec("value")).alias("v"))
    )
    return spend.join(F.broadcast(sizes), "cohort_month").select(
        # DuckDB date_trunc('month') yields DATE; Spark yields TIMESTAMP
        F.col("cohort_month").cast("date").alias("cohort_month"),
        "month_offset",
        "cohort_users",
        F.col("v").cast("string").cast("double").alias("cohort_revenue"),
        F.round(
            F.col("v").cast("string").cast("double") / F.col("cohort_users"), 6
        ).alias("revenue_per_user"),
    )


@register(
    "monthly_revenue_growth",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev_dec,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT month,
           CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE) AS revenue,
           n_orders,
           round(CASE WHEN lag(rev_dec) OVER w IS NULL THEN NULL
                      ELSE (CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE)
                            - CAST(CAST(lag(rev_dec) OVER w AS VARCHAR) AS DOUBLE))
                           / CAST(CAST(lag(rev_dec) OVER w AS VARCHAR) AS DOUBLE)
                 END, 6) AS mom_growth
    FROM m
    WINDOW w AS (ORDER BY month)
    """,
)
def q_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: monthly rollup + lag ratio — the
    reporting staple. The lag runs on the calendar-sized month table (the
    safe global window); growth divides VARCHAR-routed doubles of exact
    decimal sums so both engines agree to the bit."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.sum(dec("o_totalprice")).alias("rev_dec"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    w = Window.orderBy("month")
    prev = F.lag("rev_dec").over(w)
    cur_d = F.col("rev_dec").cast("string").cast("double")
    prev_d = prev.cast("string").cast("double")
    return m.select(
        F.col("month").cast("date").alias("month"),
        cur_d.alias("revenue"),
        "n_orders",
        F.round(
            F.when(prev.isNull(), F.lit(None)).otherwise((cur_d - prev_d) / prev_d),
            6,
        ).alias("mom_growth"),
    )


@register(
    "supplier_hhi_by_type",
    oracle="""
    WITH rev AS (
      SELECT p_type, l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS r
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT p_type, SUM(r) AS t FROM rev GROUP BY p_type)
    SELECT rev.p_type,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           round(SUM(POWER(CAST(CAST(r AS VARCHAR) AS DOUBLE)
                           / CAST(CAST(t AS VARCHAR) AS DOUBLE), 2)), 6) AS hhi
    FROM rev JOIN tot ON rev.p_type = tot.p_type
    GROUP BY rev.p_type
    """,
)
def q_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier concentration per part type via the Herfindahl–Hirschman
    index (Σ market-share² — the antitrust-style concentration metric;
    1/n = perfect competition, 1.0 = monopoly). Nested aggregation: revenue
    per (type, supplier) in one keyed shuffle, per-type totals fold the
    RESULT of that aggregate (dictionary-sized, broadcast back), then the
    share-square sum re-groups by type. Shares divide VARCHAR-routed
    doubles of exact decimal sums; the per-type share² addends sum over ≤
    |suppliers| values with identical bits in both engines, and round(6)
    absorbs the one degree of association freedom."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_type", "l_suppkey")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).alias(
                "r"
            )
        )
    )
    tot = rev.groupBy("p_type").agg(F.sum("r").alias("t"))
    share = F.col("r").cast("string").cast("double") / F.col("t").cast(
        "string"
    ).cast("double")
    return (
        rev.join(F.broadcast(tot), "p_type")
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.round(F.sum(F.pow(share, 2)), 6).alias("hhi"),
        )
    )


@register(
    "orders_keyset_page",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderdate > TIMESTAMP '1997-06-15'
       OR (o_orderdate = TIMESTAMP '1997-06-15' AND o_orderkey > 7000)
    ORDER BY o_orderdate, o_orderkey
    LIMIT 25
    """,
)
def q_orders_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (cursor) pagination — the scalable replacement for
    OFFSET/LIMIT: the next page is everything strictly after the last-seen
    (o_orderdate, o_orderkey) cursor, fetched as TakeOrderedAndProject
    over a predicate that PUSHES to the scan (an OFFSET plan must instead
    sort-and-discard every earlier row, which grows linearly with page
    depth). The composite cursor compare is the standard row-value
    desugaring."""
    o = load_table(spark, sf_dir, "orders")
    cursor_date, cursor_key = "1997-06-15", 7000
    after = (F.col("o_orderdate") > cursor_date) | (
        (F.col("o_orderdate") == cursor_date) & (F.col("o_orderkey") > cursor_key)
    )
    return (
        o.filter(after)
        .orderBy("o_orderdate", "o_orderkey")
        .limit(25)
        .select("o_orderkey", "o_orderdate", "o_totalprice", "o_orderpriority")
    )


@register(
    "dedup_effectiveness_report",
    oracle=f"""
    WITH n_docs AS (SELECT count(*) AS total_docs FROM documents),
    exact AS (
      SELECT count(*) AS distinct_docs
      FROM (SELECT DISTINCT coalesce(md5(lower(trim(text))), '__NULL__')
            FROM documents)
    ),
    w AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents),
    pe AS (
      SELECT doc_id, ws,
             unnest(range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS pos
      FROM w
    ),
    segs AS (
      SELECT doc_id, pos, array_to_string(ws[(pos*8+1):(pos*8+8)], ' ') AS seg
      FROM pe
    ),
    seg_stats AS (
      SELECT count(*) AS total_segs,
             count(DISTINCT seg) AS distinct_segs
      FROM segs
    )
    SELECT CAST(total_docs AS BIGINT) AS total_docs,
           CAST(distinct_docs AS BIGINT) AS distinct_docs,
           CAST(total_docs - distinct_docs AS BIGINT) AS exact_dups,
           CAST(total_segs AS BIGINT) AS total_segments,
           CAST(distinct_segs AS BIGINT) AS distinct_segments,
           round(1.0 - CAST(distinct_segs AS DOUBLE) / total_segs, 6)
             AS segment_dup_ratio
    FROM n_docs, exact, seg_stats
    """,
)
def q_dedup_effectiveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup observability: ONE summary row quantifying how much each dedup
    stage would remove — whole-document exact duplicates (content digest)
    and cross-corpus 8-word-segment duplication (the C4 span-dedup
    denominator). This is the report a pipeline operator reads BEFORE
    choosing dedup stages; at 100 TB each stat is a distinct-count
    aggregate (sketchable via HLL when exactness stops mattering). Three
    1-row aggregates cross-joined broadcast."""

    d = load_table(spark, sf_dir, "documents")
    n_docs = d.agg(F.count(F.lit(1)).cast("long").alias("total_docs"))
    # sentinel, not raw md5: countDistinct IGNORES NULL digests, so a
    # NULL-text doc would vanish from distinct_docs and get miscounted as
    # an exact dup (matches exact_dedup_by_content's NULL group)
    exact = d.select(
        F.coalesce(F.md5(F.lower(F.trim("text"))), F.lit("__NULL__")).alias("dg")
    ).agg(F.countDistinct("dg").cast("long").alias("distinct_docs"))
    base = d.select("doc_id", words("text").alias("__ws"))
    ws = F.col("__ws")
    n_seg = F.ceil(F.size(ws) / F.lit(8)).cast("int")
    idx = F.when(n_seg > 0, F.sequence(F.lit(0), n_seg - 1)).otherwise(
        F.array().cast("array<int>")
    )
    segs = F.transform(
        idx, lambda i: F.array_join(F.slice(ws, i * 8 + 1, 8), " ")
    )
    seg_stats = base.select(F.explode(segs).alias("seg")).agg(
        F.count(F.lit(1)).cast("long").alias("total_segments"),
        F.countDistinct("seg").cast("long").alias("distinct_segments"),
    )
    return (
        n_docs.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(seg_stats))
        .select(
            "total_docs",
            "distinct_docs",
            (F.col("total_docs") - F.col("distinct_docs"))
            .cast("long")
            .alias("exact_dups"),
            "total_segments",
            "distinct_segments",
            F.round(
                F.lit(1.0)
                - F.col("distinct_segments").cast("double")
                / F.col("total_segments"),
                6,
            ).alias("segment_dup_ratio"),
        )
    )


@register(
    "session_bounce_rate",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, session_idx, count(*) AS n_events
      FROM s GROUP BY user_id, session_idx
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS bounced,
           round(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS bounce_rate,
           round(avg(CAST(n_events AS DOUBLE)), 6) AS avg_session_events
    FROM per_session
    """,
)
def q_session_bounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate: share of sessions containing exactly one event, plus
    mean session depth — the engagement headline metric. Reuses the
    microsecond-exact 30-min-gap sessionizer; the bounce aggregate is a
    COUNT-only rollup over the session table. avg(n_events) sums small
    integers cast to double — order-insensitive at round-6 granularity for
    integral addends."""
    s = _sessionized_events(spark, sf_dir)
    per_session = s.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    bounced = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return per_session.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        bounced.cast("long").alias("bounced"),
        F.round(bounced.cast("double") / F.count(F.lit(1)), 6).alias("bounce_rate"),
        F.round(F.avg(F.col("n_events").cast("double")), 6).alias(
            "avg_session_events"
        ),
    )


@register(
    "linear_touch_attribution",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, event_id, ts, event_type,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM flagged
    ),
    numbered AS (
      SELECT user_id, session_idx, event_id, ts, event_type,
             SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id, session_idx ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS n_prior_touches
      FROM s
    ),
    purchases AS (
      SELECT user_id, session_idx, ts AS p_ts, event_id AS p_eid,
             n_prior_touches
      FROM numbered WHERE event_type = 'purchase' AND n_prior_touches > 0
    ),
    credit AS (
      SELECT t.event_type, 1.0 / p.n_prior_touches AS c
      FROM purchases p
      JOIN s t ON t.user_id = p.user_id AND t.session_idx = p.session_idx
      WHERE t.event_type <> 'purchase'
        AND (t.ts < p.p_ts OR (t.ts = p.p_ts AND t.event_id < p.p_eid))
    )
    SELECT event_type,
           round(CAST(CAST(SUM(CAST(c AS DECIMAL(18,10))) AS VARCHAR) AS DOUBLE), 4)
             AS total_credit,
           CAST(count(*) AS BIGINT) AS n_touches
    FROM credit GROUP BY event_type
    """,
)
def q_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase splits one unit of
    credit EQUALLY across the non-purchase events earlier in its session,
    aggregated per touch type — the fairness-baseline model next to
    ``purchase_attribution``'s last-touch. Shape: the sessionizer's
    user-key windows, a purchase-to-touches join co-partitioned on
    (user, session) with a time predicate (bounded per-session fan-out —
    never a cross join), and a decimal-folded credit sum (1/n fractions
    sum associatively in DECIMAL(18,10), so partial-agg order can't drift
    the total)."""
    s = _sessionized_events(spark, sf_dir)
    ws = (
        Window.partitionBy("user_id", "session_idx")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    numbered = s.withColumn(
        "n_prior_touches",
        F.sum(F.when(F.col("event_type") != "purchase", 1).otherwise(0)).over(ws),
    )
    purchases = numbered.filter(
        (F.col("event_type") == "purchase") & (F.col("n_prior_touches") > 0)
    ).select(
        "user_id",
        "session_idx",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_eid"),
        "n_prior_touches",
    )
    touches = s.filter(F.col("event_type") != "purchase").select(
        "user_id", "session_idx", "ts", "event_id", "event_type"
    )
    credit = purchases.join(touches, ["user_id", "session_idx"]).filter(
        (F.col("ts") < F.col("p_ts"))
        | ((F.col("ts") == F.col("p_ts")) & (F.col("event_id") < F.col("p_eid")))
    )
    c = (F.lit(1.0) / F.col("n_prior_touches")).cast("decimal(18,10)")
    return credit.groupBy("event_type").agg(
        F.round(F.sum(c).cast("string").cast("double"), 4).alias("total_credit"),
        F.count(F.lit(1)).cast("long").alias("n_touches"),
    )


@register(
    "order_total_reconciliation",
    oracle="""
    WITH line_sums AS (
      SELECT l_orderkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (1 - CAST(l_discount AS DECIMAL(18,4)))
                 * (1 + CAST(l_tax AS DECIMAL(18,4)))) AS computed
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT o_orderkey, o_totalprice,
             CAST(CAST(computed AS VARCHAR) AS DOUBLE) AS computed,
             line_sums.l_orderkey IS NOT NULL AS has_lines
      FROM orders LEFT JOIN line_sums ON o_orderkey = l_orderkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN has_lines THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_lines,
           CAST(SUM(CASE WHEN has_lines
                          AND abs(computed - o_totalprice)
                              <= 0.01 * abs(o_totalprice)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_within_1pct,
           CAST(SUM(CASE WHEN has_lines
                          AND abs(computed - o_totalprice)
                              > 0.10 * abs(o_totalprice)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_off_10pct
    FROM j
    """,
)
def q_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation audit (the referential data-quality check
    every warehouse load runs): recompute each order's total from its line
    items — extendedprice × (1−discount) × (1+tax), exact decimal — and
    bucket the deviation from the stored ``o_totalprice``. The report does
    NOT assume the books balance; it measures how far they don't (the
    synthetic generator keeps totals independent, so the mismatch buckets
    are the interesting output). One orderkey rollup + one key join."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    computed = (
        dec("l_extendedprice")
        * (F.lit(1) - dec("l_discount"))
        * (F.lit(1) + dec("l_tax"))
    )
    line_sums = li.groupBy("l_orderkey").agg(F.sum(computed).alias("computed_dec"))
    j = o.join(line_sums, o.o_orderkey == line_sums.l_orderkey, "left").select(
        "o_totalprice",
        F.col("computed_dec").cast("string").cast("double").alias("computed"),
        F.col("l_orderkey").isNotNull().alias("has_lines"),
    )
    diff = F.abs(F.col("computed") - F.col("o_totalprice"))
    within = F.col("has_lines") & (diff <= 0.01 * F.abs(F.col("o_totalprice")))
    off = F.col("has_lines") & (diff > 0.10 * F.abs(F.col("o_totalprice")))

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        cnt(F.col("has_lines")).alias("n_with_lines"),
        cnt(within).alias("n_within_1pct"),
        cnt(off).alias("n_off_10pct"),
    )


@register(
    "returns_rate_by_brand",
    oracle="""
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_returned,
           round(CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS return_rate,
           CAST(CAST(SUM(CASE WHEN l_returnflag = 'R'
                              THEN CAST(l_extendedprice AS DECIMAL(18,4))
                              ELSE CAST(0 AS DECIMAL(18,4)) END) AS VARCHAR)
                AS DOUBLE) AS returned_value
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def q_returns_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return rate per brand (the retail QA KPI): line share and value of
    'R' return-flagged lineitems. Broadcast part dimension, single
    brand-keyed aggregate with conditional decimal sums."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    returned = F.col("l_returnflag") == "R"
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.when(returned, 1).otherwise(0)).cast("long").alias("n_returned"),
            F.round(
                F.sum(F.when(returned, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("return_rate"),
            F.sum(F.when(returned, dec("l_extendedprice")).otherwise(zero))
            .cast("string")
            .cast("double")
            .alias("returned_value"),
        )
    )


@register(
    "lang_id_confusion_matrix",
    oracle=f"""
    WITH pred AS ({_duck_lang_id_sql()})
    SELECT lang AS true_lang, lang_pred,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY lang, lang_pred
    """,
)
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation IN the engine: the confusion matrix of the
    stopword-argmax language identifier against the documents table's
    ground-truth labels — the quality gate you run before trusting lang-id
    in a filter chain. One map-side prediction projection + one tiny
    (lang × lang) aggregate."""

    d = load_table(spark, sf_dir, "documents").withColumn("__ws", T.words("text"))
    pred = d.select(
        F.col("lang").alias("true_lang"),
        T.lang_id("text", ws=F.col("__ws")).alias("lang_pred"),
    )
    return pred.groupBy("true_lang", "lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


@register(
    "weekly_engagement_segments",
    oracle="""
    WITH weekly AS (
      SELECT date_trunc('week', ts) AS week, user_id,
             count(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(week AS DATE) AS week,
           CASE WHEN n_events >= 10 THEN 'power'
                WHEN n_events >= 3 THEN 'core'
                ELSE 'casual' END AS segment,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(SUM(n_events) AS BIGINT) AS n_events
    FROM weekly
    GROUP BY 1, 2
    """,
)
def q_weekly_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly engagement-depth segmentation: users bucketed per week into
    casual (1–2 events), core (3–9) and power (10+) tiers — the retention
    team's complement to DAU/WAU stickiness. One (week, user) aggregate,
    then a calendar×3-sized rollup."""
    e = load_table(spark, sf_dir, "events")
    weekly = e.groupBy(
        F.date_trunc("week", "ts").alias("week"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    segment = (
        F.when(F.col("n_events") >= 10, "power")
        .when(F.col("n_events") >= 3, "core")
        .otherwise("casual")
    )
    return weekly.groupBy(
        F.col("week").cast("date").alias("week"), segment.alias("segment")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_events").cast("long").alias("n_events"),
    )


@register(
    "dup_rate_by_source",
    oracle="""
    WITH digests AS (
      SELECT source, md5(lower(trim(text))) AS dg FROM documents
    ),
    per_source AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT dg) AS BIGINT) AS n_distinct
      FROM digests GROUP BY source
    )
    SELECT source, n_docs, n_distinct,
           CAST(n_docs - n_distinct AS BIGINT) AS n_dups,
           round(1.0 - CAST(n_distinct AS DOUBLE) / n_docs, 6) AS dup_rate
    FROM per_source
    """,
)
def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate rate — the triage view that tells a
    corpus owner WHICH source is flooding the pipeline with copies
    (``dedup_effectiveness_report`` gives the corpus-wide number). One
    source-keyed distinct-count aggregate over content digests."""
    d = load_table(spark, sf_dir, "documents")
    digests = d.select("source", F.md5(F.lower(F.trim("text"))).alias("dg"))
    per_source = digests.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("dg").cast("long").alias("n_distinct"),
    )
    return per_source.select(
        "source",
        "n_docs",
        "n_distinct",
        (F.col("n_docs") - F.col("n_distinct")).cast("long").alias("n_dups"),
        F.round(
            F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_docs"), 6
        ).alias("dup_rate"),
    )


@register(
    "doc_token_entropy",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_DUCK_WORDS}) AS token FROM documents
    ),
    counts AS (
      SELECT doc_id, token, count(*) AS c FROM tok GROUP BY doc_id, token
    ),
    ent AS (
      -- H = ln(n) - (SUM c*ln c)/n : one aggregation, no totals join-back
      SELECT doc_id, SUM(c) AS n, count(*) AS n_distinct,
             round(ln(CAST(SUM(c) AS DOUBLE))
                   - SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
                     / CAST(SUM(c) AS DOUBLE), 6) AS entropy
      FROM counts GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(e.n, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(e.n_distinct, 0) AS BIGINT) AS n_distinct,
           e.entropy
    FROM documents d
    LEFT JOIN ent e ON d.doc_id = e.doc_id
    """,
)
def q_doc_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the doc's OWN token distribution —
    the lexical-diversity signal (low entropy = repetitive/template text)
    complementing ``repetition_signals``' n-gram ratios. Per-doc token
    counts shuffle once on (doc, token); the entropy folds the SAME
    aggregation as the totals (H = ln n − Σ c·ln c / n), so no join-back
    recomputes the counts. Wordless docs keep NULL entropy."""

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(words("text")).alias("token"))
    counts = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    # H = ln(n) − (Σ c·ln c)/n: the totals fold into the SAME aggregation,
    # so there is no join-back for Catalyst to recompute counts under
    n = F.sum("c")
    ent = counts.groupBy("doc_id").agg(
        n.alias("n"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(
            F.log(n.cast("double"))
            - F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
            / n.cast("double"),
            6,
        ).alias("entropy"),
    )
    return (
        d.select("doc_id")
        .join(ent, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_distinct", F.lit(0)).cast("long").alias("n_distinct"),
            "entropy",
        )
    )


@register(
    "size_price_correlation",
    oracle="""
    WITH s AS (
      -- EXACT moment sums (r5 double-sum-order closure): integer sums are
      -- order-invariant and BIGINT→DOUBLE of the same integer is identical
      -- in both engines; price moments sum as exact decimals (prices are
      -- 2-dp) and cross into double once via the string detour. Raw double
      -- sums were order-dependent in the last ulp — green only while no
      -- round(...,6) boundary was hit.
      SELECT p_type,
             count(*) AS n,
             CAST(SUM(CAST(p_size AS BIGINT)) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(p_retailprice AS DECIMAL(18,4))) AS VARCHAR)
                  AS DOUBLE) AS sy,
             CAST(SUM(CAST(p_size AS BIGINT) * p_size) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(p_retailprice AS DECIMAL(18,4))
                           * CAST(p_retailprice AS DECIMAL(18,4))) AS VARCHAR)
                  AS DOUBLE) AS syy,
             CAST(CAST(SUM(p_size * CAST(p_retailprice AS DECIMAL(18,4)))
                       AS VARCHAR) AS DOUBLE) AS sxy
      FROM part GROUP BY p_type
    )
    SELECT p_type, CAST(n AS BIGINT) AS n_parts,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
             AS pearson_r
    FROM s
    """,
)
def q_size_price_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation (size vs retail price per part type) from
    explicit moment sums — the same bit-parity discipline as
    ``daily_volume_anomalies``: built-in corr() implementations accumulate
    differently across engines, the algebraic formula over identical sums
    does not. One map-side moment projection + one keyed aggregate."""
    p = load_table(spark, sf_dir, "part")
    # exact moments, mirroring the oracle: integer sums (order-invariant,
    # identical BIGINT→DOUBLE in both engines) and decimal price sums with
    # ONE string-mediated double cast — raw double sums were last-ulp
    # order-dependent across shuffles
    xl = F.col("p_size").cast("long")
    yd = dec("p_retailprice")
    s = p.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xl).cast("double").alias("sx"),
        F.sum(yd).cast("string").cast("double").alias("sy"),
        F.sum(xl * F.col("p_size")).cast("double").alias("sxx"),
        F.sum(yd * yd).cast("string").cast("double").alias("syy"),
        F.sum(F.col("p_size") * yd).cast("string").cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    r = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return s.select(
        "p_type", n.cast("long").alias("n_parts"), F.round(r, 6).alias("pearson_r")
    )


@register(
    "winsorized_value_stats",
    oracle="""
    WITH bounds AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS p05,
             quantile_cont(value, 0.95) AS p95
      FROM events GROUP BY event_type
    ),
    clipped AS (
      SELECT e.event_type,
             least(greatest(e.value, b.p05), b.p95) AS v
      FROM events e JOIN bounds b ON e.event_type = b.event_type
    )
    SELECT c.event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(ANY_VALUE(b.p05), 6) AS p05,
           round(ANY_VALUE(b.p95), 6) AS p95,
           round(CAST(CAST(SUM(CAST(v AS DECIMAL(24,8))) AS VARCHAR) AS DOUBLE)
                 / count(*), 6) AS winsorized_mean
    FROM clipped c JOIN bounds b ON c.event_type = b.event_type
    GROUP BY c.event_type
    """,
)
def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust statistics: clip each event type's values at its
    own [p5, p95] before averaging — the outlier-resistant preprocessing
    step feature pipelines run ahead of scaling. Two passes: exact
    percentile bounds (type-keyed, 5-row result → broadcast back), then a
    map-side clip feeding a decimal-exact mean. At 100 TB the bounds pass
    swaps to approx_percentile, same plan."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("p05"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
    )
    clipped = e.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "p05",
        "p95",
        F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")).alias("v"),
    )
    return clipped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.first("p05"), 6).alias("p05"),
        F.round(F.first("p95"), 6).alias("p95"),
        F.round(
            F.sum(F.col("v").cast("decimal(24,8)")).cast("string").cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("winsorized_mean"),
    )


@register(
    "tpch_q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS r
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           CAST(CAST(r AS VARCHAR) AS DOUBLE) AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE r = (SELECT max(r) FROM rev)
    """,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with MAXIMUM quarter revenue — the
    view-plus-scalar-max pattern (ALL ties returned, unlike a top-1
    limit). Revenue rollup shuffles once on suppkey; the max is a 1-row
    broadcast compared against EXACT decimals, so tie detection is
    bit-reliable in both engines; supplier resolves via broadcast."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).alias("r")
    )
    mx = rev.agg(F.max("r").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("r") == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("r").cast("string").cast("double").alias("total_revenue"),
        )
    )


@register(
    "minhash_estimator_quality",
    oracle=f"""
    WITH sig AS ({_DUCK_MINHASH_SIG}),
    banded AS (
      SELECT doc_id, CAST(seed // 2 AS INT) AS band,
             md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed)) AS band_hash
      FROM sig GROUP BY doc_id, band
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.band_hash = b.band_hash
      WHERE a.doc_id < b.doc_id
    ),
    est AS (
      SELECT c.doc_a, c.doc_b,
             round(avg(CASE WHEN sa.minhash = sb.minhash THEN 1.0 ELSE 0.0 END), 6)
               AS est_jaccard
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b AND sa.seed = sb.seed
      GROUP BY c.doc_a, c.doc_b
    ),
    shd AS (SELECT doc_id, unnest({_DUCK_NGRAMS3}) AS shingle FROM documents),
    sizes AS (SELECT doc_id, count(*) AS sz FROM shd GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_common
      FROM cand c
      JOIN shd a ON a.doc_id = c.doc_a
      JOIN shd b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT e.doc_a, e.doc_b, e.est_jaccard,
           round(CAST(coalesce(cm.n_common, 0) AS DOUBLE)
                 / (sa.sz + sb.sz - coalesce(cm.n_common, 0)), 6)
             AS exact_jaccard,
           round(abs(e.est_jaccard
                     - CAST(coalesce(cm.n_common, 0) AS DOUBLE)
                       / (sa.sz + sb.sz - coalesce(cm.n_common, 0))), 6)
             AS abs_err
    FROM est e
    LEFT JOIN common cm ON cm.doc_a = e.doc_a AND cm.doc_b = e.doc_b
    JOIN sizes sa ON sa.doc_id = e.doc_a
    JOIN sizes sb ON sb.doc_id = e.doc_b
    """,
)
def q_minhash_estimator_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy report: for every LSH candidate pair, the
    MinHash-ESTIMATED Jaccard (matching-seed fraction) side by side with
    the EXACT 3-gram Jaccard and the absolute error — the in-engine
    evaluation that tells an operator whether 4 hashes are enough before
    scaling the dedup pass (compare ``lang_id_confusion_matrix`` for the
    classifier twin). Signatures and candidates are
    localCheckpoint-materialized once (both doc-count-sized) because five
    downstream branches reuse them — the Catalyst recompute lesson; exact
    verification stays blocked by the candidate set, never all-pairs."""

    d = _cpu_spread(spark, sf_dir, "documents")
    sig = N.minhash_signatures(
        d, "doc_id", "text", num_hashes=4, shingle_n=3
    ).localCheckpoint(eager=True)
    # band the MATERIALIZED signatures — calling minhash_lsh_pairs here
    # would rebuild the whole shingle→dictionary→min pipeline a second
    # time (measured ~2s of the query at sf0.1)
    cand = N.lsh_pairs_from_signatures(
        sig, "doc_id", num_hashes=4, bands=2
    ).localCheckpoint(eager=True)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"), "seed", F.col("minhash").alias("ma")
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"), "seed", F.col("minhash").alias("mb")
    )
    est = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "seed"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.round(
                F.avg(F.when(F.col("ma") == F.col("mb"), 1.0).otherwise(0.0)), 6
            ).alias("est_jaccard")
        )
    )
    # materialized words column per the inline-words rule; checkpointed
    # because sizes and both common-join sides reuse it
    shd = (
        d.select("doc_id", N.words("text").alias("__ws"))
        .select("doc_id", F.explode(N.word_ngrams(F.col("__ws"), 3)).alias("shingle"))
        .localCheckpoint(eager=True)
    )
    sizes = shd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    common = (
        cand.join(shd.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(shd.withColumnRenamed("doc_id", "doc_b"), ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sza = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"))
    szb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"))
    exact = F.coalesce(F.col("n_common"), F.lit(0)).cast("double") / (
        F.col("sza") + F.col("szb") - F.coalesce(F.col("n_common"), F.lit(0))
    )
    return (
        est.join(common, ["doc_a", "doc_b"], "left")
        .join(F.broadcast(sza), "doc_a")
        .join(F.broadcast(szb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.round(exact, 6).alias("exact_jaccard"),
            F.round(F.abs(F.col("est_jaccard") - exact), 6).alias("abs_err"),
        )
    )


@register(
    "shingle_containment_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, source, unnest({_DUCK_NGRAMS2}) AS shingle FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.source = b.source AND a.shingle = b.shingle
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(n_common AS DOUBLE) / sa.sz, 6) AS containment_a_in_b,
           round(CAST(n_common AS DOUBLE) / sb.sz, 6) AS containment_b_in_a
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / sa.sz >= 0.5
       OR CAST(n_common AS DOUBLE) / sb.sz >= 0.5
    """,
)
def q_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment (Broder's C(A,B) = |A∩B|/|A|) for
    source-blocked document pairs: high containment with LOW Jaccard means
    one document quotes or embeds the other — the subset-detection signal
    symmetric Jaccard misses. Same blocked pair machinery as
    ``ngram_jaccard_pairs`` (never all-pairs), both directions reported,
    threshold 0.5 either way. Shingles match on 64-bit hashes: two
    distinct shingles of one source that collide count as shared (see
    ``neardup.ngram_jaccard_pairs``)."""

    d = _cpu_spread(spark, sf_dir, "documents")
    # one checkpointed (id, block, shingle-hash) pass feeds sizes AND both
    # self-join sides — the naive shape re-derived the shingle projection
    # three times (see blocked_shingle_commons)
    sizes, common = blocked_shingle_commons(d, "doc_id", "text", "source", 2)
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("__sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("__sz").alias("szb"))
    ca = F.col("n_common").cast("double") / F.col("sza")
    cb = F.col("n_common").cast("double") / F.col("szb")
    return (
        common.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter((ca >= 0.5) | (cb >= 0.5))
        .select(
            "doc_a",
            "doc_b",
            F.round(ca, 6).alias("containment_a_in_b"),
            F.round(cb, 6).alias("containment_b_in_a"),
        )
    )


@register(
    "source_token_divergence",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({_DUCK_WORDS}) AS token FROM documents
    ),
    sc AS (SELECT source, token, count(*) AS c FROM tok GROUP BY source, token),
    stot AS (SELECT source, SUM(c) AS n FROM sc GROUP BY source),
    gc AS (SELECT token, SUM(c) AS g FROM sc GROUP BY token),
    gtot AS (SELECT SUM(g) AS gn FROM gc),
    probs AS (
      SELECT sc.source, sc.token,
             CAST(sc.c AS DOUBLE) / stot.n AS p,
             CAST(gc.g AS DOUBLE) / gtot.gn AS q
      FROM sc
      JOIN stot ON sc.source = stot.source
      JOIN gc ON sc.token = gc.token
      CROSS JOIN gtot
    )
    SELECT source,
           round(SUM(0.5 * p * ln(p / ((p + q) / 2))
                     + 0.5 * q * ln(q / ((p + q) / 2))), 6) AS jsd_vs_corpus
    FROM probs GROUP BY source
    """,
)
def q_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributional drift per source: Jensen-Shannon divergence between
    each source's token distribution and the whole-corpus distribution —
    the monitoring metric that flags a feed whose language shifted (new
    boilerplate, new domain, encoding breakage) before quality filters
    notice. All terms fold dictionary-sized aggregates: per-(source,
    token) counts once off the stream, everything else derives from that
    table. Tokens absent from a source contribute only their q-side mass,
    which cancels in the pairwise-sum restricted to the source's support —
    the oracle mirrors the same restriction, so both engines integrate
    over identical supports."""

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(words("text")).alias("token"))
    sc = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    sc = sc.localCheckpoint(eager=True)  # four derivations reuse it
    stot = sc.groupBy("source").agg(F.sum("c").alias("n"))
    gc = sc.groupBy("token").agg(F.sum("c").alias("g"))
    gtot = gc.agg(F.sum("g").alias("gn"))
    probs = (
        sc.join(F.broadcast(stot), "source")
        .join(F.broadcast(gc), "token")
        .crossJoin(F.broadcast(gtot))
        .select(
            "source",
            (F.col("c").cast("double") / F.col("n")).alias("p"),
            (F.col("g").cast("double") / F.col("gn")).alias("q"),
        )
    )
    m = (F.col("p") + F.col("q")) / 2
    term = F.lit(0.5) * F.col("p") * F.log(F.col("p") / m) + F.lit(0.5) * F.col(
        "q"
    ) * F.log(F.col("q") / m)
    return probs.groupBy("source").agg(
        F.round(F.sum(term), 6).alias("jsd_vs_corpus")
    )


@register(
    "lang_purity_by_source",
    oracle=f"""
    WITH pred AS ({_duck_lang_id_sql()}),
    j AS (
      SELECT d.source, p.lang, p.lang_pred
      FROM documents d JOIN pred p ON d.doc_id = p.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN lang = lang_pred THEN 1 ELSE 0 END) AS BIGINT)
             AS n_agree,
           round(CAST(SUM(CASE WHEN lang = lang_pred THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS purity
    FROM j GROUP BY source
    """,
)
def q_lang_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language purity: how often the lang-id prediction agrees
    with the labeled language, per feed — the triage view that localizes a
    low global confusion-matrix score to the source causing it. One
    map-side prediction + one source-keyed aggregate."""

    d = load_table(spark, sf_dir, "documents").withColumn("__ws", T.words("text"))
    pred = d.select(
        "source",
        (F.col("lang") == T.lang_id("text", ws=F.col("__ws"))).alias("agree"),
    )
    return pred.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("agree"), 1).otherwise(0)).cast("long").alias("n_agree"),
        F.round(
            F.sum(F.when(F.col("agree"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("purity"),
    )


@register(
    "partition_skew_report",
    oracle="""
    WITH per_day AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_partitions,
             CAST(SUM(n) AS BIGINT) AS total_rows,
             CAST(max(n) AS BIGINT) AS max_rows,
             CAST(min(n) AS BIGINT) AS min_rows,
             round(quantile_cont(CAST(n AS DOUBLE), 0.5), 6) AS median_rows
      FROM per_day
    )
    SELECT n_partitions, total_rows, max_rows, min_rows, median_rows,
           round(max_rows / median_rows, 6) AS skew_ratio
    FROM stats
    """,
)
def q_partition_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-skew report for a day-partitioned write: row counts per
    would-be partition, max/median skew ratio — the number that decides
    whether ``partitionBy(day)`` needs sub-bucketing before a 100 TB write
    (a 10× skew ratio means the biggest partition stalls the job tail).
    Complements ``join_skew_report`` (key-level) at the LAYOUT level."""
    e = load_table(spark, sf_dir, "events")
    per_day = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = per_day.agg(
        F.count(F.lit(1)).cast("long").alias("n_partitions"),
        F.sum("n").cast("long").alias("total_rows"),
        F.max("n").cast("long").alias("max_rows"),
        F.min("n").cast("long").alias("min_rows"),
        F.round(F.percentile("n", F.lit(0.5)), 6).alias("median_rows"),
    )
    return stats.select(
        "n_partitions",
        "total_rows",
        "max_rows",
        "min_rows",
        "median_rows",
        F.round(F.col("max_rows") / F.col("median_rows"), 6).alias("skew_ratio"),
    )


@register(
    "token_position_bias",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents
    ),
    pe AS (
      SELECT doc_id, len(ws) AS n_words,
             unnest(list_transform(range(len(ws)),
                                   i -> {{'pos': i, 'token': ws[i + 1]}})) AS u
      FROM w WHERE len(ws) >= 2
    ),
    rel AS (
      SELECT u.token, CAST(u.pos AS DOUBLE) / (n_words - 1) AS rp
      FROM pe
    )
    SELECT token,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           round(avg(rp), 6) AS mean_rel_pos,
           round(abs(avg(rp) - 0.5), 6) AS edge_bias
    FROM rel
    GROUP BY token
    HAVING count(*) >= 50
    """,
)
def q_token_position_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional bias per token: the mean RELATIVE position (0 = doc
    start, 1 = doc end) of each frequent token across the corpus.
    Navigation/footer boilerplate clusters at the edges (|mean − 0.5|
    high), body language centers — a cheap screen that targets the
    frequency-based boilerplate purge. Positions explode map-side from the
    words array; one token-keyed aggregate; single-word docs are excluded
    (relative position undefined)."""

    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", words("text").alias("__ws")).filter(
        F.size("__ws") >= 2
    )
    rel = base.select(
        F.size("__ws").alias("n_words"),
        F.posexplode("__ws").alias("pos", "token"),
    ).select(
        "token",
        (F.col("pos").cast("double") / (F.col("n_words") - 1)).alias("rp"),
    )
    agg = rel.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.round(F.avg("rp"), 6).alias("mean_rel_pos"),
        F.round(F.abs(F.avg("rp") - 0.5), 6).alias("edge_bias"),
    )
    return agg.filter(F.col("n_occurrences") >= 50)


@register("ivfpq_topk")  # no oracle: two trained quantizers (iterative)
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k (engine extension; Jégou et al. 2011 §IV): coarse cells
    + residual PQ codes, cell-pruned ADC candidates, exact re-rank — the
    full production ANN index. Rows-only like ``pq_adc_search`` (two
    trained quantizers); recall floors, probe monotonicity and self-hit
    are pinned in ``tests/test_pq.py``."""

    em = load_table(spark, sf_dir, "embeddings")
    # fixed-slice training sample: constant train cost at any corpus scale
    coarse, books = train_ivfpq(
        em.filter(F.col("vec_id") < 500), k_coarse=4, m=8, k_pq=16
    )

    # assign + encode the FULL table with the sample-trained quantizers.
    # Measured negative (r11): _cpu_spread on this path was 1.4x SLOWER at
    # sf0.1 — the embeddings table is small enough that the repartition
    # shuffle + 32 Arrow worker round trips cost more than the single-task
    # encode; the scan splits naturally at scale anyway. NOT landed.
    full_encoded = ivfpq_encode(em, coarse, books)
    qrow = list(em.filter(F.col("vec_id") == 0).first()["embedding"])
    hits = ivfpq_search(
        em, full_encoded, qrow, coarse, books, k=10, n_probe=2, candidates=50
    )
    # scalar projection: the raw embedding array<float> column is
    # driver-unhashable under the comparator's pandas canonicalizer
    # (CORRECTNESS_r05 err) and is redundant with (vec_id, distance)
    return hits.select("vec_id", "distance", "score")


@register("pq_adc_search")  # no oracle: codebooks come from iterative k-means
def q_pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-Quantization two-stage search (Jégou et al. 2011): train
    per-subspace codebooks with the exact k-means, encode the corpus to
    m-byte codes map-side, ADC-prune to candidates in the compressed
    domain, exact-re-rank only the survivors. Declared no-oracle — the
    codebooks are an iterative training artifact SQL can't replay — but
    every stage is deterministic and property-tested (``tests/test_pq.py``:
    codebook/encode partition-invariance, recall-vs-budget floors, exact
    survivor ordering)."""

    em = load_table(spark, sf_dir, "embeddings")
    # quantizer quality saturates on a sample (pq.py docstring) — training
    # on a FIXED deterministic slice keeps the train cost constant at any
    # corpus scale; encode/search still cover the full table
    books = train_pq(em.filter(F.col("vec_id") < 500), m=8, k=16, max_iter=3)
    enc = pq_encode(em, books)
    qrow = list(em.filter(F.col("vec_id") == 0).first()["embedding"])
    hits = pq_search(em, enc, qrow, books, k=10, candidates=50)
    # scalar projection — see ivfpq_topk: list columns crash the driver's
    # pandas sort_values canonicalization even on rows-only queries
    return hits.select("vec_id", "distance", "score")


# ---------------------------------------------------------------------------
# TPC-H completion — the remaining published query shapes (Q2/Q7/Q9/Q11/
# Q12/Q13/Q20/Q21/Q22), adapted to the testdata star (no partsupp table,
# no commit/receipt dates; each docstring states the substitution). With
# these the catalog covers every one of the 22 TPC-H shapes: Q1
# (pricing_summary), Q4 (late_shipment_priority_counts) and Q16
# (part_supplier_variety) were already present under operator-family names.
# ---------------------------------------------------------------------------


@register(
    "tpch_q2_min_cost_supplier",
    oracle="""
    WITH offer AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    eu AS (
      SELECT o.l_partkey, o.l_suppkey, o.cost
      FROM offer o
      JOIN supplier s ON o.l_suppkey = s.s_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
    ),
    best AS (SELECT l_partkey, min(cost) AS mincost FROM eu GROUP BY l_partkey)
    SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name,
           CAST(CAST(e.cost AS VARCHAR) AS DOUBLE) AS cost
    FROM eu e
    JOIN best b ON e.l_partkey = b.l_partkey AND e.cost = b.mincost
    JOIN part p ON e.l_partkey = p.p_partkey AND p.p_type = 'STANDARD'
    JOIN supplier s ON e.l_suppkey = s.s_suppkey
    """,
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest regional supplier per part — the
    correlated-MIN-subquery pattern. No partsupp table exists, so the
    (part, supplier) offer cost derives from lineitem (decimal-exact
    discounted revenue per pair, one shuffle); the per-part minimum is a
    second partkey-keyed agg joined back on EXACT decimal equality (all
    ties survive, as in the published query). Supplier/nation/region/part
    dims all resolve broadcast; at 100 TB only the offer rollup and the
    min-join shuffle, both on part keys."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    # Resolve the regional supplier set FIRST (supplier ⋈ nation ⋈ region,
    # all broadcast) and semi-filter lineitem with it BEFORE the offer
    # rollup — the rollup then aggregates and shuffles only the regional
    # share of lineitem instead of every (part, supplier) pair (guide
    # §2.3 filter-before-shuffle / §3.4 broadcast semi-join pre-filter).
    # Decimal sums are exact and order-independent, so summing the same
    # surviving rows earlier cannot change any cost value.
    eu_supp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select("s_suppkey", "s_name")
    )
    # ONE broadcast join does both the regional pre-filter and the name
    # resolution: s_suppkey is the supplier PK, so the inner join never
    # duplicates a lineitem row, and grouping by the functionally-dependent
    # (s_suppkey, s_name) alongside (l_partkey, l_suppkey) yields exactly
    # the same groups and decimal sums as grouping on the pair alone.
    eu = (
        li.join(F.broadcast(eu_supp), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey", "s_suppkey", "s_name")
        .agg(
            F.sum(
                dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
            ).alias("cost")
        )
        .select("l_partkey", "l_suppkey", "cost", "s_suppkey", "s_name")
    )
    # per-part min as a WINDOW over the single regional frame, not an
    # agg-then-self-join — the join formulation recomputes the whole offer
    # pipeline on both branches (12 exchanges, plan-lint red); the window
    # adds one partkey exchange to the same stream and keeps all ties

    mincost = F.min("cost").over(Window.partitionBy("l_partkey"))
    return (
        eu.withColumn("__mincost", mincost)
        .filter(F.col("cost") == F.col("__mincost"))
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .select(
            "p_partkey",
            "p_name",
            "s_suppkey",
            "s_name",
            F.col("cost").cast("string").cast("double").alias("cost"),
        )
    )


@register(
    "tpch_q7_volume_shipping",
    oracle="""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE)
             AS revenue
    FROM lineitem
    JOIN orders    ON l_orderkey = o_orderkey
    JOIN customer  ON o_custkey = c_custkey
    JOIN supplier s ON l_suppkey = s.s_suppkey
    JOIN nation ns ON s.s_nationkey = ns.n_nationkey
    JOIN nation nc ON c_nationkey = nc.n_nationkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
           OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
    GROUP BY ns.n_name, nc.n_name, CAST(year(l_shipdate) AS INT)
    """,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral shipping volume between two nations by year.
    The nation-pair predicate lands AFTER both dimension resolutions, so
    it is expressed on the joined frame exactly as published (Catalyst
    pushes each half to its own broadcast side); lineitem⋈orders is the
    only big shuffle — customer resolves via its key after the orders hop,
    supplier/nation broadcast. Ship-year from l_shipdate as in the spec."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    ns = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    nc = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    flat = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), s.s_nationkey == F.col("s_nkey"))
        .join(F.broadcast(nc), c.c_nationkey == F.col("c_nkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return flat.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("int").alias("l_year"),
    ).agg(
        F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
        .cast("string")
        .cast("double")
        .alias("revenue")
    )


@register(
    "tpch_q9_product_type_profit",
    oracle="""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                   * (1 - CAST(l_discount AS DECIMAL(18,4)))
                 - CAST(p_retailprice AS DECIMAL(18,4))
                   * CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             AS sum_profit
    FROM lineitem
    JOIN part      ON l_partkey = p_partkey
    JOIN supplier  ON l_suppkey = s_suppkey
    JOIN nation    ON s_nationkey = n_nationkey
    JOIN orders    ON l_orderkey = o_orderkey
    WHERE p_name LIKE '%widget%'
    GROUP BY n_name, CAST(year(o_orderdate) AS INT)
    """,
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit by supplier nation and order
    year. Without partsupp, supply cost substitutes ``p_retailprice *
    l_quantity`` (the docst-declared adaptation); profit stays a single
    decimal expression so the group sums are bit-stable. The p_name LIKE
    filter prunes through the broadcast part dim BEFORE the fact join;
    lineitem⋈orders (for the order year) is the one big shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    amount = dec("l_extendedprice") * (F.lit(1) - dec("l_discount")) - dec(
        "p_retailprice"
    ) * dec("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(amount).cast("string").cast("double").alias("sum_profit"))
    )


@register(
    "tpch_q11_important_stock",
    oracle="""
    WITH val AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS value
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3'
      GROUP BY l_partkey
    )
    SELECT l_partkey AS p_partkey,
           CAST(CAST(value AS VARCHAR) AS DOUBLE) AS value
    FROM val
    WHERE value * 100 > (SELECT SUM(value) FROM val)
    """,
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose single-nation value exceeds a fraction
    of the nation's total — the HAVING-vs-scalar-subquery pattern. Stock
    value substitutes discounted lineitem revenue for the missing
    partsupp. The 1%-of-total threshold compares ``value * 100 > total``
    in EXACT decimals (an integer scale-up instead of a double fraction,
    so the cut line is bit-identical in both engines); the total is a
    1-row broadcast over the same aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    val = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).alias(
                "value"
            )
        )
    )
    total = val.agg(F.sum("value").alias("total"))
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("value") * F.lit(100) > F.col("total"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("value").cast("string").cast("double").alias("value"),
        )
    )


@register(
    "tpch_q12_shipmode_priority",
    oracle="""
    SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 THEN 'FAST'
                WHEN date_diff('day', o_orderdate, l_shipdate) <= 90 THEN 'REGULAR'
                ELSE 'SLOW' END AS ship_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per ship class, urgent-vs-other line counts — the
    conditional-count-after-fact-join pattern. The table has no
    l_shipmode, so the class derives from the order→ship latency
    (≤30/≤90/else day buckets, the docst-declared substitution); the
    BIGINT casts on both engines keep the counts in the driver's hash
    class (the round-2 HUGEINT lesson). One shuffle: lineitem⋈orders."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load_table(spark, sf_dir, "orders")
    lat = F.datediff("l_shipdate", "o_orderdate")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.when(lat <= 30, "FAST")
            .when(lat <= 90, "REGULAR")
            .otherwise("SLOW")
            .alias("ship_class")
        )
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q13_customer_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                      AND o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM per_cust GROUP BY c_count
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: the customer order-count distribution — the two-level
    aggregation over a LEFT OUTER join (zero-order customers MUST appear
    in the 0 bucket, which an inner join silently drops). The published
    o_comment NOT-LIKE filter becomes an o_orderpriority exclusion (no
    comment column). The outer join shuffles on custkey; the second agg
    groups on the tiny count domain — at 100 TB the first agg is
    map-partial so the histogram costs one real shuffle."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q20_part_share_suppliers",
    oracle="""
    WITH shipped AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sq
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY l_partkey, l_suppkey
    ),
    dominant AS (
      SELECT s.l_suppkey
      FROM shipped s
      JOIN (SELECT l_partkey, SUM(sq) AS pt FROM shipped GROUP BY l_partkey) t
        ON s.l_partkey = t.l_partkey
      JOIN part ON s.l_partkey = p_partkey
      WHERE p_name LIKE 'small%' AND s.sq * 2 > t.pt
      GROUP BY s.l_suppkey
    )
    SELECT s_suppkey, s_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_5'
      AND s_suppkey IN (SELECT l_suppkey FROM dominant)
    """,
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers holding a dominant share of some part —
    the nested-semi-join pattern (supplier IN (agg subquery over agg
    subquery)). "Excess stock" becomes >50%% of a part's 1996 shipped
    quantity (no partsupp availqty); the half threshold compares ``sq * 2
    > pt`` in exact decimals. The year-filtered rollup shuffles once on
    (part, supp); the per-part total re-aggregates the SAME rollup (not a
    second scan); the final membership is a LEFT SEMI against a
    distinct-supplier frame small enough to broadcast."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    # Pre-filter the rollup with the small%-part broadcast (guide §2.3
    # filter-before-shuffle): a part's total ``pt`` is a sum over ONLY that
    # part's rows, so restricting lineitem to qualifying parts before the
    # (part, supp) rollup leaves every surviving part's sq and pt
    # bit-identical — the old plan aggregated all parts and discarded the
    # non-matching ones in a join afterwards.
    shipped = (
        li.join(
            F.broadcast(p.select("p_partkey")),
            li.l_partkey == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(dec("l_quantity")).alias("sq"))
    )
    # per-part total as a WINDOW over the same rollup stream (the q2
    # pattern): one partkey exchange replaces the agg-plus-join-back pair,
    # and the decimal window sum is the same exact sum over the same rows

    pt = F.sum("sq").over(Window.partitionBy("l_partkey"))
    dominant = (
        shipped.withColumn("__pt", pt)
        .filter(F.col("sq") * F.lit(2) > F.col("__pt"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(dominant), s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


@register(
    "tpch_q21_waiting_supplier",
    oracle="""
    WITH flat AS (
      SELECT l_orderkey, l_suppkey,
             date_diff('day', o_orderdate, l_shipdate) > 90 AS late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
    ),
    per_order AS (
      SELECT l_orderkey,
             count(DISTINCT l_suppkey) AS n_supp,
             count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late,
             min(CASE WHEN late THEN l_suppkey END) AS blamed
      FROM flat GROUP BY l_orderkey
    )
    SELECT s_suppkey, s_name, count(*) AS numwait
    FROM per_order
    JOIN supplier ON blamed = s_suppkey
    WHERE n_supp >= 2 AND n_late = 1
    GROUP BY s_suppkey, s_name
    """,
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the supplier who alone held up a multi-supplier
    order — the published EXISTS(other supplier) AND NOT-EXISTS(other
    late supplier) pair collapses into ONE per-order aggregate (distinct
    suppliers, distinct LATE suppliers, and the unique late supplier when
    n_late=1), replacing two correlated self-joins of the largest fact
    with a single orderkey rollup — the decisive rewrite at 100 TB.
    "Late" substitutes ship latency > 90 days (no receipt/commit dates).
    One lineitem⋈orders shuffle plus the rollup; supplier broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    late = F.datediff("l_shipdate", "o_orderdate") > 90
    flat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_suppkey", late.alias("late")
    )
    per_order = flat.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late"),
        F.min(F.when(F.col("late"), F.col("l_suppkey"))).alias("blamed"),
    )
    return (
        per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(F.broadcast(s), F.col("blamed") == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "tpch_q22_global_sales_opportunity",
    oracle="""
    WITH pool AS (
      SELECT c_custkey, c_acctbal,
             CAST(c_custkey % 7 AS INT) AS cntrycode
      FROM customer
      WHERE c_custkey % 7 IN (1, 3, 5) AND c_acctbal > 0.0
    ),
    thr AS (
      SELECT SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS total,
             count(*) AS cnt
      FROM pool
    )
    SELECT cntrycode,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             AS totacctbal
    FROM pool, thr
    WHERE CAST(c_acctbal AS DECIMAL(18,4)) * cnt > total
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY cntrycode
    """,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: rich customers who never ordered, bucketed by country
    code — scalar-AVG subquery + NOT EXISTS anti-join. The code
    substitutes ``c_custkey % 7`` for the missing phone prefix. The
    above-average cut avoids double division entirely: ``acctbal * cnt >
    total`` in exact decimals (sum and count broadcast as one row), so
    the boundary customers agree bit-for-bit across engines. The anti
    join is the only orders-sized shuffle; AQE broadcasts the pruned
    customer side when small."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    pool = c.filter(
        (F.col("c_custkey") % 7).isin(1, 3, 5) & (F.col("c_acctbal") > 0.0)
    ).select(
        "c_custkey",
        "c_acctbal",
        (F.col("c_custkey") % 7).cast("int").alias("cntrycode"),
    )
    thr = pool.agg(
        F.sum(dec("c_acctbal")).alias("total"), F.count(F.lit(1)).alias("cnt")
    )
    return (
        pool.crossJoin(F.broadcast(thr))
        .filter(dec("c_acctbal") * F.col("cnt") > F.col("total"))
        .join(o, pool.c_custkey == o.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(dec("c_acctbal")).cast("string").cast("double").alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Training-data selection & governance (engine extensions, round 3 tail)
# ---------------------------------------------------------------------------


@register(
    "dsir_importance_resample",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang = 'vi' AS is_tgt,
             {_duck_hash48("concat('dsir|', token)")} % 64 AS bucket
      FROM (SELECT doc_id, lang, unnest({_DUCK_WORDS}) AS token FROM documents)
    ),
    pb AS (
      SELECT bucket, count(*) AS cnt_raw,
             SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS cnt_tgt
      FROM tok GROUP BY bucket
    ),
    tot AS (SELECT SUM(cnt_raw) AS tot_raw, SUM(cnt_tgt) AS tot_tgt FROM pb),
    ratio AS (
      SELECT bucket,
             ln(CAST(cnt_tgt + 1 AS DOUBLE) / CAST(tot_tgt + 64 AS DOUBLE))
           - ln(CAST(cnt_raw + 1 AS DOUBLE) / CAST(tot_raw + 64 AS DOUBLE))
               AS logratio
      FROM pb CROSS JOIN tot
    ),
    scored AS (
      SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             round(SUM(logratio), 6) AS log_weight
      FROM tok JOIN ratio USING (bucket) GROUP BY tok.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
           coalesce(s.log_weight, 0.0) AS log_weight,
           round(coalesce(s.log_weight, 0.0)
                 + -ln(-ln(({_duck_hash48("concat('dsir-g|', CAST(d.doc_id AS VARCHAR))")}
                            + 0.5) / 281474976710656.0)), 6) AS gumbel_key
    FROM documents d LEFT JOIN scored s USING (doc_id)
    ORDER BY gumbel_key DESC, d.doc_id ASC LIMIT 100
    """,
)
def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023): pick the 100 docs
    whose hashed-unigram profile is most Vietnamese-target-like, sampled
    ∝ exp(importance) WITHOUT replacement via seeded Gumbel top-k. Raw
    and target bucket distributions come from ONE conditional-count pass;
    the 64-bucket log-ratio table broadcasts back onto the token stream;
    the final cut is TakeOrderedAndProject over 1e-6-rounded keys — no
    global sort, no trained classifier, fully replayable (see
    ``sampling.dsir_resample``)."""

    d = load_table(spark, sf_dir, "documents")
    return dsir_resample(
        d, target_filter=F.col("lang") == "vi", n_buckets=64, k=100, seed="dsir"
    )


@register(
    "vocab_oov_rate",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_DUCK_WORDS}) AS token FROM documents),
    counts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
    vocab AS (SELECT token FROM counts ORDER BY cnt DESC, token LIMIT 500),
    per_doc AS (
      SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov
      FROM tok LEFT JOIN vocab v ON tok.token = v.token
      GROUP BY tok.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(p.n_oov, 0) AS BIGINT) AS n_oov,
           round(CAST(p.n_oov AS DOUBLE) / p.n_tokens, 6) AS oov_rate
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def q_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: per-doc out-of-vocabulary token rate
    against the corpus's own top-500 vocabulary — the screen that predicts
    how much a fixed tokenizer will fragment each document (high OOV =
    byte-fallback blowup). The vocab derives from the SAME token-count
    aggregate via top-k (TakeOrderedAndProject with a deterministic
    count-then-token order, never a global sort) and broadcasts into a
    null-producing left join; empty docs keep a NULL rate."""
    d, tok, counts = _doc_token_counts(spark, sf_dir)
    vocab = (
        counts.orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(500)
        .select("token", F.lit(True).alias("__in_vocab"))
    )
    per_doc = (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).cast("long").alias("n_oov"),
            F.round(
                F.col("n_oov").cast("double") / F.col("n_tokens"), 6
            ).alias("oov_rate"),
        )
    )


@register(
    "k_anonymity_report",
    oracle="""
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS class_size,
           count(*) < 5 AS at_risk,
           CAST(count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT))
                AS BIGINT) AS l_diversity
    FROM customer GROUP BY c_nationkey, c_mktsegment
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy governance screen: k-anonymity equivalence classes over the
    (nation, segment) quasi-identifier pair — classes smaller than k=5
    re-identify members — plus the l-diversity of the sensitive balance
    (a k-anonymous class whose members all share one sensitive value
    still leaks it). One map-partial aggregation; the distinct count
    nests per class, never globally."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("class_size"),
        (F.count(F.lit(1)) < 5).alias("at_risk"),
        F.countDistinct(F.floor(F.col("c_acctbal") / 1000.0).cast("long"))
        .cast("long")
        .alias("l_diversity"),
    )


@register(
    "gopher_quality_rules",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text, {_DUCK_WORDS} AS ws FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(ws) AS n_words,
             CASE WHEN len(ws) > 0 THEN
               round(CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE)
                     / len(ws), 6) END AS mean_word_len,
             CASE WHEN len(ws) > 0 THEN
               round((CAST(len(text) - len(replace(text, '#', '')) AS DOUBLE)
                      + CAST(len(text) - len(replace(text, '...', '')) AS DOUBLE) / 3)
                     / len(ws), 6) END AS symbol_word_ratio,
             CASE WHEN len(ws) > 0 THEN
               round(CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
                          AS DOUBLE) / len(ws), 6) END AS alpha_word_frac,
             CAST(len(list_filter(ws, w -> list_contains(
               ['the','be','to','of','and','that','have','with'], w)))
               AS BIGINT) AS n_stopword_hits
      FROM base
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_word_len,
           symbol_word_ratio, alpha_word_frac, n_stopword_hits,
           coalesce(n_words >= 10 AND n_words <= 100000
                    AND mean_word_len >= 3 AND mean_word_len <= 10
                    AND symbol_word_ratio < 0.1
                    AND alpha_word_frac >= 0.8
                    AND n_stopword_hits >= 2, FALSE) AS kept
    FROM m
    """,
)
def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021 §A1.1): the published
    repetition-free document screens — word-count bounds, mean word
    length in [3,10], symbol-to-word ratio (#/ellipsis) < 0.1, ≥80%%
    alphabetic words, ≥2 stopword hits — as ONE codegen'd projection
    (zero shuffles; the word-count floor is 10 instead of 50 for this
    corpus's short synthetic docs, all other thresholds as published).
    Complements ``quality_filter_chain`` (reject reasons) and
    ``repetition_signals`` (the other half of Gopher's filter)."""

    d = load_table(spark, sf_dir, "documents")
    ws = words("text")
    n = F.size(ws)
    nz = F.when(n > 0, n.cast("double"))  # NULL-safe denominator
    mean_len = F.round(
        F.aggregate(ws, F.lit(0), lambda a, w: a + F.length(w)).cast("double") / nz, 6
    )
    sym_ratio = F.round(
        (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))).cast(
                "double"
            )
            + (
                F.length("text") - F.length(F.replace(F.col("text"), F.lit("...")))
            ).cast("double")
            / 3
        )
        / nz,
        6,
    )
    alpha_frac = F.round(
        F.size(F.filter(ws, lambda w: w.rlike("[a-z]"))).cast("double") / nz, 6
    )
    stops = F.array(*[F.lit(s) for s in
                      ["the", "be", "to", "of", "and", "that", "have", "with"]])
    n_stop = F.size(F.filter(ws, lambda w: F.array_contains(stops, w))).cast("long")
    m = d.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        mean_len.alias("mean_word_len"),
        sym_ratio.alias("symbol_word_ratio"),
        alpha_frac.alias("alpha_word_frac"),
        n_stop.alias("n_stopword_hits"),
    )
    kept = (
        (F.col("n_words") >= 10)
        & (F.col("n_words") <= 100000)
        & (F.col("mean_word_len") >= 3)
        & (F.col("mean_word_len") <= 10)
        & (F.col("symbol_word_ratio") < 0.1)
        & (F.col("alpha_word_frac") >= 0.8)
        & (F.col("n_stopword_hits") >= 2)
    )
    return m.withColumn("kept", F.coalesce(kept, F.lit(False)))


@register(
    "ann_recall_report",
    oracle=f"""
    WITH planes AS (
      SELECT j, list_transform(range(64), ii ->
        ({_duck_hash48("'7|' || CAST(j AS VARCHAR) || '|' || CAST(ii AS VARCHAR)")}
         / 281474976710656.0) * 2.0 - 1.0) AS plane
      FROM range(8) t(j)
    ), sigs AS (
      -- valid vectors only — mirrors lsh_signature's NULL for corrupt
      -- vectors (NULL vector or NULL element), see _DUCK_ANN_LSH
      SELECT e.vec_id,
             CAST(SUM(CASE WHEN {_duck_dot('e.embedding', 'p.plane')} > 0
                           THEN (CAST(1 AS BIGINT) << p.j) ELSE 0 END) AS BIGINT) AS sig
      FROM embeddings e CROSS JOIN planes p
      WHERE e.embedding IS NOT NULL
        AND len(list_filter(e.embedding, x -> x IS NULL)) = 0
        AND len(e.embedding) = 64
      GROUP BY e.vec_id
    ), qs AS (
      SELECT e.vec_id AS q_id, e.embedding AS qv, s.sig AS qsig
      FROM embeddings e JOIN sigs s ON e.vec_id = s.vec_id
      WHERE e.vec_id < 20
    ), exact AS (
      SELECT q_id, vec_id,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY score DESC, vec_id) AS rn
      FROM (
        SELECT q.q_id, e.vec_id,
               round({_duck_cosine('e.embedding', 'q.qv')}, 6) AS score
        FROM embeddings e CROSS JOIN qs q WHERE e.vec_id <> q.q_id
      ) t
    ), cand AS (
      SELECT q.q_id, s.vec_id,
             round({_duck_cosine('e.embedding', 'q.qv')}, 6) AS score
      FROM embeddings e JOIN sigs s ON e.vec_id = s.vec_id CROSS JOIN qs q
      WHERE bit_count(xor(s.sig, q.qsig)) <= 3 AND s.vec_id <> q.q_id
    ), lsh AS (
      SELECT q_id, vec_id,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY score DESC, vec_id) AS rn
      FROM cand
    ), ncand AS (
      SELECT q_id, count(*) AS n_candidates FROM cand GROUP BY q_id
    ), hits AS (
      SELECT e.q_id, count(*) AS n_hits
      FROM exact e JOIN lsh l ON e.q_id = l.q_id AND e.vec_id = l.vec_id
                              AND l.rn <= 10
      WHERE e.rn <= 10 GROUP BY e.q_id
    ), mrr AS (
      SELECT b.q_id,
             coalesce(max(CASE WHEN l.rn <= 10 THEN 1.0 / l.rn END), 0.0) AS rr
      FROM (SELECT q_id, vec_id FROM exact WHERE rn = 1) b
      LEFT JOIN lsh l ON b.q_id = l.q_id AND b.vec_id = l.vec_id
      GROUP BY b.q_id
    )
    SELECT q.q_id,
           CAST(coalesce(n.n_candidates, 0) AS BIGINT) AS n_candidates,
           round(coalesce(h.n_hits, 0) / 10.0, 6) AS recall_at_10,
           round(coalesce(m.rr, 0.0), 6) AS reciprocal_rank
    FROM qs q
    LEFT JOIN ncand n ON q.q_id = n.q_id
    LEFT JOIN hits h ON q.q_id = h.q_id
    LEFT JOIN mrr m ON q.q_id = m.q_id
    """,
)
def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine ANN quality evaluation: for a 20-vector query batch,
    recall@10 and the reciprocal rank of the TRUE nearest neighbor, LSH
    (8-plane, Hamming ≤ 3) versus exact brute force — the report an
    operator reads before trusting the ANN path at scale (the sketch twin
    of ``minhash_estimator_quality``). Self-hits are excluded; ranking is
    over 1e-6-rounded bit-exact cosines with id tie-breaks, so both
    engines agree on every boundary. Signatures are computed ONCE for
    corpus and queries (the query batch is a filter of the same frame);
    the exact side is the eval-only cost — at 100 TB it runs over a
    sampled corpus slice, the LSH side is the production path."""


    # _cpu_spread, not load_table: the exact side scores |queries|·|corpus|
    # pairs with interpreted array folds in the MAP stage of this scan, and
    # the local single-row-group file is a one-task scan — the whole
    # eval-batch fold ran serially (guide §2: one huge partition = one busy
    # core). No-op at scale where the scan has natural splits.
    e = _cpu_spread(spark, sf_dir, "embeddings")
    # Precompute each vector's norm ONCE inside the checkpoint (same
    # double as folding it per pair — sqrt∘fold is deterministic — so the
    # 1e-6-rounded scores are bit-identical): the exact side scores
    # |queries|·|corpus| pairs, and per-pair norms would triple the fold
    # work on that O(n·q) stage.
    sig = e.withColumn(
        "sig", lsh_signature(F.col("embedding"), 64, 8, seed=7)
    ).withColumn("nrm", _norm(F.col("embedding")))
    sig = sig.localCheckpoint(eager=True)  # corpus + query side reuse it
    qs = sig.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qv"),
        F.col("sig").alias("qsig"),
        F.col("nrm").alias("qnrm"),
    )
    denom = F.col("nrm") * F.col("qnrm")
    score = F.round(
        F.when(denom != 0, _dots(F.col("embedding"), F.col("qv")) / denom), 6
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("vec_id"))
    # both ranked lists are EVAL-BATCH-sized (≤ 20·corpus-rows before the
    # rank cut, ≤ 20·10 after) — materialize each once so the four metric
    # branches below don't replay the scoring pipelines (the plan would
    # otherwise spend 17 exchanges recomputing them)
    exact = (
        sig.crossJoin(F.broadcast(qs.select("q_id", "qv", "qnrm")))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", score.alias("score"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .localCheckpoint(eager=True)
    )
    lsh = (
        sig.crossJoin(F.broadcast(qs))
        .filter(
            (F.bit_count(F.col("sig").bitwiseXOR(F.col("qsig"))) <= 3)
            & (F.col("vec_id") != F.col("q_id"))
        )
        .select("q_id", "vec_id", score.alias("score"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_candidates", F.count(F.lit(1)).over(Window.partitionBy("q_id"))
        )
        .localCheckpoint(eager=True)
    )
    ncand = lsh.groupBy("q_id").agg(F.max("n_candidates").alias("n_candidates"))
    hits = (
        exact.join(
            lsh.filter(F.col("rn") <= 10).select("q_id", "vec_id"),
            ["q_id", "vec_id"],
        )
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    best = exact.filter(F.col("rn") == 1).select("q_id", "vec_id")
    mrr = (
        best.join(
            lsh.select("q_id", "vec_id", F.col("rn").alias("lrn")),
            ["q_id", "vec_id"],
            "left",
        )
        .groupBy("q_id")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("lrn") <= 10, F.lit(1.0) / F.col("lrn"))),
                F.lit(0.0),
            ).alias("rr")
        )
    )
    return (
        qs.select("q_id")
        .join(ncand, "q_id", "left")
        .join(hits, "q_id", "left")
        .join(mrr, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias("n_candidates"),
            F.round(F.coalesce("n_hits", F.lit(0)) / 10.0, 6).alias("recall_at_10"),
            F.round(F.coalesce("rr", F.lit(0.0)), 6).alias("reciprocal_rank"),
        )
    )


@register(
    "hourly_interpolated_values",
    oracle="""
    WITH anchors AS (
      SELECT user_id, ts, arg_min(value, event_id) AS value
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
      GROUP BY user_id, ts
    ),
    grid AS (
      SELECT u.user_id, g.gd AS ts
      FROM (SELECT DISTINCT user_id FROM anchors) u
      CROSS JOIN (
        SELECT unnest(generate_series(TIMESTAMP '2024-01-08',
                                      TIMESTAMP '2024-01-14 23:00:00',
                                      INTERVAL 1 HOUR)) AS gd
      ) g
    ),
    unioned AS (
      SELECT user_id, ts, value, 1 AS is_anchor FROM anchors
      UNION ALL
      SELECT user_id, ts, NULL, 0 FROM grid
    ),
    walked AS (
      SELECT user_id, ts, is_anchor,
             last_value(value IGNORE NULLS) OVER w_prev AS prev_val,
             last_value(CASE WHEN is_anchor = 1 THEN ts END IGNORE NULLS)
               OVER w_prev AS prev_ts,
             first_value(value IGNORE NULLS) OVER w_next AS next_val,
             first_value(CASE WHEN is_anchor = 1 THEN ts END IGNORE NULLS)
               OVER w_next AS next_ts
      FROM unioned
      WINDOW
        w_prev AS (PARTITION BY user_id ORDER BY ts, is_anchor DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_next AS (PARTITION BY user_id ORDER BY ts, is_anchor DESC
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, ts AS grid_ts,
           round(CASE
             WHEN prev_ts IS NULL OR next_ts IS NULL THEN NULL
             WHEN next_ts = prev_ts THEN prev_val
             ELSE prev_val + (next_val - prev_val)
                  * (CAST(epoch_us(ts) - epoch_us(prev_ts) AS DOUBLE)
                     / CAST(epoch_us(next_ts) - epoch_us(prev_ts) AS DOUBLE))
           END, 6) AS interp_value
    FROM walked WHERE is_anchor = 0
    """,
)
def q_hourly_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with linear interpolation: per user, an
    hourly grid over one week, each grid point lerped between its
    surrounding observations (the sensor/metrics regularization step;
    ``fill_forward_props`` is the step-function half of this). No
    inequality join anywhere: anchors and grid rows UNION into one
    per-user stream and a single window walk carries the previous/next
    anchor in both directions (IGNORE NULLS frames) — one shuffle on
    user_id, grid size bounded at 168·users rows. Grid points outside a
    user's observed range stay NULL (no extrapolation); a grid point
    coinciding with an anchor takes the anchor value exactly (fraction
    0); duplicate-timestamp anchors resolve by min event_id in both
    engines."""

    e = load_table(spark, sf_dir, "events").filter(
        (F.col("ts") >= "2024-01-08") & (F.col("ts") < "2024-01-15")
    )
    anchors = e.groupBy("user_id", "ts").agg(
        F.min_by("value", "event_id").alias("value")
    )
    grid = (
        anchors.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.explode(
                F.sequence(
                    F.to_timestamp(F.lit("2024-01-08")),
                    F.to_timestamp(F.lit("2024-01-14 23:00:00")),
                    F.expr("INTERVAL 1 HOUR"),
                )
            ).alias("ts"),
        )
    )
    unioned = anchors.select(
        "user_id", "ts", "value", F.lit(1).alias("is_anchor")
    ).unionByName(
        grid.select(
            "user_id",
            "ts",
            F.lit(None).cast("double").alias("value"),
            F.lit(0).alias("is_anchor"),
        )
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("is_anchor").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("is_anchor").desc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    anchor_ts = F.when(F.col("is_anchor") == 1, F.col("ts"))
    walked = unioned.select(
        "user_id",
        "ts",
        "is_anchor",
        F.last("value", ignorenulls=True).over(w_prev).alias("prev_val"),
        F.last(anchor_ts, ignorenulls=True).over(w_prev).alias("prev_ts"),
        F.first("value", ignorenulls=True).over(w_next).alias("next_val"),
        F.first(anchor_ts, ignorenulls=True).over(w_next).alias("next_ts"),
    )
    frac = (
        F.unix_micros("ts") - F.unix_micros("prev_ts")
    ).cast("double") / (
        F.unix_micros("next_ts") - F.unix_micros("prev_ts")
    ).cast("double")
    interp = (
        F.when(F.col("prev_ts").isNull() | F.col("next_ts").isNull(), F.lit(None))
        .when(F.col("next_ts") == F.col("prev_ts"), F.col("prev_val"))
        .otherwise(F.col("prev_val") + (F.col("next_val") - F.col("prev_val")) * frac)
    )
    return (
        walked.filter(F.col("is_anchor") == 0)
        .select(
            "user_id",
            F.col("ts").alias("grid_ts"),
            F.round(interp, 6).alias("interp_value"),
        )
    )


@register(
    "media_phash_dedup",
    oracle="""
    WITH m AS (
      -- dead-letter contract: phash_media drops NULL-id/NULL-payload rows
      SELECT p_partkey AS media_id, md5(p_name) AS hx FROM part
      WHERE p_partkey IS NOT NULL AND p_name IS NOT NULL
    ),
    px AS (
      SELECT media_id,
             list_transform(range(64), i ->
               (strpos('0123456789abcdef',
                       substr(md5(hx || '|' || CAST(i AS VARCHAR)), 1, 1)) - 1) * 16
               + (strpos('0123456789abcdef',
                         substr(md5(hx || '|' || CAST(i AS VARCHAR)), 2, 1)) - 1)
             ) AS pxs
      FROM m
    ),
    hp AS (SELECT media_id, pxs, list_sum(pxs) / 64.0 AS mean FROM px),
    bits AS (
      SELECT media_id, u.i AS i
      FROM hp, unnest(range(64)) u(i)
      WHERE pxs[i + 1] > mean
    ),
    ph AS (
      SELECT m.media_id, coalesce(b.ph, 0) AS phash
      FROM m LEFT JOIN (
        SELECT media_id,
               bit_or(CASE WHEN i = 63 THEN CAST(-9223372036854775808 AS BIGINT)
                           ELSE CAST(1 AS BIGINT) << CAST(i AS INT) END) AS ph
        FROM bits GROUP BY media_id
      ) b ON m.media_id = b.media_id
    ),
    groups AS (
      SELECT phash, min(media_id) AS canonical_id,
             CAST(count(*) AS BIGINT) AS n_members
      FROM ph GROUP BY phash
    ),
    bands AS (
      SELECT canonical_id, phash, t.j AS j, (phash >> (t.j * 16)) & 65535 AS v
      FROM groups, unnest([0, 1, 2, 3]) t(j)
    ),
    pairs AS (
      SELECT DISTINCT a.canonical_id AS id_a, b.canonical_id AS id_b
      FROM bands a JOIN bands b ON a.j = b.j AND a.v = b.v
      WHERE a.canonical_id < b.canonical_id
        AND bit_count(xor(a.phash, b.phash)) <= 3
    ),
    near AS (
      SELECT cid, CAST(count(*) AS BIGINT) AS n_near_groups FROM (
        SELECT id_a AS cid FROM pairs UNION ALL SELECT id_b FROM pairs
      ) t GROUP BY cid
    )
    SELECT g.canonical_id, g.phash, g.n_members,
           CAST(coalesce(n.n_near_groups, 0) AS BIGINT) AS n_near_groups
    FROM groups g LEFT JOIN near n ON g.canonical_id = n.cid
    """,
)
def q_media_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup dedup by perceptual average hash: decode (FakeCodec
    stand-in; the aHash mean-threshold algorithm itself is real and the
    DuckDB oracle replays it pixel-for-pixel) → 64-bit phash per media →
    EXACT-equal groups collapse first (the mass of true duplicates never
    reaches pair finding) → banded Hamming ≤ 3 pairs between group
    REPRESENTATIVES only (``neardup.hamming_pairs_banded``: 4×16-bit
    bands, pigeonhole-complete). Output: one row per distinct hash with
    its canonical id, member count, and how many other groups sit within
    Hamming 3 — the dedup observability view."""

    # PERF (r11): the decode+hash stage ran single-task over the
    # non-splittable local scan — one 4.9 s stage on one of 32 cores in
    # the event-log profile. _cpu_spread parallelizes the Python boundary
    # (guide §4.1/§2.6), a no-op where scans split naturally. A pure-
    # expression twin of the synthetic codec was measured as the
    # alternative: ~2.3x SLOWER per core than the pandas codec loop (HOF
    # md5 chains run interpreted, not codegen) and a tie once both are
    # spread — a negative result (OPTIMIZATION_r11.md), since deleted.
    p = _cpu_spread(spark, sf_dir, "part")
    media = p.select(
        F.col("p_partkey").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("p_name"), "utf-8").alias("payload"),
    )
    ph = phash_media(media)
    # PERF (r10): `groups` feeds THREE consumers (both band-join sides of
    # the Hamming pair stage via `reps`, plus the final observability
    # join), and its upstream — the 64-md5-per-row phash projection — is
    # the query's dominant cost; without materialization Catalyst replays
    # that scan+phash+groupBy subtree once per consumer (3 parquet scans
    # in the before-plan). The artifact is one short row per DISTINCT
    # hash, so the checkpoint is dictionary-sized at any corpus size.
    groups = ph.groupBy("phash").agg(
        F.min("media_id").alias("canonical_id"),
        F.count(F.lit(1)).alias("n_members"),
    ).localCheckpoint(eager=True)
    reps = groups.select(F.col("canonical_id").alias("media_id"), "phash")
    pairs = hamming_pairs_banded(
        reps, "media_id", "phash", max_hamming=3, n_bands=4, band_bits=16
    )
    near = (
        pairs.select(F.explode(F.array("id_a", "id_b")).alias("canonical_id"))
        .groupBy("canonical_id")
        .agg(F.count(F.lit(1)).alias("n_near_groups"))
    )
    return (
        groups.join(near, "canonical_id", "left")
        .select(
            "canonical_id",
            "phash",
            F.col("n_members").cast("long").alias("n_members"),
            F.coalesce("n_near_groups", F.lit(0)).cast("long").alias("n_near_groups"),
        )
    )


@register(
    "bitext_margin_mining",
    oracle=f"""
    WITH a AS (SELECT vec_id AS a_id, embedding AS va FROM embeddings WHERE label = 0),
    b AS (SELECT vec_id AS b_id, embedding AS vb FROM embeddings WHERE label = 1),
    scored AS (
      SELECT a_id, b_id, round({_duck_cosine('va', 'vb')}, 6) AS c
      FROM a CROSS JOIN b
    ),
    ka AS (
      -- 1e-6-scaled INTEGER sum of the top-4 cosines: a 4-double mean is
      -- shuffle-order-sensitive in its last ulp (diverged at sf0.1)
      SELECT a_id, SUM(CAST(round(c * 1000000) AS BIGINT)) AS ksum_a FROM (
        SELECT a_id, c,
               row_number() OVER (PARTITION BY a_id ORDER BY c DESC, b_id) AS rn
        FROM scored
      ) t WHERE rn <= 4 GROUP BY a_id
    ),
    kb AS (
      SELECT b_id, SUM(CAST(round(c * 1000000) AS BIGINT)) AS ksum_b FROM (
        SELECT b_id, c,
               row_number() OVER (PARTITION BY b_id ORDER BY c DESC, a_id) AS rn
        FROM scored
      ) t WHERE rn <= 4 GROUP BY b_id
    ),
    margins AS (
      SELECT s.a_id, s.b_id, s.c,
             round(s.c * 8000000.0 / (ka.ksum_a + kb.ksum_b), 6) AS margin
      FROM scored s JOIN ka ON s.a_id = ka.a_id JOIN kb ON s.b_id = kb.b_id
    ),
    ranked AS (
      SELECT a_id, b_id, c, margin,
             row_number() OVER (PARTITION BY a_id
                                ORDER BY margin DESC, b_id) AS ra,
             row_number() OVER (PARTITION BY b_id
                                ORDER BY margin DESC, a_id) AS rb
      FROM margins
    )
    SELECT a_id, b_id, c AS cosine, margin
    FROM ranked WHERE ra = 1 AND rb = 1 AND margin > 1.0
    """,
)
def q_bitext_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the
    LASER/CCMatrix parallel-corpus miner): between two embedding
    populations, score every cross pair by its cosine RELATIVE to both
    sides' 4-NN neighborhoods (margin = cos / mean-of-kNN — absolute
    cosine thresholds fail across domains), keep MUTUAL best-margin pairs
    above 1.0. Label groups stand in for the two languages. All ranking
    over 1e-6-rounded bit-exact cosines with id tie-breaks. The cross
    score is side-A×side-B bounded (never corpus²) — at 100 TB the pair
    generation is LSH/IVF-blocked first (``ann_lsh_topk`` machinery) and
    the margin math is unchanged."""


    # _cpu_spread: the A×B scoring below is interpreted-fold map work over
    # this scan, and the local single-row-group file is a one-task scan.
    e = _cpu_spread(spark, sf_dir, "embeddings")
    # Per-SIDE norms once (|A| + |B| sqrt-folds) instead of inside
    # cosine_similarity per pair (which re-folds both norms twice per pair —
    # 5 folds/pair on the O(|A|·|B|) stage). Bit-exact: same sqrt∘fold
    # doubles, same when(denom != 0) guard, just materialized per vector.
    a = e.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("va"),
        _norm(F.col("embedding")).alias("na"),
    )
    b = e.filter(F.col("label") == 1).select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("vb"),
        _norm(F.col("embedding")).alias("nb"),
    )
    denom = F.col("na") * F.col("nb")
    scored = (
        a.crossJoin(F.broadcast(b))
        .select(
            "a_id",
            "b_id",
            F.round(
                F.when(denom != 0, _dots(F.col("va"), F.col("vb")) / denom), 6
            ).alias("c"),
        )
        .localCheckpoint(eager=True)  # three ranking branches reuse it
    )
    wa = Window.partitionBy("a_id").orderBy(F.col("c").desc(), F.col("b_id"))
    wb = Window.partitionBy("b_id").orderBy(F.col("c").desc(), F.col("a_id"))
    # 1e-6-scaled INTEGER top-4 sums — a 4-double mean is shuffle-order-
    # sensitive in its last ulp (diverged at sf0.1); integer sums are
    # associative, and the single division happens once in double
    ci = F.round(F.col("c") * 1000000).cast("long")
    ka = (
        scored.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= 4)
        .groupBy("a_id")
        .agg(F.sum(ci).alias("ksum_a"))
    )
    kb = (
        scored.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") <= 4)
        .groupBy("b_id")
        .agg(F.sum(ci).alias("ksum_b"))
    )
    margins = (
        scored.join(ka, "a_id")
        .join(kb, "b_id")
        .select(
            "a_id",
            "b_id",
            "c",
            F.round(
                F.col("c") * 8000000.0 / (F.col("ksum_a") + F.col("ksum_b")), 6
            ).alias("margin"),
        )
    )
    wma = Window.partitionBy("a_id").orderBy(F.col("margin").desc(), F.col("b_id"))
    wmb = Window.partitionBy("b_id").orderBy(F.col("margin").desc(), F.col("a_id"))
    return (
        margins.withColumn("ra", F.row_number().over(wma))
        .withColumn("rb", F.row_number().over(wmb))
        .filter((F.col("ra") == 1) & (F.col("rb") == 1) & (F.col("margin") > 1.0))
        .select("a_id", "b_id", F.col("c").alias("cosine"), "margin")
    )


@register(
    "events_hopping_window",
    oracle="""
    SELECT w AS window_start, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             AS sum_value
    FROM (
      SELECT unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                     date_trunc('hour', ts)]) AS w,
             event_type, value
      FROM events
    ) t
    GROUP BY w, event_type
    """,
)
def q_events_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) window aggregation: 2-hour windows advancing by 1
    hour, so every event lands in exactly two windows — the §2.6 shape
    between tumbling (`events_tumbling_window`) and RANGE frames
    (`trailing_hour_activity`). Spark's ``window(ts, len, slide)``
    replicates rows per overlapping window map-side; one shuffle on the
    (window, type) key, decimal-exact sums."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("string").cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "nation_dual_presence_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 5000
    INTERSECT
    SELECT s_nationkey FROM supplier WHERE s_acctbal > 1000
    """,
)
def q_nation_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set operation (completes §2.8 beside union-all and
    except): nations with BOTH a rich customer and a solvent supplier.
    Catalyst plans set-intersect as a left-semi aggregate — distinct
    shuffles on both pruned sides only."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    s = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 1000)
    return c.select(F.col("c_nationkey").alias("nationkey")).intersect(
        s.select(F.col("s_nationkey").alias("nationkey"))
    )


@register(
    "part_hierarchy_rollup",
    oracle="""
    WITH RECURSIVE anc AS (
      SELECT p_partkey AS node, CAST(p_partkey // 10 AS BIGINT) AS ancestor,
             CAST(p_retailprice AS DECIMAL(18,4)) AS val
      FROM part WHERE p_partkey > 0
      UNION ALL
      SELECT node, CAST(ancestor // 10 AS BIGINT), val
      FROM anc WHERE ancestor > 0
    )
    SELECT ancestor AS p_partkey,
           CAST(count(*) AS BIGINT) AS n_descendants,
           CAST(CAST(SUM(val) AS VARCHAR) AS DOUBLE) AS subtree_value
    FROM anc GROUP BY ancestor
    """,
)
def q_part_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy (BOM-style) subtree rollup WITHOUT recursion: the
    ancestor chain of key p is arithmetically enumerable (p//10, p//100,
    …, down to 0 — a decimal-digit taxonomy), so each node EXPLODES its
    bounded ancestor list map-side and one aggregation sums every
    subtree — where the oracle needs a recursive CTE, the Spark plan is
    a single shuffle. The shape that replaces per-level iterative joins
    whenever the hierarchy is encodable in the key (decimal taxonomies,
    path enumerations, materialized-path trees); truly dynamic graphs go
    through ``graph.connected_components`` instead."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") > 0)
    # Ancestor levels must cover the FULL key domain, not the current
    # data's: a fixed 7-level enumeration loses the terminal 0 ancestor
    # (and any deeper levels) for keys ≥ 10^7 — caught by the r5 sf1
    # sweep, where shifted keys reach ~9×10^7 and the rollup under-counted
    # every high key's subtree. 18 EXACT integer divisions (`div`) reach
    # ≤ 9 for any positive BIGINT (10^18 is the largest power of ten in
    # int64), and the explicit 0 completes the chain the recursive oracle
    # always emits; array_distinct collapses the repeated tail, so output
    # volume is unchanged for small keys.
    anc = F.array_distinct(
        F.array(
            *[F.expr(f"p_partkey div {10 ** i}") for i in range(1, 19)],
            F.lit(0).cast("long"),
        )
    )
    exploded = p.select(
        F.explode(anc).alias("ancestor"), dec("p_retailprice").alias("val")
    )
    return exploded.groupBy(F.col("ancestor").alias("p_partkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n_descendants"),
        F.sum("val").cast("string").cast("double").alias("subtree_value"),
    )


@register(
    "benford_digit_audit",
    oracle="""
    WITH d AS (
      SELECT CAST(regexp_extract(CAST(o_totalprice AS VARCHAR), '[1-9]', 0)
                  AS INT) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    counts AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n,
             SUM(count(*)) OVER () AS total
      FROM d GROUP BY digit
    )
    SELECT digit, n,
           round(CAST(n AS DOUBLE) / total, 6) AS observed_freq,
           round(log10(1.0 + 1.0 / digit), 6) AS expected_freq,
           round(pow(CAST(n AS DOUBLE) / total - log10(1.0 + 1.0 / digit), 2)
                 / log10(1.0 + 1.0 / digit), 6) AS chi2_term
    FROM counts
    """,
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit: observed digit frequencies
    of order totals against log10(1+1/d), with per-digit chi-square
    terms — the classic fabricated-numbers screen for financial feeds.
    The digit extracts from the STRING form (identical double formatting
    in this range in both engines) because the arithmetic route
    ``floor(x/10^floor(log10 x))`` is one ulp of libm log10 away from
    misclassifying exact powers of ten. One 9-group aggregation; the
    window total runs over the aggregated 9-row frame, not the facts."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)

    d = o.select(
        F.regexp_extract(F.col("o_totalprice").cast("string"), "[1-9]", 0)
        .cast("int")
        .alias("digit")
    )
    counts = d.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n"))
    total = F.sum("n").over(Window.partitionBy())
    exp = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    obs = F.col("n").cast("double") / total
    return counts.select(
        "digit",
        "n",
        F.round(obs, 6).alias("observed_freq"),
        F.round(exp, 6).alias("expected_freq"),
        F.round(F.pow(obs - exp, 2) / exp, 6).alias("chi2_term"),
    )


@register(
    "scd2_point_in_time",
    oracle="""
    WITH raw_changes AS (
      SELECT user_id, epoch_us(ts) AS seq, event_id,
             CASE WHEN event_type = 'signup'
                  THEN 'tier_' || CAST(CAST(floor(value / 25.0) AS INT) AS VARCHAR)
             END AS tier,
             CASE WHEN event_type = 'signup' THEN 'U' ELSE 'D' END AS op
      FROM events WHERE event_type IN ('signup', 'error')
    ),
    changes AS (
      -- simultaneous changes collapse to the lowest event_id: scd2 history
      -- requires a UNIQUE seq per key (tie order is engine-nondeterministic);
      -- min-id join, not arg_min, because NULL tiers must survive the pick
      SELECT r.user_id, r.seq, r.tier, r.op
      FROM raw_changes r
      JOIN (SELECT user_id, seq, min(event_id) AS event_id
            FROM raw_changes GROUP BY user_id, seq) k
        ON r.user_id = k.user_id AND r.seq = k.seq AND r.event_id = k.event_id
    ),
    hist AS (
      SELECT user_id, tier, seq AS valid_from,
             lead(seq) OVER (PARTITION BY user_id ORDER BY seq) AS valid_to
      FROM changes QUALIFY op IS DISTINCT FROM 'D'
    ),
    probes AS (
      SELECT event_id, user_id, epoch_us(ts) AS pseq
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, h.tier
    FROM probes p
    LEFT JOIN hist h
      ON p.user_id = h.user_id AND p.pseq >= h.valid_from
     AND (h.valid_to IS NULL OR p.pseq < h.valid_to)
    """,
)
def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (bitemporal) attribute resolution: every purchase
    resolves the SCD2 tier version valid AT ITS TIMESTAMP — signup events
    open versions, error events close them (a closed period resolves to
    NULL, not the stale tier). The oracle joins on BETWEEN; the Spark
    plan avoids the inequality join entirely with the union-walk: version
    anchors and probes merge into one per-user stream, a single ordered
    window carries the open version forward, and a validity check
    nullifies carries past their ``valid_to`` — one user-keyed shuffle at
    any scale (the same shape as ``asof_join`` / the interpolation
    query). Anchors sort before probes at equal microseconds, matching
    the oracle's ``>=``."""

    e = load_table(spark, sf_dir, "events")
    raw_changes = e.filter(F.col("event_type").isin("signup", "error")).select(
        "user_id",
        F.unix_micros("ts").alias("seq"),
        "event_id",
        F.when(
            F.col("event_type") == "signup",
            F.concat(
                F.lit("tier_"),
                F.floor(F.col("value") / 25.0).cast("int").cast("string"),
            ),
        ).alias("tier"),
        F.when(F.col("event_type") == "signup", "U").otherwise("D").alias("op"),
    )
    # simultaneous changes collapse to the lowest event_id — scd2_history
    # requires a UNIQUE seq per key (tie order is engine-nondeterministic);
    # a min-id join, not min_by, because NULL tiers must survive the pick
    keep = raw_changes.groupBy("user_id", "seq").agg(
        F.min("event_id").alias("event_id")
    )
    changes = raw_changes.join(keep, ["user_id", "seq", "event_id"]).select(
        "user_id", "seq", "tier", "op"
    )

    hist = scd2_history(changes, "user_id", "seq", ["tier"], op_col="op")
    probes = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("seq")
    )
    unioned = hist.select(
        "user_id",
        F.col("valid_from").alias("seq"),
        "tier",
        "valid_to",
        F.lit(1).alias("is_anchor"),
        F.lit(None).cast("long").alias("event_id"),
    ).unionByName(
        probes.select(
            "user_id",
            "seq",
            F.lit(None).cast("string").alias("tier"),
            F.lit(None).cast("long").alias("valid_to"),
            F.lit(0).alias("is_anchor"),
            "event_id",
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("seq"), F.col("is_anchor").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    anchor = F.when(F.col("is_anchor") == 1, F.struct("tier", "valid_to"))
    walked = unioned.withColumn("__v", F.last(anchor, ignorenulls=True).over(w))
    valid = F.col("__v").isNotNull() & (
        F.col("__v.valid_to").isNull() | (F.col("seq") < F.col("__v.valid_to"))
    )
    return (
        walked.filter(F.col("is_anchor") == 0)
        .select(
            "event_id",
            "user_id",
            F.when(valid, F.col("__v.tier")).alias("tier"),
        )
    )


@register(
    "cuped_ab_adjusted_lift",
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(user_id % 2 AS INT) AS grp,
             SUM(CASE WHEN ts < TIMESTAMP '2024-01-15'
                      THEN CAST(value AS DECIMAL(18,4))
                      ELSE CAST(0 AS DECIMAL(18,4)) END) AS x,
             SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15'
                      THEN CAST(value AS DECIMAL(18,4))
                      ELSE CAST(0 AS DECIMAL(18,4)) END) AS y
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM per_user
    ),
    th AS (
      SELECT n,
             CAST(CAST(sx AS VARCHAR) AS DOUBLE) / n AS xbar,
             (n * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
              - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
             / (n * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
                - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                  * CAST(CAST(sx AS VARCHAR) AS DOUBLE)) AS theta
      FROM g
    )
    SELECT p.grp,
           CAST(count(*) AS BIGINT) AS n_users,
           round(CAST(CAST(SUM(p.y) AS VARCHAR) AS DOUBLE) / count(*), 6)
             AS raw_mean,
           round(CAST(CAST(SUM(p.y) AS VARCHAR) AS DOUBLE) / count(*)
                 - t.theta * (CAST(CAST(SUM(p.x) AS VARCHAR) AS DOUBLE)
                              / count(*) - t.xbar), 6) AS adjusted_mean,
           round(t.theta, 6) AS theta
    FROM per_user p CROSS JOIN th t
    GROUP BY p.grp, t.theta, t.xbar
    """,
)
def q_cuped_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al. 2013, the
    experimentation-platform standard): per-user pre-period covariate x
    and post-period metric y, θ = cov(x,y)/var(x) from EXACT decimal
    moment sums (products of decimal(18,4) stay exact), per-group
    adjusted mean ȳ_g − θ·(x̄_g − x̄). Two keyed aggregations (user, then
    group) + a 1-row broadcast of the moments; every division happens
    once, in double, on identical expression trees in both engines."""
    e = load_table(spark, sf_dir, "events")
    zero = F.lit(0).cast("decimal(18,4)")
    per_user = e.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("ts") < "2024-01-15", dec("value")).otherwise(zero)
        ).alias("x"),
        F.sum(
            F.when(F.col("ts") >= "2024-01-15", dec("value")).otherwise(zero)
        ).alias("y"),
    ).select(
        "user_id", (F.col("user_id") % 2).cast("int").alias("grp"), "x", "y"
    )
    g = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    dd = lambda c: F.col(c).cast("string").cast("double")
    th = g.select(
        "n",
        (dd("sx") / F.col("n")).alias("xbar"),
        (
            (F.col("n") * dd("sxy") - dd("sx") * dd("sy"))
            / (F.col("n") * dd("sxx") - dd("sx") * dd("sx"))
        ).alias("theta"),
    )
    grouped = per_user.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("y").alias("gy"),
        F.sum("x").alias("gx"),
    )
    return grouped.crossJoin(F.broadcast(th)).select(
        "grp",
        "n_users",
        F.round(dd("gy") / F.col("n_users"), 6).alias("raw_mean"),
        F.round(
            dd("gy") / F.col("n_users")
            - F.col("theta") * (dd("gx") / F.col("n_users") - F.col("xbar")),
            6,
        ).alias("adjusted_mean"),
        F.round("theta", 6).alias("theta"),
    )


@register(
    "neardup_keep_best_docs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, source, unnest({_DUCK_NGRAMS2}) AS shingle FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.source = b.source AND a.shingle = b.shingle
        WHERE a.doc_id < b.doc_id GROUP BY 1, 2
      ) c
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE round(n_common / (sa.sz + sb.sz - n_common), 6) >= 0.1
    ),
    q AS (SELECT doc_id, n_chars AS q FROM documents),
    sym AS (
      SELECT doc_a AS id, doc_b AS other FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    dominated AS (
      SELECT DISTINCT s.id FROM sym s
      JOIN q me ON me.doc_id = s.id
      JOIN q ot ON ot.doc_id = s.other
      WHERE ot.q > me.q OR (ot.q = me.q AND s.other < s.id)
    )
    SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
    FROM documents d WHERE d.doc_id NOT IN (SELECT id FROM dominated)
    """,
)
def q_neardup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware fuzzy dedup: same blocked-Jaccard pair pipeline as
    ``neardup_dedup_docs``, but each duplicate neighborhood keeps its
    LONGEST copy (length = extraction-quality proxy; ties fall back to
    lowest id) instead of blindly keeping the lowest id — the policy
    training corpora actually want when the same page was scraped at
    different fidelities. See ``neardup.neardup_keep_best``. Shingles
    match on 64-bit hashes: two distinct shingles of one source that
    collide count as shared (see ``neardup.ngram_jaccard_pairs``)."""

    d = _cpu_spread(spark, sf_dir, "documents")
    # the verified pair list is tiny (dup density, not corpus size) and
    # feeds BOTH sides of the symmetric explode — materialize it once or
    # the whole blocked-Jaccard pipeline replays per branch (23 exchanges)
    pairs = (
        N.ngram_jaccard_pairs(d, "doc_id", "text", "source", n=2, threshold=0.1)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    return N.neardup_keep_best(d, pairs, "doc_id", "n_chars").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


@register(
    "contrastive_training_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, source, unnest({_DUCK_NGRAMS2}) AS shingle FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    pos AS (
      SELECT doc_a, doc_b, 1 AS is_positive FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.source = b.source AND a.shingle = b.shingle
        WHERE a.doc_id < b.doc_id GROUP BY 1, 2
      ) c
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE round(n_common / (sa.sz + sb.sz - n_common), 6) >= 0.2
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    neg AS (
      SELECT doc_a,
             CASE WHEN jump = doc_a THEN (jump + 1) % n_docs ELSE jump END
               AS doc_b,
             0 AS is_positive
      FROM (
        SELECT a.doc_id AS doc_a,
               (a.doc_id * 2654435761) % n.n_docs AS jump, n.n_docs
        FROM documents a CROSS JOIN n
        WHERE {_duck_hash48("concat('negpair|', CAST(a.doc_id AS VARCHAR))")}
              % 4 = 0
      ) t
    )
    SELECT doc_a, doc_b, CAST(is_positive AS INT) AS is_positive FROM pos
    UNION ALL
    SELECT doc_a, doc_b, CAST(is_positive AS INT) AS is_positive
    FROM neg WHERE NOT EXISTS (
      SELECT 1 FROM pos p WHERE p.doc_a = least(neg.doc_a, neg.doc_b)
                            AND p.doc_b = greatest(neg.doc_a, neg.doc_b))
    """,
)
def q_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair construction for embedding training (SimCSE/E5
    recipe): POSITIVES are verified near-duplicate pairs (blocked Jaccard
    ≥ 0.2 — same-content different-extraction, the natural free positive
    signal in a crawl corpus); NEGATIVES sample a deterministic
    pseudo-random partner per selected anchor (Knuth-hash jump, ~25% of
    docs) and are SCREENED against the positive set so no negative is
    secretly a near-dup. One pair pipeline + one seeded map-side sample —
    no random shuffles, reproducible on any cluster. Shingles match on
    64-bit hashes: two distinct shingles of one source that collide count
    as shared (see ``neardup.ngram_jaccard_pairs``)."""

    d = _cpu_spread(spark, sf_dir, "documents")
    pos = (
        N.ngram_jaccard_pairs(d, "doc_id", "text", "source", n=2, threshold=0.2)
        .select("doc_a", "doc_b", F.lit(1).alias("is_positive"))
        .localCheckpoint(eager=True)
    )
    ids = d.select("doc_id")
    # doc ids are dense 0..N-1, so the negative partner is a Knuth-hash
    # jump computed MAP-SIDE (self-collisions bump by one, mod N) — no
    # candidate join at all; only the 1-row corpus count broadcasts
    n_docs = ids.agg(F.count(F.lit(1)).alias("n_docs"))
    anchors = ids.filter(
        md5_hash48(F.concat(F.lit("negpair|"), F.col("doc_id").cast("string"))) % 4
        == 0
    ).select(F.col("doc_id").alias("doc_a"))
    jump = (F.col("doc_a") * F.lit(2654435761)) % F.col("n_docs")
    neg = (
        anchors.crossJoin(F.broadcast(n_docs))
        .select(
            "doc_a",
            F.when(jump == F.col("doc_a"), (jump + 1) % F.col("n_docs"))
            .otherwise(jump)
            .alias("doc_b"),
            F.lit(0).alias("is_positive"),
        )
    )
    pos_keys = pos.select(
        F.least("doc_a", "doc_b").alias("__ka"),
        F.greatest("doc_a", "doc_b").alias("__kb"),
    )
    neg_clean = neg.join(
        pos_keys,
        (F.least("doc_a", "doc_b") == F.col("__ka"))
        & (F.greatest("doc_a", "doc_b") == F.col("__kb")),
        "left_anti",
    )
    return pos.unionByName(neg_clean).select(
        "doc_a", "doc_b", F.col("is_positive").cast("int").alias("is_positive")
    )


@register(
    "event_burst_dedup",
    oracle="""
    SELECT event_id, user_id, event_type, ts
    FROM (
      SELECT event_id, user_id, event_type, ts,
             lag(ts) OVER (PARTITION BY user_id, event_type, value
                           ORDER BY ts, event_id) AS prev_ts
      FROM events
    ) t
    WHERE prev_ts IS NULL OR ts - prev_ts > INTERVAL 300 SECOND
    """,
)
def q_event_burst_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry burst dedup: drop an event identical to its predecessor
    (same user, type, value) within 300 s — client-retry/double-click
    suppression, the batch twin of ``streaming/dedup``'s
    dropDuplicatesWithinWatermark. One window over the identity key; a
    survivor RESETS the clock (lag semantics: each kept row is >300 s
    after the previous RAW row, the standard debounce)."""

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type", "value").orderBy(
        F.col("ts"), F.col("event_id")
    )
    return (
        e.withColumn("__prev", F.lag("ts").over(w))
        .filter(
            F.col("__prev").isNull()
            | (F.unix_micros("ts") - F.unix_micros("__prev") > 300_000_000)
        )
        .select("event_id", "user_id", "event_type", "ts")
    )


@register(
    "dow_seasonality_index",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             isodow(ts) AS dow, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2, 3
    ),
    base AS (
      SELECT event_type, CAST(dow AS INT) AS dow,
             SUM(n) AS dow_events, count(*) AS dow_days
      FROM daily GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, SUM(dow_events) AS all_events, SUM(dow_days) AS all_days
      FROM base GROUP BY 1
    )
    SELECT b.event_type, b.dow,
           CAST(b.dow_events AS BIGINT) AS n_events,
           round((CAST(b.dow_events AS DOUBLE) / b.dow_days)
                 / (CAST(t.all_events AS DOUBLE) / t.all_days), 6)
             AS seasonality_index
    FROM base b JOIN tot t ON b.event_type = t.event_type
    """,
)
def q_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index per event type: mean daily volume on
    each ISO weekday relative to the type's overall daily mean (index 1.0
    = no weekly pattern) — the additive-decomposition lite every ops
    dashboard starts with. Normalizing by DAY COUNT, not raw totals,
    keeps partial weeks at the range edges from faking seasonality. Two
    nested aggregations, both map-partial."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        F.dayofweek("ts").alias("__dow_sun"),
    ).agg(F.count(F.lit(1)).alias("n"))
    # Spark dayofweek is Sunday=1; ISO Monday=1 mapping
    daily = daily.withColumn(
        "dow", ((F.col("__dow_sun") + 5) % 7 + 1).cast("int")
    )
    base = daily.groupBy("event_type", "dow").agg(
        F.sum("n").alias("dow_events"), F.count(F.lit(1)).alias("dow_days")
    )
    tot = base.groupBy("event_type").agg(
        F.sum("dow_events").alias("all_events"), F.sum("dow_days").alias("all_days")
    )
    return base.join(tot, "event_type").select(
        "event_type",
        "dow",
        F.col("dow_events").cast("long").alias("n_events"),
        F.round(
            (F.col("dow_events").cast("double") / F.col("dow_days"))
            / (F.col("all_events").cast("double") / F.col("all_days")),
            6,
        ).alias("seasonality_index"),
    )


@register(
    "dup_cluster_size_distribution",
    oracle="""
    WITH clusters AS (
      SELECT md5(lower(trim(text))) AS dg, CAST(count(*) AS BIGINT) AS sz
      FROM documents GROUP BY 1
    )
    SELECT sz AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sz * count(*) AS BIGINT) AS n_docs
    FROM clusters GROUP BY sz
    """,
)
def q_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate cluster-size distribution: how much of the corpus
    sits in singletons vs heavy duplicate clusters — the observability
    view that decides whether dedup is worth a full pass (one giant
    cluster and a long singleton tail is the classic crawl signature).
    Two nested aggregations; the second groups on the tiny size domain."""
    d = load_table(spark, sf_dir, "documents")
    clusters = d.groupBy(
        F.md5(F.lower(F.trim(F.col("text")))).alias("dg")
    ).agg(F.count(F.lit(1)).alias("sz"))
    return clusters.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("long").alias("n_docs"),
    )


@register(
    "bigram_pmi_collocations",
    oracle=f"""
    WITH w AS (SELECT {_DUCK_WORDS} AS ws FROM documents),
    big AS (
      SELECT p.pr['w1'] AS w1, p.pr['w2'] AS w2, count(*) AS c12
      FROM (
        SELECT unnest(list_transform(range(len(ws) - 1),
                 i -> {{'w1': ws[i + 1], 'w2': ws[i + 2]}})) AS pr
        FROM w WHERE len(ws) >= 2
      ) p GROUP BY 1, 2
    ),
    uni AS (
      SELECT token, count(*) AS c FROM (
        SELECT unnest({_DUCK_WORDS}) AS token FROM documents
      ) t GROUP BY token
    ),
    n AS (SELECT SUM(c) AS total FROM uni)
    SELECT b.w1, b.w2, CAST(b.c12 AS BIGINT) AS pair_count,
           round(ln((CAST(b.c12 AS DOUBLE) * n.total)
                    / (CAST(u1.c AS DOUBLE) * u2.c)), 6) AS pmi
    FROM big b
    JOIN uni u1 ON b.w1 = u1.token
    JOIN uni u2 ON b.w2 = u2.token
    CROSS JOIN n
    WHERE b.c12 >= 5
    """,
)
def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of adjacent token pairs (collocation
    mining, Church & Hanks 1990): PMI = ln(N·c12 / (c1·c2)) over pairs
    seen ≥ 5 times — the lexical-association stat behind phrase
    detection/tokenizer seeding. Bigram and unigram counts are two
    dictionary-sized aggregations off the same token stream; the unigram
    table joins back vocabulary-sized (AQE broadcast at scale) and the
    corpus total is a 1-row broadcast."""

    d = _cpu_spread(spark, sf_dir, "documents")
    base = d.select("doc_id", words("text").alias("__ws"))
    big = (
        base.select(
            # greatest(…, 0): a wordless or single-word doc would make the
            # slice length negative, which ANSI mode rejects at runtime
            F.explode(
                F.expr(
                    "transform(slice(__ws, 1, greatest(size(__ws) - 1, 0)), "
                    "(w, i) -> struct(w as w1, __ws[i + 1] as w2))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= 5)
    )
    # the unigram table feeds THREE consumers (both join sides + the
    # corpus total) — materialize the vocabulary-sized frame once
    uni = (
        base.select(F.explode("__ws").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    n = uni.agg(F.sum("c").alias("total"))
    u1 = uni.select(F.col("token").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("token").alias("w2"), F.col("c").alias("c2"))
    return (
        big.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("pair_count"),
            F.round(
                F.log(
                    (F.col("c12").cast("double") * F.col("total"))
                    / (F.col("c1").cast("double") * F.col("c2"))
                ),
                6,
            ).alias("pmi"),
        )
    )


@register(
    "purchase_linear_regression",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS x,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS y
      FROM orders GROUP BY o_custkey
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             SUM(x) AS sx,
             SUM(y) AS sy,
             SUM(x * x) AS sxx,
             SUM(x * y) AS sxy,
             SUM(y * y) AS syy
      FROM per_cust
    )
    SELECT n,
           round((n * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx), 6)
             AS slope,
           round((CAST(CAST(sy AS VARCHAR) AS DOUBLE)
                  - ((n * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
                     / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx))
                    * CAST(sx AS DOUBLE)) / n, 6) AS intercept,
           round(pow(n * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE), 2)
                 / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                    * (n * CAST(CAST(syy AS VARCHAR) AS DOUBLE)
                       - CAST(CAST(sy AS VARCHAR) AS DOUBLE)
                         * CAST(CAST(sy AS VARCHAR) AS DOUBLE))), 6) AS r2
    FROM m
    """,
)
def q_purchase_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS in one aggregation pass: spend ~ order-count per
    customer via the normal equations — slope, intercept and R² all
    derive from five moment sums (counts exact as BIGINT, revenue sums
    exact as DECIMAL, products of the two exact until the single final
    double conversion). The scale shape for any single-feature fit: one
    keyed agg + one 1-row reduction; nothing iterative, nothing
    collected except the coefficients."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(dec("o_totalprice")).alias("y"),
    )
    m = per_cust.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    dd = lambda c: F.col(c).cast("string").cast("double")
    num = F.col("n") * dd("sxy") - F.col("sx").cast("double") * dd("sy")
    den = F.col("n") * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx")
    slope = num / den
    intercept = (dd("sy") - slope * F.col("sx").cast("double")) / F.col("n")
    r2 = F.pow(num, 2) / (
        den * (F.col("n") * dd("syy") - dd("sy") * dd("sy"))
    )
    return m.select(
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


@register(
    "cusum_changepoint_scan",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    m AS (SELECT CAST(SUM(n) AS DOUBLE) / count(*) AS mu FROM daily),
    c AS (
      SELECT day, n,
             round(SUM(n - m.mu) OVER (ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
               + 0.0 AS cusum
      FROM daily CROSS JOIN m
    )
    SELECT day, n, cusum,
           abs(cusum) = (SELECT max(abs(cusum)) FROM c) AS is_changepoint
    FROM c
    """,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan over daily volumes (Page 1954): cumulative
    sum of deviations from the global mean; the |CUSUM| maximum marks the
    most likely level-shift day — the first-pass regime-change detector
    for feed monitoring. Day rows are bounded (one per calendar day), so
    the ordered window and the max-scalar comparison both run on a tiny
    frame; only the daily rollup touches the facts."""

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    m = daily.agg((F.sum("n").cast("double") / F.count(F.lit(1))).alias("mu"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = (
        daily.crossJoin(F.broadcast(m))
        .withColumn(
            # + 0.0 folds IEEE negative zero to +0.0 — a zero-sum tail day
            # otherwise prints -0.0 in one engine and 0.0 in the other
            "cusum",
            F.round(F.sum(F.col("n") - F.col("mu")).over(w), 6) + F.lit(0.0),
        )
        .select("day", "n", "cusum")
        .localCheckpoint(eager=True)  # scalar-max branch reuses it
    )
    mx = c.agg(F.max(F.abs("cusum")).alias("mx"))
    return c.crossJoin(F.broadcast(mx)).select(
        "day", "n", "cusum", (F.abs("cusum") == F.col("mx")).alias("is_changepoint")
    )


@register(
    "order_interarrival_percentiles",
    oracle="""
    WITH gaps AS (
      SELECT date_diff('day',
               lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate,
                                      o_orderkey),
               o_orderdate) AS gap_days
      FROM orders
    )
    SELECT CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(quantile_disc(gap_days, 0.5) AS BIGINT) AS p50,
           CAST(quantile_disc(gap_days, 0.9) AS BIGINT) AS p90,
           CAST(quantile_disc(gap_days, 0.99) AS BIGINT) AS p99,
           CAST(min(gap_days) AS BIGINT) AS min_gap,
           CAST(max(gap_days) AS BIGINT) AS max_gap
    FROM gaps WHERE gap_days IS NOT NULL
    """,
)
def q_order_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap distribution: days between consecutive orders per
    customer, summarized as exact discrete percentiles — the repeat-
    purchase cadence stat behind churn windows and CLV horizon choices.
    One lag window on the customer key, one global percentile aggregate
    (exact ``percentile`` on the integer gap domain — discrete quantile
    semantics match DuckDB's quantile_disc)."""

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias("gap_days")
    ).filter(F.col("gap_days").isNotNull())
    return gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.expr("percentile_approx(gap_days, 0.5, 2147483647)")
        .cast("long")
        .alias("p50"),
        F.expr("percentile_approx(gap_days, 0.9, 2147483647)")
        .cast("long")
        .alias("p90"),
        F.expr("percentile_approx(gap_days, 0.99, 2147483647)")
        .cast("long")
        .alias("p99"),
        F.min("gap_days").cast("long").alias("min_gap"),
        F.max("gap_days").cast("long").alias("max_gap"),
    )


@register(
    "embedding_norm_outliers",
    oracle=f"""
    WITH norms AS (
      SELECT vec_id, label,
             round(sqrt({_duck_dot('embedding', 'embedding')}), 6) AS l2
      FROM embeddings
    ),
    med AS (SELECT quantile_disc(l2, 0.5) AS m FROM norms),
    mad AS (
      SELECT quantile_disc(abs(l2 - med.m), 0.5) AS d, med.m AS m
      FROM norms CROSS JOIN med GROUP BY med.m
    )
    SELECT n.vec_id, n.label, n.l2,
           round(abs(n.l2 - mad.m) / nullif(mad.d, 0), 6) AS mad_score,
           coalesce(abs(n.l2 - mad.m) / nullif(mad.d, 0) > 5.0, FALSE)
             AS is_outlier
    FROM norms n CROSS JOIN mad
    """,
)
def q_embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-store health check: per-vector L2 norm scored against the
    corpus median/MAD (robust — a batch of zero vectors or an
    fp16-overflow burst can't drag the baseline the way mean/std would);
    vectors beyond 5 MAD flag as outliers, the standard pre-index screen
    for a vector pipeline. Norms fold in index order (bit-exact), the
    median/MAD scalars broadcast as one row, discrete-quantile semantics
    match DuckDB's quantile_disc."""

    e = load_table(spark, sf_dir, "embeddings")
    norms = e.select(
        "vec_id", "label", F.round(_norm(F.col("embedding")), 6).alias("l2")
    ).localCheckpoint(eager=True)  # median, MAD and the report all reuse it
    med = norms.agg(
        F.expr("percentile_approx(l2, 0.5, 2147483647)").alias("m")
    )
    dev = norms.crossJoin(F.broadcast(med)).select(
        "m", F.abs(F.col("l2") - F.col("m")).alias("__dev")
    )
    mad = dev.agg(
        F.expr("percentile_approx(__dev, 0.5, 2147483647)").alias("d"),
        F.first("m").alias("m"),
    )
    score = F.abs(F.col("l2") - F.col("m")) / F.nullif(F.col("d"), F.lit(0))
    return norms.crossJoin(F.broadcast(mad)).select(
        "vec_id",
        "label",
        "l2",
        F.round(score, 6).alias("mad_score"),
        F.coalesce(score > 5.0, F.lit(False)).alias("is_outlier"),
    )


@register(
    "heaps_law_curve",
    oracle=f"""
    WITH n AS (SELECT count(*) AS n_docs FROM documents),
    dt AS (
      SELECT doc_id, len({_DUCK_WORDS}) AS n_tok,
             least(doc_id * 10 // n.n_docs, 9) AS bucket
      FROM documents CROSS JOIN n
    ),
    per_bucket AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS docs,
             CAST(SUM(n_tok) AS BIGINT) AS toks
      FROM dt GROUP BY bucket
    ),
    tf AS (
      SELECT token, min(doc_id) AS first_doc FROM (
        SELECT doc_id, unnest({_DUCK_WORDS}) AS token FROM documents
      ) t GROUP BY token
    ),
    nf AS (
      SELECT least(first_doc * 10 // n.n_docs, 9) AS bucket,
             CAST(count(*) AS BIGINT) AS new_tokens
      FROM tf CROSS JOIN n GROUP BY 1
    )
    SELECT CAST(b.bucket AS INT) AS decile,
           CAST(SUM(p.docs) AS BIGINT) AS cum_docs,
           CAST(SUM(p.toks) AS BIGINT) AS cum_tokens,
           CAST(coalesce((SELECT SUM(new_tokens) FROM nf
                          WHERE nf.bucket <= b.bucket), 0) AS BIGINT)
             AS cum_distinct_tokens
    FROM (SELECT DISTINCT bucket FROM per_bucket) b
    JOIN per_bucket p ON p.bucket <= b.bucket
    GROUP BY b.bucket
    """,
)
def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: cumulative docs, tokens and
    DISTINCT tokens at each corpus decile — the sub-linearity of the
    third column is what sizes tokenizer vocabularies and predicts dedup
    yield on more data. No global ordered scan: each doc/first-seen
    token contributes to its decile bucket and the ≤-cumulation happens
    on the TEN-row bucket frame (the contribute-explode trick from
    ``rolling_7d_active_users``, here as a tiny triangular join)."""
    d = _cpu_spread(spark, sf_dir, "documents")

    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    dt = d.select(
        "doc_id", F.size(words("text")).alias("n_tok")
    ).crossJoin(F.broadcast(n)).select(
        "n_tok",
        F.least(
            (F.col("doc_id") * 10).cast("long") / F.col("n_docs"), F.lit(9.0)
        )
        .cast("long")
        .alias("bucket"),
    )
    per_bucket = dt.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("docs"), F.sum("n_tok").alias("toks")
    ).localCheckpoint(eager=True)
    tf = (
        d.select("doc_id", F.explode(words("text")).alias("token"))
        .groupBy("token")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    nf = (
        tf.crossJoin(F.broadcast(n))
        .select(
            F.least(
                (F.col("first_doc") * 10).cast("long") / F.col("n_docs"),
                F.lit(9.0),
            )
            .cast("long")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_tokens"))
        .localCheckpoint(eager=True)
    )
    buckets = per_bucket.select("bucket").distinct()
    cum = (
        buckets.alias("b")
        .join(
            per_bucket.alias("p"), F.col("p.bucket") <= F.col("b.bucket")
        )
        .groupBy(F.col("b.bucket").alias("decile"))
        .agg(
            F.sum("p.docs").cast("long").alias("cum_docs"),
            F.sum("p.toks").cast("long").alias("cum_tokens"),
        )
    )
    cum_nf = (
        buckets.alias("b2")
        .join(nf.alias("f"), F.col("f.bucket") <= F.col("b2.bucket"), "left")
        .groupBy(F.col("b2.bucket").alias("decile"))
        .agg(
            F.coalesce(F.sum("f.new_tokens"), F.lit(0))
            .cast("long")
            .alias("cum_distinct_tokens")
        )
    )
    return (
        cum.join(cum_nf, "decile")
        .select(
            F.col("decile").cast("int").alias("decile"),
            "cum_docs",
            "cum_tokens",
            "cum_distinct_tokens",
        )
    )


@register(
    "extraction_artifact_screen",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '<[^>]+>')) AS BIGINT) AS n_tags,
           CAST(len(regexp_extract_all(text, '&[a-z]+;')) AS BIGINT)
             AS n_entities,
           CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS BIGINT)
             AS n_urls,
           CAST(len(regexp_extract_all(text, '\\\\[a-z]')) AS BIGINT)
             AS n_escapes,
           coalesce(len(regexp_extract_all(text, '<[^>]+>'))
                    + len(regexp_extract_all(text, '&[a-z]+;'))
                    + len(regexp_extract_all(text, '\\\\[a-z]')) > 0, FALSE)
             AS needs_recleaning
    FROM documents
    """,
)
def q_extraction_artifacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction-artifact screen: per-doc counts of HTML tag residue,
    entity escapes, live URLs and backslash escapes — the signals that an
    HTML→text extraction failed and the doc should re-enter the cleaning
    pipeline rather than the training mix (complements
    ``quality_filter_chain``'s statistical screens with mechanical ones).
    Pure codegen'd regexp counts, zero shuffles."""
    d = load_table(spark, sf_dir, "documents")
    tags = F.size(F.expr(r"regexp_extract_all(text, '<[^>]+>', 0)"))
    ents = F.size(F.expr(r"regexp_extract_all(text, '&[a-z]+;', 0)"))
    urls = F.size(F.expr(r"regexp_extract_all(text, 'https?://[^ ]+', 0)"))
    escs = F.size(F.expr(r"regexp_extract_all(text, '\\\\[a-z]', 0)"))
    return d.select(
        "doc_id",
        tags.cast("long").alias("n_tags"),
        ents.cast("long").alias("n_entities"),
        urls.cast("long").alias("n_urls"),
        escs.cast("long").alias("n_escapes"),
        F.coalesce((tags + ents + escs) > 0, F.lit(False)).alias(
            "needs_recleaning"
        ),
    )


@register("source_overlap_estimate")
def q_source_overlap_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-algebra set overlap: estimated |A ∩ B| of the trigram-shingle
    vocabularies of two sources (src0/src1) by HLL inclusion-exclusion
    (|A| + |B| − |A∪B|) — the constant-memory way to size cross-source
    contamination before an exact join, and the reason the engine
    persists HLL sketches (``aggregate.hll_partial_sketches``): union is
    lossless on sketch state, so the three cardinalities come from ONE
    sketch pass per source. Declared no-oracle (estimates); the error
    bound versus the exact intersection is property-tested
    (``tests/test_functions.py``)."""

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(word_ngrams(words("text"), 3)).alias("token")
    ).filter(F.col("source").isin("src0", "src1"))
    sketches = tok.groupBy("source").agg(
        F.hll_sketch_agg(F.col("token"), F.lit(14)).alias("sk"),
        F.countDistinct("token").alias("exact_distinct"),
    )
    singles = sketches.select(
        "source", F.hll_sketch_estimate("sk").alias("est"), "exact_distinct"
    )
    union_est = sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("u")
    )
    pair = (
        singles.groupBy()
        .pivot("source", ["src0", "src1"])
        .agg(F.first("est"))
        .crossJoin(F.broadcast(union_est))
    )
    return pair.select(
        F.round("src0", 1).alias("est_src0"),
        F.round("src1", 1).alias("est_src1"),
        F.round("u", 1).alias("est_union"),
        F.round(F.col("src0") + F.col("src1") - F.col("u"), 1).alias(
            "est_intersection"
        ),
    )


@register(
    "rollup_share_of_parent",
    oracle="""
    WITH r AS (
      SELECT CASE WHEN GROUPING(c_mktsegment) = 1 THEN NULL
                  ELSE c_mktsegment END AS segment,
             CASE WHEN GROUPING(c_nationkey) = 1 THEN NULL
                  ELSE c_nationkey END AS nationkey,
             GROUPING(c_mktsegment) + GROUPING(c_nationkey) * 2 AS gid,
             SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS bal
      FROM customer
      GROUP BY ROLLUP (c_mktsegment, c_nationkey)
    )
    SELECT child.segment, child.nationkey,
           CAST(CAST(child.bal AS VARCHAR) AS DOUBLE) AS balance,
           round(CAST(CAST(child.bal AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(parent.bal AS VARCHAR) AS DOUBLE), 6)
             AS share_of_parent
    FROM r child JOIN r parent
      ON (child.gid = 0 AND parent.gid = 2
          AND child.segment = parent.segment)
      OR (child.gid = 2 AND parent.gid = 3)
    """,
)
def q_rollup_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent over a ROLLUP lattice: each (segment, nation) leaf
    as a fraction of its segment subtotal, each segment subtotal as a
    fraction of the grand total — the drill-down ratio view pivot tables
    want, computed from ONE rollup pass (the lattice self-join runs on
    the tiny aggregated frame, never the facts). Exact-decimal balances;
    one division per row at the end."""
    c = load_table(spark, sf_dir, "customer")
    r = (
        c.rollup("c_mktsegment", "c_nationkey")
        .agg(
            F.sum(dec("c_acctbal")).alias("bal"),
            F.grouping("c_mktsegment").alias("g1"),
            F.grouping("c_nationkey").alias("g2"),
        )
        .select(
            F.when(F.col("g1") == 1, F.lit(None)).otherwise(
                F.col("c_mktsegment")
            ).alias("segment"),
            F.when(F.col("g2") == 1, F.lit(None)).otherwise(
                F.col("c_nationkey")
            ).alias("nationkey"),
            (F.col("g1") + F.col("g2") * 2).alias("gid"),
            "bal",
        )
        .localCheckpoint(eager=True)  # child and parent sides reuse it
    )
    child = r.select(
        F.col("segment"), F.col("nationkey"), F.col("gid"), F.col("bal")
    )
    parent = r.select(
        F.col("segment").alias("p_segment"),
        F.col("gid").alias("p_gid"),
        F.col("bal").alias("p_bal"),
    )
    cond = (
        (F.col("gid") == 0)
        & (F.col("p_gid") == 2)
        & (F.col("segment") == F.col("p_segment"))
    ) | ((F.col("gid") == 2) & (F.col("p_gid") == 3))
    return child.join(F.broadcast(parent), cond).select(
        "segment",
        "nationkey",
        F.col("bal").cast("string").cast("double").alias("balance"),
        F.round(
            F.col("bal").cast("string").cast("double")
            / F.col("p_bal").cast("string").cast("double"),
            6,
        ).alias("share_of_parent"),
    )


@register(
    "part_skyline_pareto",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice, p_size
    FROM (
      -- corrupt rows are out of the frontier: a NULL price has no position
      -- in the price order (and Spark/DuckDB disagree on where NULLS sort),
      -- a NULL size can dominate nothing and be dominated by nothing
      SELECT p_partkey, p_name, p_retailprice, p_size,
             max(p_size) OVER (ORDER BY p_retailprice, p_partkey
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS best_before
      FROM part
      WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
    ) t
    WHERE best_before IS NULL OR p_size > best_before
    """,
)
def q_part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline (BNL-free): parts not dominated on (price ↓, size ↑)
    — a part survives iff its size strictly exceeds the best size among
    all strictly-cheaper-or-tied-earlier parts, which ONE running-max
    window over the price order answers; the naive skyline is an O(n²)
    self-join. The (price, partkey) total order makes the dominance
    frontier deterministic under ties. At 100 TB the same window runs
    after a range partition on price. Rows with a NULL price or size are
    excluded — they have no place in the dominance order (and Spark and
    DuckDB disagree on where NULLs sort)."""

    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull()
    )
    w = (
        Window.orderBy("p_retailprice", "p_partkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        p.withColumn("__best", F.max("p_size").over(w))
        .filter(F.col("__best").isNull() | (F.col("p_size") > F.col("__best")))
        .select("p_partkey", "p_name", "p_retailprice", "p_size")
    )


@register(
    "streaming_session_counts",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_num
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_num
    """,
)
def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING path of sessionization: ``session_window`` with a
    watermark on a file-source readStream, drained availableNow — session
    state merges across micro-batches in the state store, and the result
    must equal the batch sessionizer (shared oracle), checkpointing
    included. The second driver-visible streaming query beside
    ``streaming_windowed_counts``. Drains to a parquet snapshot
    (foreachBatch) — the result set never crosses the driver."""

    stream = SE.read_events_stream(spark, sf_dir)
    agg = SE.sessionized_counts(stream).select(
        "user_id", "session_start", "n_events"
    )
    return _drain_stream_snapshot(spark, agg, "sess_counts")


@register(
    "zipf_fit_report",
    oracle=f"""
    WITH counts AS (
      SELECT token, count(*) AS c FROM (
        SELECT unnest({_DUCK_WORDS}) AS token FROM documents
      ) t GROUP BY token
    ),
    ranked AS (
      SELECT CAST(round(ln(row_number() OVER (ORDER BY c DESC, token)), 6)
                  AS DECIMAL(18,6)) AS lx,
             CAST(round(ln(c), 6) AS DECIMAL(18,6)) AS ly
      FROM counts QUALIFY row_number() OVER (ORDER BY c DESC, token) <= 50
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n, SUM(lx) AS sx, SUM(ly) AS sy,
             SUM(lx * lx) AS sxx, SUM(lx * ly) AS sxy
      FROM ranked
    )
    SELECT n,
           round((n * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
                  - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                    * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
                 / (n * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
                    - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                      * CAST(CAST(sx AS VARCHAR) AS DOUBLE)), 6)
             AS zipf_exponent
    FROM m
    """,
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit: the log-log OLS slope of the top-50 token
    rank-frequency curve (natural corpora sit near −1; a flat slope flags
    templated/synthetic text — the distribution twin of
    ``heaps_law_curve``). ln(rank)/ln(count) round to 1e-6 and sum as
    EXACT decimals (the bitext last-ulp lesson: never average raw doubles
    across a shuffle); the rank window runs on the 50-row head of the
    vocabulary after a TakeOrdered prune, not a global sort."""


    d = _cpu_spread(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(words("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    head = counts.orderBy(F.col("c").desc(), F.col("token")).limit(50)
    w = Window.orderBy(F.col("c").desc(), F.col("token"))
    ranked = head.select(
        F.round(F.log(F.row_number().over(w).cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("lx"),
        F.round(F.log(F.col("c").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("ly"),
    )
    m = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
    )
    dd = lambda c: F.col(c).cast("string").cast("double")
    slope = (F.col("n") * dd("sxy") - dd("sx") * dd("sy")) / (
        F.col("n") * dd("sxx") - dd("sx") * dd("sx")
    )
    return m.select("n", F.round(slope, 6).alias("zipf_exponent"))


@register(
    "session_path_topk",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_num
      FROM flagged
    ),
    paths AS (
      SELECT string_agg(event_type, '>' ORDER BY ts, event_id) AS path3
      FROM (
        SELECT user_id, session_num, ts, event_id, event_type,
               row_number() OVER (PARTITION BY user_id, session_num
                                  ORDER BY ts, event_id) AS rn
        FROM numbered
      ) t WHERE rn <= 3
      GROUP BY user_id, session_num
      HAVING count(*) = 3
    )
    SELECT path3, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path3
    ORDER BY n_sessions DESC, path3 LIMIT 15
    """,
)
def q_session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top session-opening paths: the 15 most common first-three-event
    sequences across 30-minute sessions (the UX-flow mining view;
    sessions shorter than 3 events are excluded so every path is
    comparable). Everything rides ONE user-keyed shuffle — session
    numbering, ranking and path assembly are windows over the same
    partition — then a path-count aggregation and TakeOrderedAndProject;
    ties on the path string."""

    e = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_sess = F.when(
        F.lag("ts").over(wu).isNull()
        | (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wu))
            >= 30 * 60 * 1_000_000
        ),
        1,
    ).otherwise(0)
    numbered = e.withColumn(
        "session_num",
        F.sum(new_sess).over(
            wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ws = Window.partitionBy("user_id", "session_num").orderBy("ts", "event_id")
    paths = (
        numbered.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= 3)
        .groupBy("user_id", "session_num")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda s: s.event_type,
                ),
                ">",
            ).alias("path3"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("n") == 3)
    )
    return (
        paths.groupBy("path3")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path3"))
        .limit(15)
    )


@register(
    "revenue_gini_by_nation",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_nationkey AS nationkey, c.c_custkey,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS rev
      FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT nationkey, rev,
             row_number() OVER (PARTITION BY nationkey
                                ORDER BY rev, c_custkey) AS i,
             count(*) OVER (PARTITION BY nationkey) AS n
      FROM per_cust
    )
    SELECT nationkey, CAST(max(n) AS BIGINT) AS n_customers,
           -- nullif: a zero-total-revenue nation has no defined Gini
           round((2.0 * CAST(CAST(SUM(i * rev) AS VARCHAR) AS DOUBLE)
                  / (max(n) * nullif(CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE), 0)))
                 - (CAST(max(n) AS DOUBLE) + 1) / max(n), 6) AS gini
    FROM ranked GROUP BY nationkey
    """,
)
def q_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per nation as a Gini coefficient — the
    inequality statistic behind "whales vs long tail" risk views,
    computed by the rank formula G = 2·Σ(i·rev_i)/(n·Σrev) − (n+1)/n over
    revenue-sorted customers. Ranks are per-nation windows (bounded
    groups); Σ(i·rev) multiplies exact decimals by integer ranks so the
    only doubles are the two final divisions (HHI's distribution-shaped
    sibling — ``supplier_hhi_by_type`` ignores the tail, Gini measures
    it)."""

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nationkey"), F.col("c_custkey")
        )
        .agg(F.sum(dec("o_totalprice")).alias("rev"))
    )
    w = Window.partitionBy("nationkey").orderBy("rev", "c_custkey")
    wn = Window.partitionBy("nationkey")
    ranked = per_cust.select(
        "nationkey",
        "rev",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return ranked.groupBy("nationkey").agg(
        F.max("n").cast("long").alias("n_customers"),
        F.round(
            (
                F.lit(2.0)
                * F.sum(F.col("i") * F.col("rev")).cast("string").cast("double")
                / (
                    F.max("n")
                    # nullif: a zero-total-revenue nation has no defined
                    # Gini (ANSI would make the division a runtime error)
                    * F.nullif(
                        F.sum("rev").cast("string").cast("double"), F.lit(0.0)
                    )
                )
            )
            - (F.max("n").cast("double") + 1) / F.max("n"),
            6,
        ).alias("gini"),
    )


@register(
    "new_vs_returning_revenue",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey, min(o_orderdate) AS first_order FROM orders GROUP BY 1
    )
    SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
           CAST(CAST(SUM(CASE WHEN date_trunc('month', f.first_order)
                                   = date_trunc('month', o.o_orderdate)
                              THEN CAST(o.o_totalprice AS DECIMAL(18,4))
                              ELSE CAST(0 AS DECIMAL(18,4)) END)
                AS VARCHAR) AS DOUBLE) AS new_revenue,
           CAST(CAST(SUM(CASE WHEN date_trunc('month', f.first_order)
                                   <> date_trunc('month', o.o_orderdate)
                              THEN CAST(o.o_totalprice AS DECIMAL(18,4))
                              ELSE CAST(0 AS DECIMAL(18,4)) END)
                AS VARCHAR) AS DOUBLE) AS returning_revenue,
           CAST(count(DISTINCT CASE WHEN date_trunc('month', f.first_order)
                                         = date_trunc('month', o.o_orderdate)
                                    THEN o.o_custkey END) AS BIGINT)
             AS new_customers
    FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    GROUP BY 1
    """,
)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue split between customers in their FIRST month and
    returning ones — the growth-accounting view behind every acquisition
    dashboard. The first-order date is a window over the SAME orders
    stream (no second scan, no self-join): one custkey shuffle carries
    min(o_orderdate), then the month rollup conditions on it;
    decimal-exact revenue. NULL-custkey orders are excluded — they cannot
    be attributed to a new or returning customer (the oracle's equi-join
    on custkey drops them; the window formulation would happily group
    them as one phantom customer)."""

    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull()
    )
    w = Window.partitionBy("o_custkey")
    month = F.date_trunc("month", "o_orderdate")
    first_m = F.date_trunc("month", F.min("o_orderdate").over(w))
    zero = F.lit(0).cast("decimal(18,4)")
    flagged = o.select(
        F.to_date(month).alias("month"),
        "o_custkey",
        (first_m == month).alias("is_new"),
        dec("o_totalprice").alias("rev"),
    )
    return flagged.groupBy("month").agg(
        F.sum(F.when(F.col("is_new"), F.col("rev")).otherwise(zero))
        .cast("string")
        .cast("double")
        .alias("new_revenue"),
        F.sum(F.when(~F.col("is_new"), F.col("rev")).otherwise(zero))
        .cast("string")
        .cast("double")
        .alias("returning_revenue"),
        F.countDistinct(F.when(F.col("is_new"), F.col("o_custkey")))
        .cast("long")
        .alias("new_customers"),
    )


@register(
    "doc_ngram_novelty",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, unnest({_DUCK_NGRAMS2}) AS gram FROM documents
    ),
    per_doc_gram AS (SELECT DISTINCT doc_id, gram FROM g),
    first_seen AS (SELECT gram, min(doc_id) AS fd FROM per_doc_gram GROUP BY gram),
    scored AS (
      SELECT p.doc_id,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN f.fd = p.doc_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel
      FROM per_doc_gram p JOIN first_seen f ON p.gram = f.gram
      GROUP BY p.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(s.n_novel, 0) AS BIGINT) AS n_novel,
           round(CAST(s.n_novel AS DOUBLE) / s.n_grams, 6) AS novelty
    FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    """,
)
def q_doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    bigrams NOT seen in any earlier doc (ingestion order = doc_id) — the
    marginal-information score that ranks what new data actually adds
    beyond the corpus so far (novelty ~0 = the doc is recombination; the
    dedup family catches copies, this catches saturation). One
    first-seen aggregation over the distinct (doc, gram) stream and a
    vocabulary-sized join back; empty docs keep NULL novelty."""

    d = _cpu_spread(spark, sf_dir, "documents")
    pdg = (
        d.select("doc_id", F.explode(word_ngrams(words("text"), 2)).alias("gram"))
        .distinct()
        .localCheckpoint(eager=True)  # first-seen + scoring reuse it
    )
    first_seen = pdg.groupBy("gram").agg(F.min("doc_id").alias("fd"))
    scored = (
        pdg.join(first_seen, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("fd") == F.col("doc_id"), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return (
        d.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.round(
                F.col("n_novel").cast("double") / F.col("n_grams"), 6
            ).alias("novelty"),
        )
    )


@register(
    "supplier_delivery_reliability",
    oracle="""
    SELECT l_suppkey AS s_suppkey,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_on_time,
           round(CAST(SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate)
                                    <= 30 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS on_time_rate,
           round(CAST(SUM(date_diff('day', o_orderdate, l_shipdate))
                      AS DOUBLE) / count(*), 6) AS mean_latency_days
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY l_suppkey
    """,
)
def q_supplier_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier delivery-reliability scorecard: on-time (≤30 days
    order→ship) rate and mean latency per supplier — the vendor-SLA
    rollup. The latency sum stays an exact BIGINT day count until the
    single division; one fact-fact join (orderkey) + one supplier-keyed
    aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lat = F.datediff("l_shipdate", "o_orderdate")
    on_time = F.when(lat <= 30, 1).otherwise(0)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(on_time).cast("long").alias("n_on_time"),
            F.round(
                F.sum(on_time).cast("double") / F.count(F.lit(1)), 6
            ).alias("on_time_rate"),
            F.round(F.sum(lat).cast("double") / F.count(F.lit(1)), 6).alias(
                "mean_latency_days"
            ),
        )
    )


@register("doc_compression_screen")
def q_doc_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib-compressibility quality screen (RefinedWeb/MassiveText
    family): per-doc compressed/raw byte ratio — repetitive boilerplate
    compresses far below natural prose even when its token statistics
    look normal, making this the cheap catch-all the statistical screens
    (``gopher_quality_rules``, ``repetition_signals``) miss. Declared
    no-oracle (no SQL zlib); determinism and the
    repetitive-vs-natural-ordering property are unit-tested
    (``tests/test_functions.py``). Flags docs below 0.35."""

    d = load_table(spark, sf_dir, "documents")
    out = compression_ratio(d)
    return out.withColumn(
        "too_compressible",
        F.coalesce(F.col("compression_ratio") < 0.35, F.lit(False)),
    )


@register(
    "source_quality_scorecard",
    oracle="""
    WITH base AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             -- sentinel: count(DISTINCT …) skips NULL digests, so NULL-text
             -- docs would inflate the dup count instead of forming a group
             CAST(count(*) - count(DISTINCT coalesce(md5(lower(trim(text))),
                                                     '__NULL__'))
                  AS BIGINT) AS n_exact_dups,
             round(CAST(SUM(n_chars) AS DOUBLE) / count(*), 6) AS mean_chars
      FROM documents GROUP BY source
    ),
    langs AS (
      SELECT source, lang, count(*) AS c,
             row_number() OVER (PARTITION BY source
                                ORDER BY count(*) DESC, lang NULLS LAST) AS rn,
             SUM(count(*)) OVER (PARTITION BY source) AS tot
      FROM documents GROUP BY source, lang
    )
    SELECT b.source, b.n_docs,
           round(CAST(b.n_exact_dups AS DOUBLE) / b.n_docs, 6) AS dup_rate,
           b.mean_chars,
           l.lang AS majority_lang,
           round(CAST(l.c AS DOUBLE) / l.tot, 6) AS majority_lang_share
    FROM base b JOIN langs l ON b.source = l.source AND l.rn = 1
    """,
)
def q_source_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus scorecard — the one-row-per-feed triage view an
    ingest operator reads first: volume, exact-duplicate rate, mean
    length, and the majority language with its purity share (each signal
    has a deeper dedicated query — `dup_rate_by_source`,
    `lang_purity_by_source`, `corpus_stats` — this is their composed
    dashboard). Two source-keyed aggregations over one scan; the
    majority-language pick is rank-1 of a per-source window with
    deterministic ties."""

    d = load_table(spark, sf_dir, "documents")
    base = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (
            F.count(F.lit(1))
            - F.countDistinct(
                F.coalesce(
                    F.md5(F.lower(F.trim(F.col("text")))), F.lit("__NULL__")
                )
            )
        )
        .cast("long")
        .alias("n_exact_dups"),
        F.round(
            F.sum("n_chars").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_chars"),
    )
    langs = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    # NULLS LAST to match DuckDB's ASC default — Spark sorts NULL FIRST, so
    # a tie between a NULL lang group and a real lang would flip engines
    wl = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("lang").asc_nulls_last()
    )
    wt = Window.partitionBy("source")
    top_lang = (
        langs.withColumn("rn", F.row_number().over(wl))
        .withColumn("tot", F.sum("c").over(wt))
        .filter(F.col("rn") == 1)
        .select(
            "source",
            F.col("lang").alias("majority_lang"),
            F.round(F.col("c").cast("double") / F.col("tot"), 6).alias(
                "majority_lang_share"
            ),
        )
    )
    return base.join(top_lang, "source").select(
        "source",
        "n_docs",
        F.round(
            F.col("n_exact_dups").cast("double") / F.col("n_docs"), 6
        ).alias("dup_rate"),
        "mean_chars",
        "majority_lang",
        "majority_lang_share",
    )


@register("bpe_train_encode")
def q_bpe_train_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training + encode (Sennrich et al. 2016;
    see ``operators/bpe.py``): learn 10 merges on the corpus's
    frequency-weighted distinct-word dictionary (one full-corpus pass,
    then dictionary-sized rounds; argmax ties broken lexicographically so
    training reproduces on any cluster), then encode every document with
    the learned merges as zero-shuffle array folds. Returns per-doc
    compression stats. Declared no-oracle — the merge list is an
    iterative artifact SQL can't replay — but trainer and encoder are
    proven against an independent Python twin incl. overlap cases and
    repartition-determinism (``tests/test_bpe.py``)."""

    d = load_table(spark, sf_dir, "documents")
    merges = train_bpe(d, "text", n_merges=10)
    # encode the DISTINCT-word dictionary, not the corpus: the merge fold
    # runs |vocab| times instead of |corpus tokens| times, and the nested
    # lambda expression compiles into one tiny stage instead of the full
    # corpus scan (measured ~3s of codegen at sf0.1); per-doc stats then
    # need only the word→token-length map broadcast back onto the stream
    wl = (
        d.select(F.explode(words("text")).alias("word"))
        .distinct()
        .select(
            "word",
            F.size(_encode_word(F.col("word"), merges)).alias("n_tok"),
        )
    )
    per_doc = (
        d.select("doc_id", F.explode(words("text")).alias("word"))
        .join(F.broadcast(wl), "word")
        .groupBy("doc_id")
        .agg(F.sum("n_tok").cast("long").alias("n_bpe_tokens"))
    )
    return (
        d.select("doc_id", F.length("text").cast("long").alias("n_chars"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce("n_bpe_tokens", F.lit(0)).cast("long").alias("n_bpe_tokens"),
            F.round(
                F.col("n_chars").cast("double")
                / F.greatest(F.coalesce("n_bpe_tokens", F.lit(0)), F.lit(1)).cast(
                    "double"
                ),
                6,
            ).alias("chars_per_token"),
        )
    )


# ---------------------------------------------------------------------------
# Catalog iteration order.
#
# The driver's correctness gate walks ``queries()`` in dict order and records
# rows for the FIRST 50 entries only. ``_DRIVER_WINDOW`` names those 50 —
# the round-11 rotation: slots 1-29 are the queries round 10 rewrote plus
# every query round 11 touched; slots 30-50 refresh the 21 stalest driver
# rows (newest evidence r03). All 50 are oracle-paired. Every other query
# follows in registration order, so a new query never displaces the window
# (pinned by tests/test_plans.py::test_driver_window_holds_rotation_priority).
# ---------------------------------------------------------------------------

_DRIVER_WINDOW = [
    'minhash_signatures', 'minhash_lsh_candidates', 'minhash_estimator_quality',
    'embedding_pairs_ann', 'semantic_dedup_ann', 'bitext_margin_ann',
    'tpch_q2_min_cost_supplier', 'tpch_q20_part_share_suppliers', 'exact_dedup_docs',
    'llm_corpus_pipeline', 'basket_lift_rules', 'dsir_importance_resample',
    'media_phash_dedup', 'bitext_margin_mining', 'embedding_quantize_int8',
    'udtf_unit_price_explode', 'ngram_jaccard_pairs', 'shingle_containment_pairs',
    'neardup_dedup_docs', 'neardup_keep_best_docs', 'contrastive_training_pairs',
    'bloom_decontaminate', 'streaming_windowed_counts', 'streaming_session_counts',
    'neardup_clusters', 'neardup_clusters_star', 'embedding_pairs_blocked',
    'semantic_dedup_embeddings', 'ann_recall_report', 'ann_ivf_topk',
    'ann_lsh_topk', 'array_ops_battery', 'content_checksums',
    'corpus_stats', 'cumulative_new_users', 'data_quality_report',
    'dau_wau_stickiness', 'decontaminate_ngram_overlap', 'doc_embeddings',
    'doc_template_vi', 'equidepth_histogram', 'event_transition_matrix',
    'funnel_conversion', 'fuzzy_name_pairs', 'heavy_hitter_tokens',
    'intra_doc_span_dedup', 'label_centroids', 'longest_user_streaks',
    'media_decode', 'simhash_hamming_pairs',
]


def _apply_catalog_order() -> None:
    global SPARK_QUERIES, ORACLE_SQL
    order = _DRIVER_WINDOW + [n for n in SPARK_QUERIES if n not in _DRIVER_WINDOW]
    assert set(order) == set(SPARK_QUERIES)
    SPARK_QUERIES = {n: SPARK_QUERIES[n] for n in order}
    ORACLE_SQL = {n: ORACLE_SQL[n] for n in order if n in ORACLE_SQL}


_apply_catalog_order()
