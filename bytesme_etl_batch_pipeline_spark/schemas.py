"""Explicit StructType schemas (SURVEY §1; reference DDL is source of truth).

The reference infers CSV dtypes and patches them with defensive casts
(``scripts/pipeline.py:48``, ``scripts/transform/seperate_tables.py:69-74``).
Here every table has a declared schema; inference is the exception.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Wide scraped product table — reference raw CSV header
# (``data/raw/bingsu_products.csv:1``) + ProductInfo dataclass types
# (``scripts/extract/products_scraping.py:25-44``).
RAW_PRODUCTS = StructType(
    [
        StructField("product_name", StringType(), False),
        StructField("product_url", StringType(), True),
        StructField("product_brand", StringType(), True),
        StructField("original_category", StringType(), True),
        StructField("product_image", StringType(), True),  # pipe-delimited urls
        StructField("product_image_type", IntegerType(), True),
        StructField("product_image_name", StringType(), True),  # pipe-delimited
        StructField("product_code", StringType(), True),
        StructField("product_description", StringType(), True),
        StructField("product_unit_price", StringType(), True),  # int | 0 | quoted-JSON
        StructField("product_currency", StringType(), True),
        StructField("product_discount_percentage", DoubleType(), True),
        StructField("product_total_orders", IntegerType(), True),
        StructField("product_stock_quantity", IntegerType(), True),
        StructField("product_total_ratings", IntegerType(), True),
        StructField("product_overall_stars", DoubleType(), True),
    ]
)

# Normalized outputs of the snowflake split (reference DDL
# ``database/bytesme_psql_schema.sql:7-42``).
CATEGORIES = StructType(
    [
        StructField("category_id", IntegerType(), False),
        StructField("category_name", StringType(), False),
        StructField("category_background_url", StringType(), True),
        StructField("category_type", IntegerType(), True),
        StructField("category_description", StringType(), True),
        StructField("created_at", TimestampType(), True),
        StructField("updated_at", TimestampType(), True),
    ]
)

PRODUCTS = StructType(
    [
        StructField("product_id", LongType(), False),
        StructField("category_id", IntegerType(), True),
        StructField("product_code", StringType(), True),
        StructField("product_name", StringType(), False),
        StructField("product_description", StringType(), True),
        StructField("product_band", StringType(), True),  # sic — reference CSV name
        StructField("product_discount_percentage", DoubleType(), True),
        StructField("product_unit_price", StringType(), True),  # JSON string
        StructField("product_total_orders", IntegerType(), True),
        StructField("product_total_ratings", IntegerType(), True),
        StructField("product_overall_stars", DoubleType(), True),
        StructField("product_stock_quantity", IntegerType(), True),
        StructField("created_at", TimestampType(), True),
        StructField("updated_at", TimestampType(), True),
    ]
)

PRODUCT_IMAGES = StructType(
    [
        StructField("product_image_url_id", LongType(), False),
        StructField("product_id", LongType(), True),
        StructField("product_image_url", StringType(), True),
        StructField("product_image_name", StringType(), True),
        StructField("product_image_type", IntegerType(), True),
        StructField("created_at", TimestampType(), True),
        StructField("updated_at", TimestampType(), True),
    ]
)

# Nested size/price struct hiding inside product_unit_price
# (``scripts/transform/seperate_tables.py:41-44``).
UNIT_PRICE = StructType(
    [
        StructField("product_sizes", StringType(), True),
        StructField("product_prices", StringType(), True),
    ]
)

# Document + embedding shapes (``generate_embeddings.py:235-240,301-317``).
DOCUMENTS = StructType(
    [
        StructField("product_code", StringType(), True),
        StructField("document", StringType(), False),
        StructField("cmetadata", MapType(StringType(), StringType()), True),
    ]
)

EMBEDDINGS = StructType(
    [
        StructField("id", StringType(), False),
        StructField("collection_id", StringType(), True),
        StructField("embedding", ArrayType(FloatType()), False),
        StructField("document", StringType(), True),
        StructField("cmetadata", MapType(StringType(), StringType()), True),
    ]
)

# Multimodal column convention: payload is opaque binary + typed metadata
# (engine extension — SURVEY §0 "LLM-data-pipeline operators").
MEDIA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", StringType(), True),  # BinaryType in real data
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)


def _nullable(*fields: tuple[str, object]) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


# Testdata tables (``{sf_dir}/{table}.parquet``, TESTDATA.md). Every
# field is nullable, as Parquet schema inference yields, so a declared scan
# has the very schema an inferred one had — without the footer-reading job
# inference runs. ``events.ts`` is Parquet TIMESTAMP(MICROS) with
# isAdjustedToUTC=false, read as a session-TZ timestamp (UTC-pinned by
# ``sources.tables.ensure_session_confs``). ``tests/test_testdata_schema.py``
# checks this registry against every testdata scale on both engines.
TESTDATA_TABLES: dict[str, StructType] = {
    "region": _nullable(("r_regionkey", IntegerType()), ("r_name", StringType())),
    "nation": _nullable(
        ("n_nationkey", IntegerType()),
        ("n_name", StringType()),
        ("n_regionkey", IntegerType()),
    ),
    "customer": _nullable(
        ("c_custkey", LongType()),
        ("c_name", StringType()),
        ("c_nationkey", IntegerType()),
        ("c_acctbal", DoubleType()),
        ("c_mktsegment", StringType()),
    ),
    "supplier": _nullable(
        ("s_suppkey", LongType()),
        ("s_name", StringType()),
        ("s_nationkey", IntegerType()),
        ("s_acctbal", DoubleType()),
    ),
    "part": _nullable(
        ("p_partkey", LongType()),
        ("p_name", StringType()),
        ("p_brand", StringType()),
        ("p_type", StringType()),
        ("p_size", IntegerType()),
        ("p_retailprice", DoubleType()),
    ),
    "orders": _nullable(
        ("o_orderkey", LongType()),
        ("o_custkey", LongType()),
        ("o_orderstatus", StringType()),
        ("o_totalprice", DoubleType()),
        ("o_orderdate", TimestampType()),
        ("o_orderpriority", StringType()),
    ),
    "lineitem": _nullable(
        ("l_orderkey", LongType()),
        ("l_partkey", LongType()),
        ("l_suppkey", LongType()),
        ("l_linenumber", IntegerType()),
        ("l_quantity", DoubleType()),
        ("l_extendedprice", DoubleType()),
        ("l_discount", DoubleType()),
        ("l_tax", DoubleType()),
        ("l_returnflag", StringType()),
        ("l_linestatus", StringType()),
        ("l_shipdate", TimestampType()),
    ),
    "events": _nullable(
        ("event_id", LongType()),
        ("ts", TimestampType()),
        ("user_id", LongType()),
        ("event_type", StringType()),
        ("value", DoubleType()),
        ("props", StringType()),
    ),
    "documents": _nullable(
        ("doc_id", LongType()),
        ("text", StringType()),
        ("lang", StringType()),
        ("source", StringType()),
        ("n_chars", LongType()),
    ),
    "embeddings": _nullable(
        ("vec_id", LongType()),
        ("embedding", ArrayType(FloatType())),
        ("label", IntegerType()),
    ),
}
