"""Plan construction cost on the ETL path.

Building a DataFrame plan from Python costs one py4j round trip per JVM
call. The reference stages build their constant expressions once per
process and project once per operator, and ``get_spark`` turns off
PySpark's per-call origin capture (six extra round trips for every ``F.*``
call). These tests pin that cost, that the memoized Columns survive a
session restart, and that one projection keeps ``withColumn``'s column
order.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pyspark.errors.utils as pyspark_errors_utils
from pyspark.sql import functions as F

from bytesme_etl_batch_pipeline_spark.operators.enrich import enrich_products
from bytesme_etl_batch_pipeline_spark.operators.normalize import explode_piped_pairs
from bytesme_etl_batch_pipeline_spark.plans.pipeline import STAGES, register_reference_stages
from bytesme_etl_batch_pipeline_spark.schemas import RAW_PRODUCTS
from bytesme_etl_batch_pipeline_spark.session import ORIGIN_CAPTURE_CONF, gateway_round_trips
from bytesme_etl_batch_pipeline_spark.sources.files import read_csv

ROOT = Path(__file__).resolve().parent.parent
LANDING_CSV = str(ROOT / "tests" / "fixtures" / "raw_products_landing.csv")
REFERENCE_STAGES = ["remove_duplicates", "standardize_categories", "generate_mock_data"]
# One warm build of read_csv(with_lineage=True) plus the three reference
# stages took 2,837 round trips with origin capture on and every expression
# built per call, and 125 after (4 cores, pyspark 4.1.2).
MAX_STAGE_BUILD_ROUND_TRIPS = 600


def _build_reference_stages(spark):
    df = read_csv(spark, LANDING_CSV, schema=RAW_PRODUCTS, with_lineage=True)
    for name in REFERENCE_STAGES:
        df = STAGES[name](df)
    return df


def test_get_spark_turns_origin_capture_off(spark):
    assert spark.conf.get(ORIGIN_CAPTURE_CONF) == "false"
    assert pyspark_errors_utils.is_debugging_enabled() is False


def test_reference_stage_build_round_trips(spark):
    register_reference_stages()
    _build_reference_stages(spark)  # first build: class loading, caches
    with gateway_round_trips() as seen:
        _build_reference_stages(spark)
    assert 0 < seen["n"] <= MAX_STAGE_BUILD_ROUND_TRIPS, seen["n"]


def test_one_projection_keeps_withcolumn_order(spark):
    df = spark.createDataFrame(
        [("http://a/1", "Brand", "Cakes", 0, "x|y", "one|", "old")],
        "url string, brand string, category string, price long, "
        "images string, names string, item_url string",
    )
    enriched = enrich_products(df, "url", "brand", "category", "price")
    chained = (
        df.withColumn("product_code", F.lit(None).cast("string"))
        .withColumn("product_discount_percentage", F.lit(0))
        .withColumn("product_total_ratings", F.lit(0))
        .withColumn("product_total_orders", F.lit(0))
        .withColumn("product_overall_stars", F.lit(0.0))
        .withColumn("price", F.lit(0))
    )
    assert enriched.columns == chained.columns
    assert enriched.columns.index("price") == df.columns.index("price")

    # item_url exists (replaced where it stands), item_name is new (appended)
    kids = explode_piped_pairs(df, "images", "names", "url")
    assert kids.columns == df.columns + ["item_name"]
    assert sorted(kids.select("item_url", "item_name").collect()) == [
        ("x", "one"),
        ("y", "http://a/1"),
    ]
    fresh = explode_piped_pairs(df.drop("item_url"), "images", "names", "url")
    assert fresh.columns == df.drop("item_url").columns + ["item_url", "item_name"]


RESTART_SCRIPT = textwrap.dedent(
    """
    import sys
    from pyspark.sql import functions as F
    from bytesme_etl_batch_pipeline_spark.operators.embed import embed_column
    from bytesme_etl_batch_pipeline_spark.operators.normalize import snowflake_split
    from bytesme_etl_batch_pipeline_spark.operators.similarity import topk_brute_force
    from bytesme_etl_batch_pipeline_spark.plans.pipeline import STAGES, register_reference_stages
    from bytesme_etl_batch_pipeline_spark.schemas import RAW_PRODUCTS
    from bytesme_etl_batch_pipeline_spark.session import get_spark
    from bytesme_etl_batch_pipeline_spark.sources.files import read_csv

    register_reference_stages()

    def rows(spark):
        df = read_csv(spark, sys.argv[1], schema=RAW_PRODUCTS, with_lineage=True)
        for name in ("remove_duplicates", "standardize_categories", "generate_mock_data"):
            df = STAGES[name](df)
        split = snowflake_split(
            df, dim_key="category_name", dim_attrs=["product_brand"],
            fact_key="product_url", child_url_col="product_image",
            child_name_col="product_image_name", order_by=["product_url"],
        )
        emb = split.facts.select(
            "fact_id", embed_column(F.col("product_name")).alias("embedding")
        )
        query = spark.range(1).select(embed_column(F.lit("banh kem")).alias("q"))
        top = topk_brute_force(emb, query, k=3, id_col="fact_id")
        return [
            sorted(map(tuple, split.facts.collect()), key=repr),
            sorted(map(tuple, split.children.collect()), key=repr),
            [tuple(r) for r in top.collect()],
        ]

    spark = get_spark("restart-a", shuffle_partitions=4)
    first = rows(spark)
    spark.stop()
    spark = get_spark("restart-b", shuffle_partitions=4)
    second = rows(spark)
    spark.stop()
    assert first[0] and first[1] and len(first[2]) == 3, first
    assert first == second, (first, second)
    print("RESTART-OK", len(first[0]), len(first[1]))
    """
)


def test_memoized_columns_survive_session_restart(tmp_path):
    """Cached Columns and UDFs hold JVM objects made under the first
    session; a new ``get_spark`` session after ``spark.stop()`` in the same
    process must build and run the same plans to the same rows."""
    script = tmp_path / "restart.py"
    script.write_text(RESTART_SCRIPT)
    env = dict(os.environ, PYTHONPATH=str(ROOT), SPARK_GRAFT_CPUS="2")
    proc = subprocess.run(
        [sys.executable, str(script), LANDING_CSV],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "RESTART-OK" in proc.stdout
