"""Distributed k-means trainer (operators/ml.py): Lloyd monotonicity,
partition-invariance, and degenerate-k behavior."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from bytesme_etl_batch_pipeline_spark.operators.ml import kmeans

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_inertia_non_increasing_and_converges(spark, emb):
    assigned, centroids, history = kmeans(emb, k=4, max_iter=15)
    assert len(centroids) == 4 and all(len(c) == 64 for c in centroids)
    assert all(
        a >= b - 1e-9 for a, b in zip(history, history[1:])
    ), f"inertia increased: {history}"
    # every input row is assigned to a valid cluster
    n = emb.count()
    got = assigned.groupBy("cluster").count().collect()
    assert sum(r["count"] for r in got) == n
    assert all(0 <= r["cluster"] < 4 for r in got)
    assert all(math.isfinite(h) and h >= 0 for h in history)


def test_partition_invariance(spark, emb):
    _, c1, h1 = kmeans(emb, k=3, max_iter=5)
    _, c2, h2 = kmeans(emb.repartition(7), k=3, max_iter=5)
    assert c1 == c2  # decimal-exact means → bit-identical centroids
    assert h1 == h2


def test_k1_gives_global_centroid(spark, emb):
    _, centroids, history = kmeans(emb, k=1, max_iter=3)
    # k=1: the centroid is the global decimal-exact mean; one round moves the
    # seed onto it and the next confirms convergence
    ex = emb.select(F.posexplode("embedding").alias("dim", "x"))
    want = [
        r["m"]
        for r in ex.groupBy("dim")
        .agg(
            (
                F.sum(F.col("x").cast("double").cast("decimal(27,12)"))
                / F.count(F.lit(1))
            )
            .cast("double")
            .alias("m")
        )
        .orderBy("dim")
        .collect()
    ]
    assert centroids[0] == pytest.approx(want, abs=0.0)
    assert len(history) <= 3


def test_k_exceeding_rows_raises(spark, emb):
    with pytest.raises(ValueError):
        kmeans(emb.limit(2), k=5, max_iter=1)


def test_exact_trained_ivf_recall(spark, emb):
    """End-to-end: exact-engine k-means centroids feed the IVF index; with
    half the cells probed, recall@10 vs brute force must be substantial,
    and probing ALL cells must recover brute force exactly."""
    from bytesme_etl_batch_pipeline_spark.operators.similarity import (
        topk_brute_force,
        topk_ivf,
        train_ivf_centroids,
    )

    cents = train_ivf_centroids(emb, k=4)
    assert len(cents) == 4
    query = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))

    truth = [
        r["vec_id"] for r in topk_brute_force(emb, query, k=10).collect()
    ]
    got_all = [
        r["vec_id"]
        for r in topk_ivf(emb, query, cents, k=10, n_probe=4).collect()
    ]
    assert got_all == truth  # all cells probed == exact

    got_half = {
        r["vec_id"]
        for r in topk_ivf(emb, query, cents, k=10, n_probe=2).collect()
    }
    recall = len(got_half & set(truth)) / len(truth)
    assert recall >= 0.5, f"recall@10 with n_probe=2: {recall}"


def test_kmeans_excludes_null_vectors_and_elements(spark):
    """NULL vectors / NULL elements are excluded from training (the
    standard trainer contract): they previously crashed seed extraction
    when among the k lowest ids, and a NULL element biased its
    (cluster, dim) mean toward zero (sum skips NULLs, count does not)."""
    from bytesme_etl_batch_pipeline_spark.operators.ml import kmeans

    rows = [
        (0, None),            # NULL vector among the lowest ids
        (1, [1.0, None]),     # NULL element
        (2, [0.0, 0.0]),
        (3, [0.2, 0.0]),
        (4, [10.0, 10.0]),
        (5, [10.2, 10.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, cents, hist = kmeans(df, k=2, max_iter=5)
    assert assigned.count() == 4  # the two NULL-bearing rows are excluded
    cents = sorted([round(x, 6) for x in c] for c in cents)
    assert cents == [[0.1, 0.0], [10.1, 10.0]]


def test_kmeans_excludes_ragged_vectors(spark):
    """Wrong-length vectors are corrupt like NULL-element ones: ungated,
    their all-NULL distances struct-min into an arbitrary cluster, their
    shorter/longer explode corrupts the per-(cluster, dim) means, and the
    centroid update crashes on a NULL cluster id."""
    from bytesme_etl_batch_pipeline_spark.operators.ml import kmeans

    rows = [(i, [float(i), float(i)]) for i in range(6)]
    rows += [(90, [1.0]), (91, [1.0, 2.0, 3.0]), (92, None), (93, [1.0, None])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, cents, hist = kmeans(df, k=2, max_iter=3)
    got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    assert set(got) == set(range(6))  # corrupt/ragged rows excluded
    assert all(c is not None for c in got.values())
    assert len(cents) == 2 and all(len(c) == 2 for c in cents)
