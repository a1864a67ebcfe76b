"""Nearest-centroid kernel and Lloyd trainer (operators/ml.py): bit-exact
distances against a sequential fold, Lloyd monotonicity, partition
invariance, degenerate k and the corrupt-vector contract."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from bytesme_etl_batch_pipeline_spark.functions.arrays import lit_doubles
from bytesme_etl_batch_pipeline_spark.operators.ml import (
    as_matrix,
    collect_sample,
    lloyd,
    nearest_centroid,
    nearest_centroid_udf,
)
from bytesme_etl_batch_pipeline_spark.operators.similarity import (
    ivf_assign,
    train_ivf_centroids,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _fold_argmin(v, centroids):
    """Pure-Python reference: squared L2 folded over the dimensions in
    ascending order, strict < so ties keep the lower index; (None, None)
    for a corrupt vector."""
    dim = len(centroids[0])
    if v is None or len(v) != dim or any(x is None or math.isnan(x) for x in v):
        return None, None
    best = None
    for i, c in enumerate(centroids):
        acc = 0.0
        for a, b in zip(v, c):
            acc = acc + (float(a) - b) * (float(a) - b)
        if best is None or acc < best[1]:
            best = (i, acc)
    return best


def test_kernel_matches_sequential_fold_bit_for_bit():
    rng = np.random.default_rng(13)
    dim, k = 6, 9
    C = rng.normal(size=(k, dim)) + 3.0  # every centroid farther than 1 from 0
    C[5] = C[2]  # duplicate centroid: every row ties on 2 and 5
    rows = [list(rng.normal(size=dim)) for _ in range(200)]
    # planted exact ties between distinct centroids: the origin against
    # two unit vectors, the midpoint of two centroids
    units = [[1.0 if j == i else 0.0 for j in range(dim)] for i in range(3)]
    tie_books = np.vstack([C, units])
    rows += [[0.0] * dim, list((tie_books[0] + tie_books[1]) / 2)]
    rows += [[float("nan")] + [0.0] * (dim - 1), None, [1.0, None] + [0.0] * (dim - 2)]
    rows += [[0.5] * (dim - 1), [0.5] * (dim + 1)]
    cell, d2 = nearest_centroid(as_matrix(rows, dim), tie_books)
    want = [_fold_argmin(v, tie_books.tolist()) for v in rows]
    got = [
        (None, None) if c < 0 else (int(c), float(d)) for c, d in zip(cell, d2)
    ]
    assert got == want  # exact float equality, not approx
    assert got[-7][0] == k  # origin: lowest of the tied unit vectors
    assert all(g == (None, None) for g in got[-5:])
    assert want.count((None, None)) == 5


def test_udf_matches_expression_fold_bit_for_bit(spark, emb):
    """The Arrow UDF's (cell, d²) equals the Spark expression fold
    (``F.aggregate(F.zip_with(...))``, struct-min ties on the lower index)
    on every real embedding."""
    from bytesme_etl_batch_pipeline_spark.operators.similarity import _hyperplane

    cents = [_hyperplane(64, p, seed=99) for p in range(16)]
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    pairs = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(v, lit_doubles(c), lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d"),
                F.lit(i).alias("i"),
            )
            for i, c in enumerate(cents)
        ]
    )
    nearest = nearest_centroid_udf(cents)
    rows = emb.select(
        "vec_id",
        F.array_min(pairs).alias("ref"),
        nearest(F.col("embedding")).alias("udf"),
    ).collect()
    assert len(rows) > 0
    for r in rows:
        assert (r["udf"]["cell"], r["udf"]["d2"]) == (r["ref"]["i"], r["ref"]["d"])


def _inertia(X, centroids):
    return float(nearest_centroid(X, np.asarray(centroids))[1].sum())


def test_inertia_non_increasing_and_converges(spark, emb):
    X = collect_sample(emb, "embedding", "vec_id")
    history = [_inertia(X, lloyd(X, 4, rounds)) for rounds in range(16)]
    assert all(
        a >= b - 1e-9 for a, b in zip(history, history[1:])
    ), f"inertia increased: {history}"
    centroids = lloyd(X, 4, 15)
    assert len(centroids) == 4 and all(len(c) == 64 for c in centroids)
    cells, _ = nearest_centroid(X, np.asarray(centroids))
    assert len(cells) == emb.count() and set(cells) <= {0, 1, 2, 3}
    assert all(math.isfinite(h) and h >= 0 for h in history)


def test_partition_invariance(spark, emb):
    assert train_ivf_centroids(emb, k=3) == train_ivf_centroids(emb.repartition(7), k=3)


def test_k1_gives_global_centroid(spark, emb):
    # k=1: one round moves the seed onto the global mean
    X = collect_sample(emb, "embedding", "vec_id")
    centroids = lloyd(X, 1, 3)
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
    assert centroids[0] == pytest.approx(want, abs=1e-12)


def test_k_exceeding_rows_raises(spark, emb):
    with pytest.raises(ValueError):
        train_ivf_centroids(emb.limit(2), k=5)


def test_exact_trained_ivf_recall(spark, emb):
    """End-to-end: Lloyd-trained centroids feed the IVF index; with half
    the cells probed, recall@10 vs brute force must be substantial, and
    probing ALL cells must recover brute force exactly."""
    from bytesme_etl_batch_pipeline_spark.operators.similarity import (
        topk_brute_force,
        topk_ivf,
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


def _cells(df, cents):
    return {r["vec_id"]: r["cell"] for r in ivf_assign(df, cents).collect()}


def test_kmeans_excludes_null_vectors_and_elements(spark):
    """NULL vectors and NULL / NaN elements are kept out of k-means: the
    trainer refuses them with a ValueError (like ``pq.train_pq``) instead of
    training on a silently shrunken sample, and assignment gives them no
    cell — a NULL element arrives in the Arrow batch as NaN, whose all-NaN
    distance row would otherwise argmin to cell 0."""
    rows = [
        (0, None),            # NULL vector among the lowest ids
        (1, [1.0, None]),     # NULL element
        (2, [0.0, 0.0]),
        (3, [0.2, 0.0]),
        (4, [10.0, 10.0]),
        (5, [10.2, 10.0]),
        (6, [float("nan"), 1.0]),  # NaN element
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError):
        train_ivf_centroids(df, k=2)
    for bad in (0, 1, 6):
        with pytest.raises(ValueError):
            train_ivf_centroids(df.filter(F.col("vec_id").isin(bad, 2, 3, 4, 5)), k=2)
    cents = train_ivf_centroids(df.filter(F.col("vec_id").between(2, 5)), k=2)
    assert sorted([round(x, 6) for x in c] for c in cents) == [[0.1, 0.0], [10.1, 10.0]]
    cells = _cells(df, cents)
    assert {i for i, c in cells.items() if c is not None} == {2, 3, 4, 5}
    assert cells[2] == cells[3] != cells[4] == cells[5]


def test_kmeans_excludes_ragged_vectors(spark):
    """Wrong-length vectors are corrupt like NULL-element ones: the trainer
    refuses them with a ValueError, and assignment gives them no cell
    rather than folding a shorter or longer vector into a distance."""
    clean = [(i, [float(i), float(i)]) for i in range(6)]
    corrupt = [(90, [1.0]), (91, [1.0, 2.0, 3.0]), (92, None), (93, [1.0, None])]
    schema = "vec_id long, embedding array<double>"
    for bad in corrupt:
        with pytest.raises(ValueError):
            train_ivf_centroids(spark.createDataFrame(clean + [bad], schema), k=2)
    cents = train_ivf_centroids(spark.createDataFrame(clean, schema), k=2)
    assert len(cents) == 2 and all(len(c) == 2 for c in cents)
    cells = _cells(spark.createDataFrame(clean + corrupt, schema), cents)
    assert set(cells) == set(range(6)) | {90, 91, 92, 93}
    assert all(cells[i] in (0, 1) for i in range(6))
    assert all(cells[i] is None for i in (90, 91, 92, 93))
