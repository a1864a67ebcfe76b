"""Product quantization (operators/pq.py): determinism, compression
contract, and ADC recall against brute force."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bytesme_etl_batch_pipeline_spark.operators.pq import (
    pq_adc_topk,
    pq_encode,
    train_pq,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def books(emb):
    return train_pq(emb, m=8, k=16, max_iter=4)


def test_codebook_shape_and_determinism(emb, books):
    assert len(books) == 8
    assert all(len(b) == 16 for b in books)
    assert all(len(c) == 8 for b in books for c in b)  # 64 / 8 subspaces
    again = train_pq(emb.repartition(5), m=8, k=16, max_iter=4)
    assert books == again  # decimal-exact k-means → identical codebooks


def test_encode_is_compact_and_deterministic(emb, books):
    enc = pq_encode(emb, books)
    rows = enc.select("vec_id", "codes").collect()
    assert all(len(r["codes"]) == 8 for r in rows)
    assert all(0 <= c < 16 for r in rows for c in r["codes"])
    enc2 = {
        r["vec_id"]: r["codes"]
        for r in pq_encode(emb.repartition(3), books).select(
            "vec_id", "codes"
        ).collect()
    }
    assert {r["vec_id"]: r["codes"] for r in rows} == enc2


def test_adc_recall_vs_brute_force(spark, emb, books):
    from bytesme_etl_batch_pipeline_spark.operators.similarity import (
        topk_brute_force,
    )

    qrow = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q")
    )
    truth = {
        r["vec_id"]
        for r in topk_brute_force(emb, query, k=10, metric="l2").collect()
    }
    enc = pq_encode(emb, books)
    # ADC is a CANDIDATE stage: on these near-random synthetic vectors
    # (the hardest case for PQ — pairwise distances concentrate) recall@10
    # must grow with the candidate budget; 10% / 20% of the corpus are the
    # budgets a production index would re-rank
    for cand_k, floor in ((50, 0.6), (100, 0.8)):
        got = {
            r["vec_id"]
            for r in pq_adc_topk(enc, list(qrow), books, k=cand_k).collect()
        }
        recall = len(got & truth) / len(truth)
        assert recall >= floor, f"ADC recall@10 in top{cand_k}: {recall}"
    # the query's own vector must be the nearest ADC hit (dist to own codes
    # is minimal by construction of the lookup table)
    top1 = pq_adc_topk(enc, list(qrow), books, k=1).first()
    assert top1["vec_id"] == 0


def test_pq_search_reranks_exactly(spark, emb, books):
    """Two-stage search: whatever true neighbors survive the candidate
    stage come back in EXACT brute-force order."""
    from bytesme_etl_batch_pipeline_spark.operators.pq import pq_search
    from bytesme_etl_batch_pipeline_spark.operators.similarity import (
        topk_brute_force,
    )

    qrow = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q")
    )
    truth = [
        r["vec_id"]
        for r in topk_brute_force(emb, query, k=10, metric="l2").collect()
    ]
    enc = pq_encode(emb, books)
    got = [
        r["vec_id"]
        for r in pq_search(emb, enc, qrow, books, k=10, candidates=100).collect()
    ]
    surviving = [v for v in truth if v in set(got)]
    # survivors keep exact relative order, and the query itself is rank 1
    assert [v for v in got if v in set(truth)] == surviving
    assert got[0] == 0
    assert len(surviving) >= 8  # matches the >=0.8 candidate recall floor


def test_train_rejects_indivisible_m(emb):
    with pytest.raises(ValueError):
        train_pq(emb, m=7, k=4, max_iter=1)


def test_ivfpq_end_to_end(spark, emb):
    """IVF-PQ: residual encoding, cell-pruned ADC, exact re-rank. With all
    cells probed and a generous candidate budget, recall@10 must beat the
    flat-PQ floor (residual quantization is strictly finer), and the query
    vector itself must come back first."""
    from bytesme_etl_batch_pipeline_spark.operators.pq import (
        ivfpq_encode,
        ivfpq_search,
        train_ivfpq,
    )
    from bytesme_etl_batch_pipeline_spark.operators.similarity import (
        topk_brute_force,
    )

    coarse, books = train_ivfpq(emb, k_coarse=4, m=8, k_pq=16)
    encoded = ivfpq_encode(emb, coarse, books)
    assert len(coarse) == 4 and len(books) == 8
    enc_rows = encoded.collect()
    assert len(enc_rows) == emb.count()
    assert all(0 <= r["cell"] < 4 and len(r["codes"]) == 8 for r in enc_rows)

    qrow = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q")
    )
    truth = {
        r["vec_id"]
        for r in topk_brute_force(emb, query, k=10, metric="l2").collect()
    }
    got = {
        r["vec_id"]
        for r in ivfpq_search(
            emb, encoded, qrow, coarse, books, k=10, n_probe=4, candidates=100
        ).collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.8, f"IVF-PQ recall@10 (all cells, 100 cands): {recall}"

    top1 = ivfpq_search(
        emb, encoded, qrow, coarse, books, k=1, n_probe=1, candidates=20
    ).first()
    assert top1["vec_id"] == 0


def test_ivfpq_probe_pruning_monotone(spark, emb):
    """More probed cells can only widen the candidate pool: recall with
    n_probe=4 must be >= recall with n_probe=1 for the same budget."""
    from bytesme_etl_batch_pipeline_spark.operators.pq import (
        ivfpq_encode,
        ivfpq_search,
        train_ivfpq,
    )
    from bytesme_etl_batch_pipeline_spark.operators.similarity import (
        topk_brute_force,
    )

    coarse, books = train_ivfpq(emb, k_coarse=4, m=8, k_pq=16)
    encoded = ivfpq_encode(emb, coarse, books)
    qrow = list(emb.filter(F.col("vec_id") == 7).first()["embedding"])
    query = emb.filter(F.col("vec_id") == 7).select(
        F.col("embedding").alias("q")
    )
    truth = {
        r["vec_id"]
        for r in topk_brute_force(emb, query, k=10, metric="l2").collect()
    }

    def recall(n_probe):
        got = {
            r["vec_id"]
            for r in ivfpq_search(
                emb, encoded, qrow, coarse, books,
                k=10, n_probe=n_probe, candidates=100,
            ).collect()
        }
        return len(got & truth) / len(truth)

    assert recall(4) >= recall(1)


def test_pq_search_validates_query_dim(spark):
    """zip() would silently truncate a wrong-dimension query (whole
    subspaces under-counted, confidently wrong top-k) — must raise."""
    from bytesme_etl_batch_pipeline_spark.operators.pq import (
        ivfpq_search,
        pq_adc_topk,
        pq_encode,
        train_pq,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i + j) for j in range(8)]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    books = train_pq(vecs, m=2, k=4)
    enc = pq_encode(vecs, books)
    with pytest.raises(ValueError, match="query dim 6 != codebook dim 8"):
        pq_adc_topk(enc, [0.0] * 6, books)
    with pytest.raises(ValueError, match="query dim"):
        ivfpq_search(vecs, enc, [0.0] * 6, [[0.0] * 8], books)


def test_pq_null_vectors_do_not_poison_topk(spark):
    """Ascending sort is NULLS FIRST: rows whose source vector was NULL
    (NULL codes → NULL adc_dist) must be filtered out of the candidate
    stage, not returned ahead of every real candidate."""
    from bytesme_etl_batch_pipeline_spark.operators.pq import (
        pq_adc_topk,
        pq_encode,
        train_pq,
    )

    good = [(i, [float(i + j) for j in range(8)]) for i in range(10)]
    rows = good + [(100 + i, None) for i in range(5)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = train_pq(vecs.filter("embedding is not null"), m=2, k=4)
    enc = pq_encode(vecs, books)
    top = pq_adc_topk(enc, [0.0] * 8, books, k=5).collect()
    assert len(top) == 5
    assert all(r["vec_id"] < 100 for r in top)  # no NULL row sneaked in
    assert all(r["adc_dist"] is not None for r in top)


def test_ivfpq_encode_matches_numpy_kernel(spark):
    """The one-UDF index build equals the driver-side kernel: nearest
    coarse cell, then per subspace the nearest codeword to the residual
    (vector − cell centroid), at a coarse table of 18 cells."""
    import numpy as np

    from bytesme_etl_batch_pipeline_spark.operators.ml import nearest_centroid
    from bytesme_etl_batch_pipeline_spark.operators.pq import (
        ivfpq_encode,
        train_ivfpq,
    )

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(120)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    coarse, books = train_ivfpq(vecs, k_coarse=18, m=2, k_pq=4, max_iter=3)
    enc = ivfpq_encode(vecs, coarse, books)
    got = {r["vec_id"]: (r["cell"], list(r["codes"])) for r in enc.collect()}
    assert len(coarse) == 18 and len(got) == 120

    # array<float> round-trips through float32, as the UDF sees it
    X = np.asarray([v for _, v in rows], dtype=np.float32).astype(np.float64)
    C = np.asarray(coarse)
    cells, _ = nearest_centroid(X, C)
    R = X - C[cells]
    codes = np.stack(
        [
            nearest_centroid(R[:, 4 * j : 4 * j + 4], np.asarray(b))[0]
            for j, b in enumerate(books)
        ],
        axis=1,
    )
    want = {i: (int(c), [int(x) for x in cs]) for (i, _), c, cs in zip(rows, cells, codes)}
    assert got == want


def test_pq_train_empty_input_raises_clearly(spark):
    from bytesme_etl_batch_pipeline_spark.operators.pq import train_pq

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="no vectors to train on"):
        train_pq(empty, m=2, k=2)


def test_pq_null_element_vectors_rejected_or_nulled(spark):
    """A vector with a NULL ELEMENT is as corrupt as a whole-NULL vector
    (the junk_emb_dir fixture shape): training must raise instead of
    NaN-poisoning the codebooks; the encode must map it to NULL codes
    (filtered by search like whole-NULL rows)."""
    from bytesme_etl_batch_pipeline_spark.operators.pq import (
        pq_adc_topk,
        pq_encode,
        train_pq,
    )

    good = [(i, [float(i + j) for j in range(8)]) for i in range(10)]
    junk = [(101, [0.5, 1.0, None, 3.0, 4.0, 5.0, 6.0, 7.0])]
    vecs = spark.createDataFrame(
        good + junk, "vec_id long, embedding array<double>"
    )

    # training: loud failure, not NaN centroids
    with pytest.raises(ValueError, match="NULL"):
        train_pq(vecs, m=2, k=4)

    books = train_pq(vecs.filter("vec_id < 100"), m=2, k=4)

    # encode: NULL codes, and search never surfaces the row
    enc = pq_encode(vecs, books)
    assert (
        enc.filter("vec_id = 101").first()["codes"] is None
    ), "NULL-element vector must not get valid-looking codes"
    top = pq_adc_topk(enc, [0.0] * 8, books, k=5).collect()
    assert all(r["vec_id"] < 100 for r in top)


def test_ivfpq_encode_nulls_corrupt_vectors(spark):
    """A NULL vector, a NULL element (NaN in the Arrow batch) or a wrong
    length gets NULL cell and codes — never an argmin over NaN distances,
    which would index the row in an arbitrary cell — and the search never
    returns it."""
    from bytesme_etl_batch_pipeline_spark.operators.pq import (
        ivfpq_encode,
        ivfpq_search,
        train_ivfpq,
    )

    good = [(i, [float(i + j) for j in range(4)]) for i in range(10)]
    junk = [(100, [0.0, None, 2.0, 3.0]), (101, None), (102, [1.0, 2.0])]
    vecs = spark.createDataFrame(good + junk, "vec_id long, embedding array<double>")
    coarse, books = train_ivfpq(vecs.filter("vec_id < 100"), k_coarse=2, m=2, k_pq=2)
    enc = ivfpq_encode(vecs, coarse, books)
    got = {r["vec_id"]: (r["cell"], r["codes"]) for r in enc.collect()}
    assert all(got[i] == (None, None) for i in (100, 101, 102))
    assert all(got[i][0] is not None and len(got[i][1]) == 2 for i in range(10))
    hits = ivfpq_search(vecs, enc, [0.0] * 4, coarse, books, k=20, n_probe=2)
    assert {r["vec_id"] for r in hits.collect()} <= set(range(10))


def test_pq_encode_wrong_length_vector_gets_null_codes(spark):
    """A ragged vector (wrong length, no NULL elements) zip-pads every
    subspace distance to NULL and the struct-min would pick code 0 —
    valid-looking all-zero codes that masquerade as vectors near codeword
    0. The size guard maps it to NULL codes instead (search filters those
    out)."""
    from bytesme_etl_batch_pipeline_spark.operators.pq import (
        pq_adc_topk,
        pq_encode,
        train_pq,
    )

    good = [(i, [float(i + j) for j in range(8)]) for i in range(10)]
    short = [(103, [1.0, 2.0, 3.0])]
    vecs = spark.createDataFrame(
        good + short, "vec_id long, embedding array<double>"
    )
    books = train_pq(vecs.filter("vec_id < 100"), m=2, k=4)
    enc = pq_encode(vecs, books)
    assert enc.filter("vec_id = 103").first()["codes"] is None
    top = pq_adc_topk(enc, [0.0] * 8, books, k=5).collect()
    assert all(r["vec_id"] < 100 for r in top)


def test_searches_run_the_encode_udf_once(spark, sf_dir):
    """The searches' cell and NULL-distance filters must not copy the
    encode UDF below its projection: a copied call runs every Arrow batch
    through the kernel once more."""
    from bytesme_etl_batch_pipeline_spark.plans import queries as catalog

    for name in ("pq_adc_search", "ivfpq_topk"):
        df = catalog.SPARK_QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, name
