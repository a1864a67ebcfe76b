"""Product Quantization (Jégou et al. 2011, "Product Quantization for
Nearest Neighbor Search") — the vector-compression half of a large-scale
ANN index, next to the coarse IVF quantizer (``similarity.topk_ivf``) and
scalar int8 compression (``similarity.quantize_int8``).

Engine extension (the reference stops at pgvector brute-force top-k).

Scale design:
* TRAIN (driver-side, sample-sized): the vector space splits into ``m``
  subspaces; each gets its own k-codeword codebook from a deterministic
  numpy Lloyd run on the column SLICE of ONE collect of the training
  frame — m small trainings, centroids held driver-side (m·k·(d/m) = d·k
  floats — KBs). The trainers use every row they are given: to bound the
  collect, the caller passes a sample cut by a partition-independent
  filter (the catalog trains on ``vec_id < 500``), never
  ``DataFrame.sample``, whose Bernoulli draw is per partition.
* ENCODE (map-side, zero shuffles): per subspace, the nearest of the k
  codewords, all m subspaces in one Arrow UDF over the engine's
  nearest-centroid kernel (``ml.nearest_centroid_udf``) — each vector
  compresses to m small ints (m bytes at k ≤ 256), a 32× compression at
  d=64/m=8 vs float32.
* SEARCH (ADC — asymmetric distance computation): the query builds an m×k
  lookup table of exact subspace distances ONCE driver-side; per encoded
  vector the approximate distance is m table lookups + a fold. No decode,
  no float vector ever re-materializes; TakeOrderedAndProject for top-k.

Corrupt vectors: training raises ``ValueError`` on a NULL vector, a NULL or
NaN element or a wrong length (a codebook trained on a silently shrunken
sample would lose recall with no signal). Encoding maps the same vectors
to NULL codes (and NULL cells in IVF-PQ), and every search entry point
filters NULL ADC distances out of the candidate stage (Spark's ascending
sort is NULLS FIRST — unfiltered, NULL rows would displace every real
candidate).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.arrays import lit_doubles, lit_doubles_2d
from .ml import (
    collect_sample,
    lloyd,
    nearest_cells,
    nearest_centroid,
    nearest_centroid_udf,
    sq_l2,
)


def _training_sample(vectors: DataFrame, vec_col: str, id_col: str, m: int):
    """The collected training matrix and its subspace width ``dim // m``."""
    X = collect_sample(vectors, vec_col, id_col)
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    return X, dim // m


def _subspace_books(X, m: int, d_sub: int, k: int, max_iter: int):
    """One Lloyd codebook per column slice of ``X``."""
    return [
        lloyd(
            np.ascontiguousarray(X[:, j * d_sub : (j + 1) * d_sub]), k, max_iter
        )
        for j in range(m)
    ]


def train_pq(
    vectors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k: int = 16,
    max_iter: int = 5,
) -> list[list[list[float]]]:
    """Train m per-subspace codebooks of k codewords each.

    Collects ``vectors`` to the driver once (PQ quantizers train on
    thousands of rows, KBs–MBs; to bound it, pass a sample cut by a
    partition-independent filter such as ``vec_id < 500``) and runs a
    deterministic numpy Lloyd per subspace — one job total, rows sorted
    by id so the result is identical under any partitioning.

    Returns ``codebooks[m][k][d/m]``. The vector dimensionality must be
    divisible by ``m``."""
    X, d_sub = _training_sample(vectors, vec_col, id_col, m)
    return _subspace_books(X, m, d_sub, k, max_iter)


def pq_encode(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Add ``codes`` (array<int>, length m): per subspace, the id of the
    nearest codeword (ties break on the lower code). Map-side only, zero
    shuffles at any corpus size: one Arrow UDF encodes all m subspaces
    (the codebooks ride the closure — KBs broadcast with the task). A NULL
    vector, a NULL or NaN element or a wrong length yields NULL codes (the
    search stages filter the resulting NULL distances out of the candidate
    list)."""
    dim = len(codebooks) * len(codebooks[0][0])
    # one all-zero cell: every residual is the vector itself (x - 0.0 == x)
    encode = nearest_centroid_udf([[0.0] * dim], codebooks)
    return vectors.withColumn("codes", encode(F.col(vec_col))["codes"])


def _check_query_dim(query_vec: list[float], m: int, d_sub: int) -> None:
    """A wrong-dimension query would silently lose or truncate subspaces
    and return a confidently wrong top-k — make it loud."""
    if len(query_vec) != m * d_sub:
        raise ValueError(
            f"query dim {len(query_vec)} != codebook dim {m * d_sub} "
            f"(m={m} × d_sub={d_sub})"
        )


def _lut(query, codebooks: list[list[list[float]]]):
    """The m×k ADC lookup table: the exact squared L2 from each subspace of
    ``query`` to every codeword of that subspace, as one literal (one py4j
    call for the whole table — the per-element F.lit form cost m·k driver
    round trips per plan build)."""
    d_sub = len(codebooks[0][0])
    q = np.asarray(query, dtype=np.float64)
    return lit_doubles_2d(
        [
            sq_l2(q[None, j * d_sub : (j + 1) * d_sub], np.asarray(book))[0].tolist()
            for j, book in enumerate(codebooks)
        ]
    )


def _adc_dist(lut_expr, m: int, codes_col: str = "codes"):
    """Approximate squared-L2 from PQ codes: m lookup-table reads summed in
    ascending subspace order (deterministic fold). ``lut_expr`` is an
    array<array<double>> expression — literal for one query, when-chained
    per cell for IVF-PQ."""
    return F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda j: F.element_at(
                F.element_at(lut_expr, j + 1),
                F.element_at(F.col(codes_col), j + 1) + 1,
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _rerank_exact(
    vectors: DataFrame,
    cand_ids: DataFrame,
    query_vec: list[float],
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared exact re-rank tail of both PQ searches: broadcast the tiny
    candidate id set onto the vector table (the original embedding column
    is read for ~candidates rows, not the corpus) and exact-L2 top-k."""
    from .similarity import topk_brute_force

    pruned = vectors.join(F.broadcast(cand_ids), id_col)
    # a one-row JVM relation, not createDataFrame(<list>): no Python tasks
    qdf = vectors.sparkSession.range(1, numPartitions=1).select(
        lit_doubles(query_vec).alias("q")
    )
    return topk_brute_force(
        pruned, qdf, k=k, id_col=id_col, vec_col=vec_col, metric="l2"
    )


def pq_adc_topk(
    encoded: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the query's exact distance
    to every codeword of every subspace becomes an m×k literal lookup
    table; each row's approximate squared-L2 is m table lookups summed in
    ascending subspace order. Returns (id, adc_dist) ascending — the
    candidate stage a production index re-ranks with exact distances.
    Rows with NULL codes (NULL source vectors) are excluded — ascending
    sort is NULLS FIRST, so they would otherwise displace every real
    candidate."""
    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    _check_query_dim(query_vec, m, d_sub)
    return (
        encoded.select(
            F.col(id_col), _adc_dist(_lut(query_vec, codebooks), m).alias("adc_dist")
        )
        .filter(F.col("adc_dist").isNotNull())
        .orderBy("adc_dist", id_col)
        .limit(k)
    )


def pq_search(
    vectors: DataFrame,
    encoded: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    candidates: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The full production PQ search: ADC prunes the corpus to
    ``candidates`` ids (compressed domain, no float vectors touched), then
    ONLY those rows re-rank with exact L2 against the original vectors —
    the two-stage shape every PQ/IVF-PQ index uses. Recall is the candidate
    stage's; precision of the final ordering is exact."""
    cand = pq_adc_topk(encoded, query_vec, codebooks, k=candidates, id_col=id_col)
    return _rerank_exact(
        vectors, cand.select(id_col), query_vec, k, id_col, vec_col
    )


# ---------------------------------------------------------------------------
# IVF-PQ: the combined production index (coarse cells + residual PQ codes).
# ---------------------------------------------------------------------------

def train_ivfpq(
    vectors: DataFrame,
    k_coarse: int = 4,
    m: int = 8,
    k_pq: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 5,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Train the two-level IVF-PQ index (Jégou et al. 2011 §IV): a coarse
    quantizer partitions the space into cells, then PQ codebooks train on
    the RESIDUALS (vector − cell centroid) — residuals concentrate around
    the origin, so the same codebook budget quantizes them far better than
    raw vectors. One collect of ``vectors`` powers BOTH trainings (coarse
    Lloyd on the rows, then per-subspace Lloyd on their residuals) — zero
    Spark jobs beyond the collect. To train on a sample, filter the frame
    first with a partition-independent predicate (the catalog uses
    ``vec_id < 500``). Returns ``(coarse_centroids, codebooks)``;
    ``ivfpq_encode`` turns any frame into the index payload."""
    X, d_sub = _training_sample(vectors, vec_col, id_col, m)
    coarse = lloyd(X, k_coarse, max_iter)
    C = np.asarray(coarse)
    cells, _ = nearest_centroid(X, C)
    return coarse, _subspace_books(X - C[cells], m, d_sub, k_pq, max_iter)


def ivfpq_encode(
    vectors: DataFrame,
    coarse: list[list[float]],
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, cell, codes) — the m-byte-per-vector IVF-PQ index payload.
    Map-side only: one Arrow UDF per batch assigns each vector its nearest
    coarse cell and PQ-encodes its residual (vector − cell centroid); a
    corrupt vector gets NULL cell and codes."""
    encode = nearest_centroid_udf(coarse, codebooks)
    return vectors.withColumn("__enc", encode(F.col(vec_col))).select(
        id_col, F.col("__enc.cell").alias("cell"), F.col("__enc.codes").alias("codes")
    )


def ivfpq_search(
    vectors: DataFrame,
    encoded: DataFrame,
    query_vec: list[float],
    coarse: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    n_probe: int = 2,
    candidates: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ search: probe the ``n_probe`` cells nearest the query; within
    each probed cell, ADC against that cell's OWN residual query (q − cell
    centroid) via a per-cell literal lookup table; exact-re-rank the best
    ``candidates``. The scan prunes to probed cells (at scale the index is
    written partitioned by cell, making this partition pruning), distances
    never touch a float vector, and only ~``candidates`` rows read the
    original embedding column for the re-rank. Plan size scales with
    n_probe (small by construction), not k_coarse."""
    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    q = [float(x) for x in query_vec]
    _check_query_dim(q, m, d_sub)
    probes = nearest_cells(q, coarse, n_probe)
    # per-probed-cell LUT over the residual query (q − cell centroid),
    # selected by a when-chain (n_probe is small)
    lut = None
    for c in probes:
        cell_lut = _lut(np.asarray(q) - np.asarray(coarse[c]), codebooks)
        lut = (
            F.when(F.col("cell") == c, cell_lut)
            if lut is None
            else lut.when(F.col("cell") == c, cell_lut)
        )
    cand = (
        encoded.filter(F.col("cell").isin(probes))
        .select(F.col(id_col), _adc_dist(lut, m).alias("adc_dist"))
        .filter(F.col("adc_dist").isNotNull())
        .orderBy("adc_dist", id_col)
        .limit(candidates)
    )
    return _rerank_exact(vectors, cand.select(id_col), q, k, id_col, vec_col)
