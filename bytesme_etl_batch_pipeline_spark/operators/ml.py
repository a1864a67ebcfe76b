"""Nearest-centroid search and Lloyd k-means: the one primitive under the
engine's IVF, PQ and IVF-PQ indexes (``similarity.py``, ``pq.py``).

Engine extension (the reference has no clustering; its embedding work stops
at pgvector top-k — ``generate_embeddings.py``). The catalog query
``kmeans_lloyd_step`` pins one exact Lloyd iteration against a DuckDB
oracle with its own join-form step; ``train_ivf_centroids`` is the full
trainer.

* ``sq_l2`` folds (x − c)² over the dimensions in ascending order — the
  accumulation order of the engine's ``F.aggregate(F.zip_with(...))``
  folds, so its distances are bit-identical to theirs.
* ``nearest_centroid`` is the argmin over those distances (ties break on
  the lower index); a corrupt vector — NULL, a NULL or NaN element, or a
  length other than the centroids' — gets no cell.
* ``nearest_centroid_udf`` runs it map-side as ONE Arrow UDF: the centroid
  table rides the closure (KBs, O(1) plan size at any k) and each batch is
  one numpy fold. Given PQ codebooks it also encodes each vector's residual
  against its cell, so an IVF-PQ index build is one Python pass.
* ``lloyd`` trains centroids driver-side on ONE collect of a sample
  (``collect_sample``, rows sorted by id), so training is identical under
  any partitioning of the input.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def sq_l2(X, C) -> np.ndarray:
    """(n, k) squared L2 between the rows of ``X`` (n, d) and ``C`` (k, d),
    folded over the d dimensions in ascending order."""
    d2 = np.zeros((len(X), len(C)))
    for j in range(C.shape[1]):
        diff = X[:, j, None] - C[None, :, j]
        d2 += diff * diff
    return d2


def as_matrix(vectors, dim: int) -> np.ndarray:
    """(n, dim) float64 matrix of a batch of vectors. A None vector or one
    whose length is not ``dim`` becomes a NaN row, as a NULL element
    already is (Arrow hands float NULLs to numpy as NaN)."""
    X = np.full((len(vectors), dim), np.nan)
    for i, v in enumerate(vectors):
        if v is not None and len(v) == dim:
            X[i] = np.asarray(v, dtype=np.float64)
    return X


def nearest_centroid(X, C) -> tuple[np.ndarray, np.ndarray]:
    """(cell, d²) of each row of ``X`` against the rows of ``C``: the index
    of the nearest centroid by squared L2 (ties break on the lower index)
    and that distance. A row holding a NaN gets cell -1 and d² NaN."""
    d2 = sq_l2(X, C)
    cell = d2.argmin(axis=1)
    best = d2[np.arange(len(X)), cell]
    bad = np.isnan(X).any(axis=1)
    return np.where(bad, -1, cell), np.where(bad, np.nan, best)


def nearest_centroid_udf(
    centroids: list[list[float]],
    codebooks: list[list[list[float]]] | None = None,
):
    """Arrow UDF over ``nearest_centroid``: vector → struct<cell, d2>, both
    NULL for a corrupt vector. Given PQ ``codebooks`` (m × k × d/m) the
    struct also carries ``codes`` (array<int>, NULL for a corrupt vector):
    per subspace, the nearest codeword to the residual x − centroids[cell]."""
    C = np.asarray(centroids, dtype=np.float64)
    books = None if codebooks is None else np.asarray(codebooks, dtype=np.float64)
    schema = "cell:int,d2:double" + (",codes:array<int>" if books is not None else "")

    @pandas_udf(f"struct<{schema}>")
    def _nearest(col: pd.Series) -> pd.DataFrame:
        X = as_matrix(col, C.shape[1])
        cell, d2 = nearest_centroid(X, C)
        ok = cell >= 0
        cell = np.where(ok, cell, 0).astype(np.int32)
        out = {"cell": pd.arrays.IntegerArray(cell, ~ok), "d2": d2}
        if books is not None:
            R = X - C[cell]
            d_sub = books.shape[2]
            codes = np.stack(
                [
                    nearest_centroid(R[:, j * d_sub : (j + 1) * d_sub], book)[0]
                    for j, book in enumerate(books)
                ],
                axis=1,
            ).astype(np.int32)
            out["codes"] = [c if k else None for c, k in zip(codes, ok)]
        return pd.DataFrame(out)

    # Declared nondeterministic so the optimizer never copies the call: a
    # filter on its output (the searches' cell and NULL-distance filters)
    # would otherwise be pushed below the projection with the call inlined,
    # and every Arrow batch would run the kernel once per copy.
    return _nearest.asNondeterministic()


def collect_sample(train: DataFrame, vec_col: str, id_col: str) -> np.ndarray:
    """One collect shared by the trainers: the (n, dim) float64 matrix of
    ``train``'s vectors, rows sorted by id (partition-invariant). Raises
    ``ValueError`` on an empty input and on a corrupt vector — NULL, a NULL
    or NaN element, or a length unlike the rest — which would otherwise
    NaN-poison every Lloyd distance and mean.

    Arrow transfer + DRIVER-side sort: an ``orderBy().collect()`` cost
    ~1.9 s of the 3 s ivfpq catalog query — a range-partitioning sampling
    job for the shuffle plus row-at-a-time deserialization of nested
    arrays. ``toArrow()`` moves the (bounded, sample-sized) batch in one
    columnar hop and numpy argsorts the ids; same matrix, ~10× less wall."""
    tbl = train.select(
        F.col(id_col).alias("__id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    ).toArrow()
    if tbl.num_rows == 0:
        raise ValueError("no vectors to train on (empty input/sample)")
    vecs = tbl.column("__v")
    if vecs.null_count or any(c.values.null_count for c in vecs.chunks):
        raise ValueError(
            "NULL vectors (or vectors with NULL elements) in training "
            "sample — filter them first"
        )
    order = np.argsort(np.asarray(tbl.column("__id").to_pylist()), kind="stable")
    # ragged vectors fail np.asarray's shape check with a ValueError
    X = np.asarray(vecs.to_pylist(), dtype=np.float64)[order]
    if np.isnan(X).any():
        raise ValueError("NaN vector elements in training sample — filter them first")
    return X


def lloyd(X: np.ndarray, k: int, max_iter: int) -> list[list[float]]:
    """Deterministic Lloyd k-means on a driver-side sample: seeds are the
    first k rows (``collect_sample`` sorts them by id), assignment is
    ``nearest_centroid``, empty clusters keep their previous centroid, and
    training stops after ``max_iter`` rounds or once no coordinate moves by
    1e-9."""
    if not 1 <= k <= len(X):
        raise ValueError(f"k={k} must be between 1 and the sample size {len(X)}")
    C = X[:k].copy()
    for _ in range(max_iter):
        assign, _ = nearest_centroid(X, C)
        moved = 0.0
        for c in range(k):
            members = X[assign == c]
            if len(members):
                nc = members.mean(axis=0)
                moved = max(moved, float(np.abs(nc - C[c]).max()))
                C[c] = nc
        if moved < 1e-9:
            break
    return [[float(x) for x in row] for row in C]


def nearest_cells(query, centroids: list[list[float]], n: int) -> list[int]:
    """The ``n`` cells nearest ``query`` by squared L2, nearest first, ties
    on the lower cell — the probe choice of the IVF searches. A query whose
    dimension differs from the centroids', or that holds a NULL or NaN
    element, raises ``ValueError``: zip() would truncate it into a
    confidently wrong probe set."""
    C = np.asarray(centroids, dtype=np.float64)
    if len(query) != C.shape[1]:
        raise ValueError(f"query dim {len(query)} != centroid dim {C.shape[1]}")
    q = np.asarray(query, dtype=np.float64)  # a None element becomes NaN
    if np.isnan(q).any():
        raise ValueError("query vector has NULL/NaN elements")
    d2 = sq_l2(q[None, :], C)[0]
    return [int(i) for i in np.argsort(d2, kind="stable")[:n]]

