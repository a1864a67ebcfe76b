"""Product Quantization (Jégou et al. 2011, "Product Quantization for
Nearest Neighbor Search") — the vector-compression half of a large-scale
ANN index, next to the coarse IVF quantizer (``similarity.topk_ivf``) and
scalar int8 compression (``similarity.quantize_int8``).

Engine extension (the reference stops at pgvector brute-force top-k).

Scale design:
* TRAIN (driver-side, sample-sized): the vector space splits into ``m``
  subspaces; each gets its own k-codeword codebook from a deterministic
  numpy Lloyd run on the column SLICE of ONE collected sample — m small
  trainings, centroids held driver-side (m·k·(d/m) = d·k floats — KBs).
* ENCODE (map-side, zero shuffles): per subspace, argmin over the k
  codewords as a pure array expression — each vector compresses to m small
  ints (m bytes at k ≤ 256), a 32× compression at d=64/m=8 vs float32.
* SEARCH (ADC — asymmetric distance computation): the query builds an m×k
  lookup table of exact subspace distances ONCE driver-side; per encoded
  vector the approximate distance is m table lookups + a fold. No decode,
  no float vector ever re-materializes; TakeOrderedAndProject for top-k.

NULL vectors: the expression encode maps them to NULL codes; every search
entry point filters NULL ADC distances out of the candidate stage (Spark's
ascending sort is NULLS FIRST — unfiltered, NULL rows would displace every
real candidate). The Arrow encode path rejects them loudly instead, since
a ragged numpy batch would otherwise die deep inside vstack.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.arrays import lit_doubles, lit_doubles_2d


def _subvector(vec_col, j: int, d_sub: int):
    """1-based slice of subspace j, elements cast to double."""
    return F.transform(
        F.slice(vec_col, j * d_sub + 1, d_sub), lambda x: x.cast("double")
    )


def _local_lloyd(X, k: int, max_iter: int) -> list[list[float]]:
    """Deterministic numpy Lloyd on a driver-side sample: seeds are the
    first k rows (caller passes rows sorted by id), assignment ties break
    on the lower centroid index (numpy argmin's tie rule), empty clusters
    keep their previous centroid."""
    import numpy as np

    C = X[:k].copy()
    for _ in range(max_iter):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
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


def _collect_sample(train: DataFrame, vec_col: str, id_col: str):
    """One collect shared by the training paths: rows sorted by id
    (partition-invariant), vectors as float64. Returns the (n, dim) numpy
    matrix; raises a clear error on an empty input instead of the opaque
    NoneType crash a bare ``first()[0]`` would give.

    Arrow transfer + DRIVER-side sort: the original ``orderBy().collect()``
    cost ~1.9 s of the 3 s ivfpq catalog query — a range-partitioning
    sampling job for the shuffle plus row-at-a-time deserialization of
    nested arrays. ``toArrow()`` moves the (bounded, sample-sized) batch in
    one columnar hop and numpy argsorts the ids; same matrix, ~10× less
    wall."""
    import numpy as np

    tbl = train.select(
        F.col(id_col).alias("__id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    ).toArrow()
    if tbl.num_rows == 0:
        raise ValueError("no vectors to train on (empty input/sample)")
    vec_col_arrow = tbl.column("__v")
    if vec_col_arrow.null_count or any(
        c.values.null_count for c in vec_col_arrow.chunks
    ):
        # a NULL ELEMENT is as corrupt as a NULL vector: np.asarray would
        # turn it into NaN, NaN-poisoning every Lloyd distance/mean and
        # silently garbaging the codebooks — fail loudly like kmeans/LSH do
        raise ValueError(
            "NULL vectors (or vectors with NULL elements) in training "
            "sample — filter them first"
        )
    ids = np.asarray(tbl.column("__id").to_pylist())
    vecs = vec_col_arrow.to_pylist()
    order = np.argsort(ids, kind="stable")
    # ragged vectors fail np.asarray's shape check, as before
    return np.asarray(vecs, dtype=np.float64)[order]


def _training_sample(
    vectors: DataFrame,
    vec_col: str,
    id_col: str,
    m: int,
    sample_fraction: float,
    seed: int,
):
    """The collected training matrix and its subspace width ``dim // m``."""
    train = (
        vectors
        if sample_fraction >= 1.0
        else vectors.sample(sample_fraction, seed)
    )
    X = _collect_sample(train, vec_col, id_col)
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    return X, dim // m


def _subspace_books(X, m: int, d_sub: int, k: int, max_iter: int):
    """One Lloyd codebook per column slice of ``X``."""
    import numpy as np

    return [
        _local_lloyd(
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
    sample_fraction: float = 1.0,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Train m per-subspace codebooks of k codewords each.

    Collects the training SAMPLE to the driver once (PQ quantizers train
    on thousands of rows, KBs–MBs; pass ``sample_fraction`` to bound it)
    and runs a deterministic numpy Lloyd per subspace — one job total,
    rows sorted by id so the result is identical under any partitioning.

    Returns ``codebooks[m][k][d/m]``. The vector dimensionality must be
    divisible by ``m``."""
    X, d_sub = _training_sample(vectors, vec_col, id_col, m, sample_fraction, seed)
    if len(X) < k:
        raise ValueError(f"k={k} exceeds sample size {len(X)}")
    return _subspace_books(X, m, d_sub, k, max_iter)


def _sq_l2_lit(vec_expr, centroid: list[float]):
    lit_c = lit_doubles(centroid)
    return F.aggregate(
        F.zip_with(vec_expr, lit_c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# Above this many (subspace, codeword) cells the literal-expression encode
# embeds a codegen tree whose janino compilation dominates runtime (measured:
# 8×16 cells ≈ 13 s at sf0.1, nearly all compile time) — switch to the Arrow
# path, same numbers.
PQ_EXPRESSION_MAX_CELLS = 32


def pq_encode(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Add ``codes`` (array<int>, length m): per subspace, the id of the
    nearest codeword (ties break on the lower code — numpy argmin and the
    struct-min expression share that rule). Map-side only, zero shuffles at
    any corpus size; small codebooks run as pure codegen'd expressions,
    production codebooks as an Arrow-batched numpy argmin (the codebook
    matrix rides the closure — KBs broadcast with the task). A NULL vector
    — or a vector with a NULL ELEMENT — yields NULL codes on the
    expression path (the search stages filter the resulting NULL distances
    out of the candidate list); the Arrow path raises on either, since a
    NaN-bearing batch cannot be argmin'd meaningfully."""
    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    if m * len(codebooks[0]) > PQ_EXPRESSION_MAX_CELLS:
        return _pq_encode_pandas(vectors, codebooks, vec_col)
    per_sub = []
    for j, book in enumerate(codebooks):
        sub = _subvector(F.col(vec_col), j, d_sub)
        pairs = F.array(
            *[
                F.struct(_sq_l2_lit(sub, c).alias("d"), F.lit(i).alias("code"))
                for i, c in enumerate(book)
            ]
        )
        per_sub.append(F.array_min(pairs)["code"])
    # NULL vector, a vector with a NULL ELEMENT, or a WRONG-LENGTH vector
    # → NULL codes, EXPLICITLY: the struct-min over NULL distances would
    # otherwise pick code 0 in the affected subspace(s) (a short vector's
    # zip padding makes every distance NULL), giving junk rows
    # valid-looking codes that masquerade as vectors near codeword 0 and
    # pollute search candidates with bogus ids (downstream search filters
    # NULL codes out)
    codes = F.when(
        F.col(vec_col).isNotNull()
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
        & (F.size(F.col(vec_col)) == F.lit(m * d_sub)),
        F.array(*per_sub),
    ).otherwise(F.lit(None))
    return vectors.withColumn("codes", codes)


def _pq_encode_pandas(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    # one (m, k, d_sub) tensor in the closure
    C = np.asarray(codebooks, dtype=np.float64)

    # explicit functionType: this module has `from __future__ import
    # annotations`, which turns the hints into strings pandas_udf's
    # inference can't resolve (same workaround as bench.py)
    @pandas_udf("array<int>", PandasUDFType.SCALAR)
    def _encode(col):
        vals = list(col)
        if any(v is None for v in vals):
            raise ValueError(
                "NULL vector in pq_encode input — filter NULL embeddings "
                "before encoding (a ragged Arrow batch cannot be encoded)"
            )
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in vals])
        if np.isnan(X).any():
            # a NULL element arrives here as NaN and argmin would emit a
            # garbage code for it — same loud-failure contract as whole-NULL
            # (the expression path maps these rows to NULL codes instead;
            # this strict path is the raise-on-junk variant)
            raise ValueError(
                "NULL/NaN vector ELEMENT in pq_encode input — filter "
                "corrupt embeddings before encoding"
            )
        out = np.empty((len(X), m), dtype=np.int32)
        for j in range(m):
            sub = X[:, j * d_sub : (j + 1) * d_sub]
            # (n, k) squared distances; argmin ties break on lower code
            d2 = ((sub[:, None, :] - C[j][None, :, :]) ** 2).sum(axis=2)
            out[:, j] = d2.argmin(axis=1)
        return pd.Series(list(out))

    return vectors.withColumn("codes", _encode(F.col(vec_col)))


def _check_query_dim(query_vec: list[float], m: int, d_sub: int) -> None:
    """zip() would silently truncate a wrong-dimension query, under-counting
    whole subspaces and returning a confidently wrong top-k — make it loud."""
    if len(query_vec) != m * d_sub:
        raise ValueError(
            f"query dim {len(query_vec)} != codebook dim {m * d_sub} "
            f"(m={m} × d_sub={d_sub})"
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
    lut = []
    for j, book in enumerate(codebooks):
        qs = [float(x) for x in query_vec[j * d_sub : (j + 1) * d_sub]]
        lut.append(
            [sum((a - b) * (a - b) for a, b in zip(qs, c)) for c in book]
        )
    lut_lit = lit_doubles_2d(lut)
    return (
        encoded.select(F.col(id_col), _adc_dist(lut_lit, m).alias("adc_dist"))
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

def _residual(vec_col, coarse: list[list[float]], cell_col: str = "cell"):
    """vector − its cell's coarse centroid, as a map-side expression: the
    coarse table rides as an array-of-arrays literal indexed by the cell.
    For coarse tables past ``similarity.IVF_EXPRESSION_MAX_K`` use
    ``_assign_and_residual_pandas`` — this literal form embeds k×dim plan
    nodes."""
    coarse_lit = lit_doubles_2d(coarse)
    own = F.element_at(coarse_lit, F.col(cell_col) + 1)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return F.zip_with(v, own, lambda x, c: x - c)


def _assign_and_residual_pandas(
    vectors: DataFrame,
    coarse: list[list[float]],
    vec_col: str,
) -> DataFrame:
    """Arrow path for production coarse tables (k_coarse past the
    expression bound): ONE pandas UDF computes the nearest cell AND the
    residual per batch — the centroid matrix rides the closure (one copy
    per executor, O(1) plan size) and the distance is one BLAS matmul, the
    same shape as ``similarity.ivf_assign_pandas``. Adds ``cell`` and
    ``__res`` columns."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    C = np.asarray(coarse, dtype=np.float64)
    c_sq = (C * C).sum(axis=1)

    @pandas_udf("struct<cell:int,res:array<double>>", PandasUDFType.SCALAR)
    def _ar(col):
        vals = list(col)
        if any(v is None for v in vals):
            raise ValueError(
                "NULL vector in IVF-PQ input — filter NULL embeddings first"
            )
        V = np.asarray([np.asarray(v, dtype=np.float64) for v in vals])
        if np.isnan(V).any():
            raise ValueError(
                "NULL/NaN vector ELEMENT in IVF-PQ input — filter corrupt "
                "embeddings first (NaN would poison argmin cell assignment)"
            )
        d2 = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C.T) + c_sq[None, :]
        cells = np.argmin(d2, axis=1)
        R = V - C[cells]
        return pd.DataFrame(
            {"cell": cells.astype(np.int32), "res": list(R)}
        )

    out = vectors.withColumn("__ar", _ar(F.col(vec_col)))
    return (
        out.withColumn("cell", F.col("__ar.cell"))
        .withColumn("__res", F.col("__ar.res"))
        .drop("__ar")
    )


def train_ivfpq(
    vectors: DataFrame,
    k_coarse: int = 4,
    m: int = 8,
    k_pq: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 5,
    sample_fraction: float = 1.0,
    seed: int = 42,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Train the two-level IVF-PQ index (Jégou et al. 2011 §IV): a coarse
    quantizer partitions the space into cells, then PQ codebooks train on
    the RESIDUALS (vector − cell centroid) — residuals concentrate around
    the origin, so the same codebook budget quantizes them far better than
    raw vectors. One collected sample powers BOTH trainings (coarse Lloyd
    on the sample, then per-subspace Lloyd on its residuals) — zero Spark
    jobs beyond the collect. Returns ``(coarse_centroids, codebooks)``;
    ``ivfpq_encode`` turns any frame into the index payload."""
    import numpy as np

    X, d_sub = _training_sample(vectors, vec_col, id_col, m, sample_fraction, seed)
    if len(X) < max(k_coarse, k_pq):
        raise ValueError(f"sample size {len(X)} below k")
    coarse = _local_lloyd(X, k_coarse, max_iter)
    C = np.asarray(coarse)
    cells = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    return coarse, _subspace_books(X - C[cells], m, d_sub, k_pq, max_iter)


def ivfpq_encode(
    vectors: DataFrame,
    coarse: list[list[float]],
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, cell, codes) — the m-byte-per-vector IVF-PQ index payload.
    Map-side only; past ``similarity.IVF_EXPRESSION_MAX_K`` coarse cells,
    assignment + residual run on the Arrow path (O(1) plan size) instead
    of embedding k×dim literals."""
    from .similarity import IVF_EXPRESSION_MAX_K, ivf_assign

    if len(coarse) > IVF_EXPRESSION_MAX_K:
        with_res = _assign_and_residual_pandas(vectors, coarse, vec_col)
    else:
        with_res = ivf_assign(vectors, coarse, vec_col).withColumn(
            "__res", _residual(vec_col, coarse)
        )
    return pq_encode(with_res, codebooks, vec_col="__res").select(
        id_col, "cell", "codes"
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
    if coarse and len(coarse[0]) != len(q):
        raise ValueError(
            f"query dim {len(q)} != coarse centroid dim {len(coarse[0])}"
        )
    cell_d = [
        sum((a - b) * (a - b) for a, b in zip(q, c)) for c in coarse
    ]
    probes = sorted(range(len(coarse)), key=lambda i: (cell_d[i], i))[:n_probe]

    def lut_for(cell: int):
        # one py4j call for the whole (m, k) table — the per-element F.lit
        # form cost n_probe·m·k driver round trips per plan build (r10's
        # lit_doubles lesson applied to the IVF-PQ LUT; bit-identical
        # values, same driver-side float arithmetic)
        res_q = [a - b for a, b in zip(q, coarse[cell])]
        rows = []
        for j, book in enumerate(codebooks):
            qs = res_q[j * d_sub : (j + 1) * d_sub]
            rows.append(
                [sum((a - b) * (a - b) for a, b in zip(qs, c)) for c in book]
            )
        return lit_doubles_2d(rows)

    # per-probed-cell LUT selected by a when-chain (n_probe is small)
    lut = None
    for c in probes:
        lut = (
            F.when(F.col("cell") == c, lut_for(c))
            if lut is None
            else lut.when(F.col("cell") == c, lut_for(c))
        )
    cand = (
        encoded.filter(F.col("cell").isin([int(c) for c in probes]))
        .select(F.col(id_col), _adc_dist(lut, m).alias("adc_dist"))
        .filter(F.col("adc_dist").isNotNull())
        .orderBy("adc_dist", id_col)
        .limit(candidates)
    )
    return _rerank_exact(vectors, cand.select(id_col), q, k, id_col, vec_col)
