"""Vector similarity search (SURVEY §2.12 E4 + engine extension surface).

The reference runs top-k L2 search inside pgvector
(``generate_embeddings.py:418,438-452``) and scores ``1 - distance``
(``:487``). Here the search runs natively in Spark:

* Brute-force — exact, pure expressions (``zip_with`` dot product folded
  sequentially, so results are bit-deterministic). O(n·d) per query: the
  correctness baseline and fine for dim-table-sized corpora.
* LSH ANN — random-hyperplane signatures → bucket equi-join. Candidate
  generation cost tracks bucket density, not n². The 100 TB path; recall is
  validated against brute force in tests.
* IVF ANN — a coarse quantizer (``ml.lloyd`` or fixed centroids) assigns
  each vector to a cell (``ml.nearest_centroid_udf``) → probe the nearest
  cells only.

All floats fold in ascending index order in both engines, so oracle value
hashes are stable; scores are rounded to 6 decimals as the cross-engine
equality contract.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..ckpt import materialize
from ..functions import project
from ..functions.arrays import lit_doubles_2d
from ..session import shuffle_width
from .ml import collect_sample, lloyd, nearest_cells, nearest_centroid_udf
from .textops import md5_hash48


def _dots(a: Column, b: Column) -> Column:
    """Sequential-fold dot product over double-cast arrays."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(_dots(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    """NULL (not NaN) for zero-norm vectors: the embedder emits zero vectors
    for empty text (embed.py), and double 0.0/0.0 is IEEE NaN even under
    ANSI — which Spark sorts ABOVE every number in descending order and
    passes through ``>= threshold`` filters, so junk would fill top-k and
    near-dup pair lists. NULL instead drops out of filters and sorts last
    (desc default), and matches DuckDB's x/0 → NULL oracle behavior."""
    denom = _norm(a) * _norm(b)
    return F.when(denom != 0, _dots(a, b) / denom)


def cosine_from_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine of ``a`` and ``b`` given their precomputed norms, rounded to
    1e-6 — the pair kernel of the exact verify stages. Each vector's norm
    is folded once per vector instead of twice per pair; the doubles are
    the same as ``cosine_similarity``'s, and a zero norm gives NULL."""
    denom = na * nb
    return F.round(F.when(denom != 0, _dots(a, b) / denom), 6)


def l2_distance(a: Column, b: Column) -> Column:
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2
    )
    return F.sqrt(F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x))


def topk_brute_force(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_col: str = "q",
    metric: str = "cosine",
) -> DataFrame:
    """E4 brute-force top-k: broadcast the single-row query, score every
    vector map-side, TakeOrderedAndProject picks k. ``metric``: cosine
    (descending score) or l2 (ascending distance, score = 1 - distance as in
    the reference)."""
    if metric not in ("cosine", "l2"):
        raise ValueError(f"metric must be 'cosine' or 'l2', got {metric!r}")
    scores, order = _scoring(vec_col, query_col, id_col, metric)
    joined = vectors.crossJoin(F.broadcast(query))
    return project(joined, dict(scores), drop=[query_col]).orderBy(*order).limit(k)


@functools.lru_cache(maxsize=32)
def _scoring(
    vec_col: str, query_col: str, id_col: str, metric: str
) -> tuple[tuple[tuple[str, Column], ...], tuple[Column, Column]]:
    """``topk_brute_force``'s score columns and sort order."""
    a, q = F.col(vec_col), F.col(query_col)
    if metric == "cosine":
        # desc is NULLS LAST — a NULL embedding (NULL score) sorts out
        scores = (("score", F.round(cosine_similarity(a, q), 6)),)
        return scores, (F.col("score").desc(), F.col(id_col))
    distance = F.round(l2_distance(a, q), 6)
    scores = (("distance", distance), ("score", F.lit(1.0) - distance))
    # ascending is NULLS FIRST: without nulls_last a NULL embedding
    # (NULL distance) would displace every real candidate from top-k
    return scores, (F.col("distance").asc_nulls_last(), F.col(id_col))


def pairs_above_threshold(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-dup pairs within a blocking key (exact verify
    step of an LSH/IVF pipeline; never run unblocked at scale).

    Parallelism (r11): a join keyed on the block alone has at most
    |distinct blocks| non-empty partitions — with coarse blocks (the
    catalog's 10 labels) the O(block²) cosine stage ran on ≤10 of 32
    cores no matter the shuffle setting (guide §2.5: a handful of keys
    own all the work). The probe side therefore carries a deterministic
    salt (``pmod(xxhash64(id), S)``) and the build side replicates S
    ways, spreading each block's pair work over S·|blocks| partitions.
    Pair set is unchanged: each unordered pair surfaces exactly once,
    through the a-side row's single salt.

    Sizing rule: S = max(1, min(shuffle width, ``defaultParallelism``)).
    A salt past the core count adds a build-side copy but no parallel
    task, so S never exceeds the cores, and raising
    ``spark.sql.shuffle.partitions`` does not raise the replication. The
    cost is S copies of the build side through the exchange — linear in
    the corpus, amortized by the quadratic per-block verify whenever the
    average block size ≫ S.
    """
    spark = vectors.sparkSession
    width = shuffle_width(spark)
    salt = max(1, min(width, spark.sparkContext.defaultParallelism))
    # Precompute each vector's norm ONCE (n folds) instead of per pair
    # (2·n² folds) — same arithmetic, ~3× less work on the O(n²) stage.
    with_norm = vectors.select(
        F.col(id_col), F.col(vec_col), F.col(block_col).alias("__blk"),
        _norm(F.col(vec_col)).alias("__nrm"),
    )
    a = with_norm.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"),
        F.col("__blk"), F.col("__nrm").alias("n_a"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt)).alias("__salt"),
    )
    b = with_norm.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"),
        F.col("__blk"), F.col("__nrm").alias("n_b"),
        F.explode(
            F.sequence(F.lit(0), F.lit(salt - 1)).cast("array<bigint>")
        ).alias("__salt"),
    )
    # PIN both exchanges at the shuffle width: the shuffled bytes are tiny
    # (vectors + norms), so AQE's byte-targeted coalescing folds the join
    # back to ~1 partition — but the work here is the QUADRATIC per-block
    # fold downstream of the exchange, invisible to the byte target (same
    # lesson as lsh_band_window_pairs' candidate dedup, r10). The join
    # reuses the pinned partitioning, adding no exchange.
    a = a.repartition(width, "__blk", "__salt")
    b = b.repartition(width, "__blk", "__salt")
    return (
        a.join(b, ["__blk", "__salt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            # NULL for zero-norm operands (see cosine_similarity) — a NaN
            # here would pass the >= threshold filter below
            cosine_from_norms(F.col("v_a"), F.col("v_b"), F.col("n_a"), F.col("n_b")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# ANN: random-hyperplane LSH
# ---------------------------------------------------------------------------

def _hyperplane(dim: int, plane: int, seed: int = 7) -> list[float]:
    """Deterministic pseudo-random hyperplane from md5 bits (python-side
    constant — broadcast as a literal array)."""
    import hashlib

    comps = []
    for i in range(dim):
        h = hashlib.md5(f"{seed}|{plane}|{i}".encode()).hexdigest()
        comps.append((int(h[:12], 16) / float(2**48)) * 2.0 - 1.0)
    return comps


def lsh_signature(vec_col: Column, dim: int, n_planes: int = 8, seed: int = 7) -> Column:
    """Sign-of-dot-product bit signature: bit j = 1 iff v · h_j > 0.
    A NULL vector, one with a NULL element, or one of the WRONG LENGTH
    (its dot products are all or partially NULL, so every ``when`` would
    fall through) — gets a NULL signature: mapping corrupt vectors to 0
    would pile them into bucket 0 and let them survive Hamming pruning
    near signature 0.

    Built as ONE transform over a 2-D plane literal + ONE sum fold rather
    than n_planes independent dot/when chains: per-plane arithmetic and the
    bit weights are identical (2^j from the element index), but plan
    construction drops from ~3·n_planes higher-order-function round trips
    (~0.7 s at n_planes=16 — half this operator's sf0.1 build wall) to 3."""
    planes = lit_doubles_2d([_hyperplane(dim, j, seed) for j in range(n_planes)])
    weights = F.expr(
        "array(" + ",".join(str(2**j) + "L" for j in range(n_planes)) + ")"
    )
    bits = F.zip_with(
        planes,
        weights,
        lambda p, w: F.when(_dots(vec_col, p) > 0, w).otherwise(
            F.lit(0).cast("long")
        ),
    )
    sig = F.aggregate(bits, F.lit(0).cast("long"), lambda acc, x: acc + x)
    valid = (
        vec_col.isNotNull()
        & ~F.exists(vec_col, lambda x: x.isNull())
        & (F.size(vec_col) == F.lit(dim))
    )
    return F.when(valid, sig)


def lsh_band_window_pairs(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int = 16,
    n_bands: int = 4,
    window: int = 8,
    seed: int = 7,
    threshold: float | None = None,
    num_chunks: int | None = None,
) -> DataFrame:
    """LSH-candidate near-dup pairs with BOUNDED per-row fan-out — the
    production shape of the exact-verify stage (`pairs_above_threshold`
    is the raw-block variant whose work grows with block²; this one is
    linear in the corpus at every scale).

    Candidate generation: an ``n_planes``-bit hyperplane signature is
    split into ``n_bands`` bands; within each (band, band_value) bucket,
    rows sorted by id pair ONLY with their next ``window`` neighbors
    (sorted-neighborhood blocking — Hernández & Stolfo 1995 — composed
    with banded LSH). Per-row candidate fan-out is therefore at most
    ``n_bands * window`` regardless of bucket size, so total candidate
    volume is O(n) even when near-duplicate families grow with the
    corpus (the regime where all-bucket-pairs LSH degrades to block²).
    Exact cosine verification runs only on the deduplicated candidate
    set. Corrupt vectors (NULL / NULL element / wrong length) get a NULL
    signature and can never become candidates.

    Parallelism (round-9 fix): a window partitioned by (band, band_value)
    alone has at most ``n_bands * 2**(n_planes/n_bands)`` partitions (64
    with the defaults) — each window task would sort ~corpus/16 rows, a
    single-task scale-killer at 100 TB. Instead the exploded (band, bval,
    id) rows are RANGE-partitioned into ``num_chunks`` id-contiguous
    chunks (default: ``spark.sql.shuffle.partitions``, i.e. sized like
    every other shuffle) and the sorted-neighborhood ``lead()`` runs per
    chunk — each task sorts ~corpus·n_bands/num_chunks rows regardless of
    bucket cardinality. Chunk-boundary rows (the last ``window`` of each
    chunk) can have successors in following chunks; they are re-windowed
    in a second pass over ONLY the boundary subset (first + last
    ``window`` rows of every chunk, ≤ 2·num_chunks·window rows — bounded
    by the parallelism setting, not the data). Because range order is
    (band, bval, id) and bucket rows are therefore globally contiguous, a
    tail row's true next-``window`` bucket successors all lie in that
    subset (own-chunk tail rows, then following chunks' heads, chaining
    through undersized chunks), so the union of the two passes emits the
    EXACT pair set of the single-window formulation — verified against it
    property-wise in tests and by the unchanged DuckDB oracles.

    Returns (id_a, id_b, cosine) with id_a < id_b; ``threshold`` filters
    on the exact verified cosine when given.
    """
    from pyspark.sql import Window

    if n_planes % n_bands != 0:
        # silently dropping the high signature bits (e.g. 3 bands over 16
        # planes using only 15 bits) would weaken candidate recall with no
        # signal; the DuckDB oracle generator shares this contract
        raise ValueError(
            f"n_planes ({n_planes}) must be divisible by n_bands ({n_bands})"
        )
    r_bits = n_planes // n_bands
    base = vectors.select(
        F.col(id_col).alias("__id"),
        lsh_signature(F.col(vec_col), dim, n_planes, seed).alias("__sig"),
    ).filter(F.col("__sig").isNotNull())
    bands = F.array(
        *[
            F.shiftright(F.col("__sig"), r_bits * b).bitwiseAND(
                F.lit(2**r_bits - 1)
            )
            for b in range(n_bands)
        ]
    )
    exploded = materialize(
        base.select("__id", F.posexplode(bands).alias("__band", "__bval"))
    )
    # ^ eager: repartitionByRange runs a SAMPLING job over its child to
    # pick range boundaries, then the real exchange computes the child
    # AGAIN — without materialization the n_planes interpreted hyperplane
    # folds per row (the most expensive map work in this operator) run
    # twice per corpus row. The checkpointed rows are three longs each
    # (id, band, bval) — the guide-§8 "decide with small rows" proxy — so
    # materializing once is the scale-correct trade at any corpus size.
    # Exactness is boundary-agnostic (the two-pass window proof holds for
    # ANY chunking), so pinning sampled boundaries changes nothing.
    if num_chunks is None:
        num_chunks = shuffle_width(vectors.sparkSession)
    # Range partitioning on (band, bval, id) makes global order == (chunk,
    # local rank) order and keeps every bucket's rows contiguous across
    # chunk boundaries — the two facts the boundary pass's exactness proof
    # rests on. The lazy materialization pins the sampled range boundaries /
    # partition ids and computes the signature map exactly once even
    # though two passes consume it. ids only through the windows (the
    # vectors re-join below) — leading the embedding arrays themselves
    # would push window*dim doubles per row through the sorts.
    w_loc = Window.partitionBy("__pid").orderBy("__band", "__bval", "__id")
    w_cnt = Window.partitionBy("__pid")
    # rn + the chunk-local leads share w_loc, sz shares its partitioning —
    # all three resolve to ONE exchange + ONE sort of the bulk data.
    nb = F.array(
        *[
            F.lead(
                F.struct(
                    F.col("__band").alias("b"),
                    F.col("__bval").alias("v"),
                    F.col("__id").alias("i"),
                ),
                i,
            ).over(w_loc)
            for i in range(1, window + 1)
        ]
    )
    marked = materialize(
        exploded.repartitionByRange(num_chunks, "__band", "__bval", "__id")
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__rn", F.row_number().over(w_loc))
        .withColumn("__sz", F.count(F.lit(1)).over(w_cnt))
        .withColumn("__nb", nb),
        eager=False,
    )
    # Pass 1 (bulk, num_chunks-way parallel): interior rows — all
    # ``window`` leads live in the same chunk; a lead that crossed into
    # the next bucket is discarded by the (band, bval) match, exactly as
    # the bucket-scoped lead() returned NULL past the bucket end.
    is_tail = F.col("__rn") > F.col("__sz") - window
    interior_pairs = (
        marked.filter(~is_tail)
        .select(
            "__band", "__bval", F.col("__id").alias("id_a"),
            F.explode("__nb").alias("__n"),
        )
        .filter(
            F.col("__n").isNotNull()
            & (F.col("__n.b") == F.col("__band"))
            & (F.col("__n.v") == F.col("__bval"))
        )
        .select("id_a", F.col("__n.i").alias("id_b"))
    )
    # Pass 2 (boundary, ≤ 2·num_chunks·window rows): chunk-tail rows get
    # their true bucket successors from the bucket-scoped window over the
    # boundary subset — head rows participate only as lead targets.
    boundary = marked.filter((F.col("__rn") <= window) | is_tail).drop("__nb")
    w_bnd = Window.partitionBy("__band", "__bval").orderBy("__id")
    nb_bnd = F.array(
        *[F.lead("__id", i).over(w_bnd) for i in range(1, window + 1)]
    )
    tail_pairs = (
        boundary.withColumn("__nb", nb_bnd)
        .filter(is_tail)
        .select(F.col("__id").alias("id_a"), F.explode("__nb").alias("id_b"))
        .filter(F.col("id_b").isNotNull())
    )
    cand = (
        interior_pairs.unionByName(tail_pairs)
        # a pair can surface from several bands — dedup BEFORE paying the
        # exact verification. The dedup shuffle is pinned at num_chunks
        # partitions (hash on the pair key; dropDuplicates then needs no
        # second exchange) instead of `.distinct()`: the candidate rows are
        # two longs each, so AQE's byte-targeted coalescing folds them into
        # one or two partitions and the interpreted cosine folds of the
        # verify stage — the most expensive per-row work in the operator —
        # would run nearly serially. An explicit width keyed to the shuffle
        # setting scales with the session like every other exchange here.
        .repartition(num_chunks, "id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # Precompute each vector's norm ONCE on the corpus side of the joins (n
    # sqrt-folds) instead of inside cosine_similarity per candidate pair.
    # The inline form costs 5 interpreted 64-element folds per pair — dots
    # plus both norms, with the norms appearing twice (the zero-denominator
    # guard AND the division) — and a downstream ``cosine >= t`` filter gets
    # pushed into the join condition, re-evaluating the whole expression a
    # second time for surviving rows (10 folds/pair total). With norms as
    # plain join-carried columns only the dots fold remains per evaluation.
    # Bit-exact: denom is the same sqrt(fold(a·a)) * sqrt(fold(b·b)) doubles
    # in the same order, just materialized per vector instead of per pair.
    va = vectors.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        _norm(F.col(vec_col)).alias("__na"),
    )
    vb = vectors.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        _norm(F.col(vec_col)).alias("__nb"),
    )
    verified = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            cosine_from_norms(
                F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")
            ).alias("cosine"),
        )
    )
    if threshold is not None:
        verified = verified.filter(F.col("cosine") >= threshold)
    return verified


def topk_ann_lsh(
    vectors: DataFrame,
    query: DataFrame,
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_col: str = "q",
    n_planes: int = 8,
    max_hamming: int = 2,
    seed: int = 7,
) -> DataFrame:
    """ANN top-k: prune to vectors whose LSH signature is within
    ``max_hamming`` bits of the query's, then exact-score the survivors.

    At 100 TB the signature is a partition/bucket key — the scan prunes to
    matching buckets instead of filtering post-hoc; the shape below keeps the
    same semantics on the local tables.
    """
    sig_v = vectors.withColumn("__sig", lsh_signature(F.col(vec_col), dim, n_planes, seed))
    sig_q = query.withColumn("__qsig", lsh_signature(F.col(query_col), dim, n_planes, seed))
    joined = sig_v.crossJoin(F.broadcast(sig_q))
    pruned = joined.filter(
        F.bit_count(F.col("__sig").bitwiseXOR(F.col("__qsig"))) <= max_hamming
    )
    scored = pruned.withColumn(
        "score", F.round(cosine_similarity(F.col(vec_col), F.col(query_col)), 6)
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
        .drop(query_col, "__sig", "__qsig")
    )


# ---------------------------------------------------------------------------
# ANN: IVF (inverted file over a coarse quantizer)
# ---------------------------------------------------------------------------

def ivf_assign(
    vectors: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """Assign each vector to its nearest centroid by squared L2 (coarse
    quantization; ties on the lower cell, NULL for a corrupt vector).
    Centroids are a driver-side constant list (trained offline / sampled);
    assignment is map-side only, one Arrow batch at a time
    (``ml.nearest_centroid_udf``), and the plan size does not grow with k.
    At scale, write the table partitioned by ``cell`` so probes prune at
    the scan."""
    nearest = nearest_centroid_udf(centroids)
    return vectors.withColumn(out_col, nearest(F.col(vec_col))["cell"])


def topk_ivf(
    vectors: DataFrame,
    query: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_col: str = "q",
) -> DataFrame:
    """IVF top-k: score only vectors in the ``n_probe`` cells nearest to the
    query. Exact within probed cells; recall grows with n_probe. Cells come
    from ``ivf_assign``; the probe cells from ``ml.nearest_cells``, which
    raises ``ValueError`` on a query whose dimension differs from the
    centroids'."""
    qrows = query.select(query_col).collect()
    if not qrows or qrows[0][0] is None:
        raise ValueError("topk_ivf requires one row with a non-NULL query vector")
    probe_cells = nearest_cells(qrows[0][0], centroids, n_probe)
    assigned = ivf_assign(vectors, centroids, vec_col)
    pruned = assigned.filter(F.col("cell").isin(probe_cells))
    return topk_brute_force(pruned, query, k, id_col, vec_col, query_col).drop("cell")


def train_ivf_centroids(
    vectors: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Train the IVF coarse quantizer: up to 20 rounds of ``ml.lloyd`` on every
    row of ``vectors``, collected once and sorted by id, so the quantizer —
    and therefore every IVF cell assignment downstream — is identical on
    any cluster layout. A corrupt vector (NULL, a NULL or NaN element, a
    wrong length) raises ``ValueError``, as in ``pq.train_pq``. At 100 TB,
    pass a sample — quantizer quality saturates long before full-data
    training pays off — cut by a partition-independent filter (e.g.
    ``vec_id < 500`` or a hash of the id, never ``DataFrame.sample``, which
    is Bernoulli per partition); then assign the full corpus map-side via
    ``ivf_assign``."""
    return lloyd(collect_sample(vectors, vec_col, id_col), k, max_iter=20)


def quantize_int8(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector int8 scalar quantization: the storage-scale path for
    embedding columns (4× smaller than float32, 8× than float64; the usual
    first step before IVF/PQ indexes). Each vector is min/max-normalized to
    [0, 255] and shifted to [-128, 127]; the (vmin, vmax) pair rides along
    so dequantization is local to the row — no global codebook, map-side
    only, zero shuffles at any corpus size.

    Returns (id, vmin, vmax, codes array<int>, max_abs_err) where
    max_abs_err is the per-vector max |dequantize(code) - x| reconstruction
    error (≤ half a quantization step by construction — property-tested).

    Float contract (oracle-exact): all arithmetic in double with the same
    association both engines — code = round((x - vmin) * 255 / (vmax -
    vmin)) - 128, dequant = vmin + (code + 128) * (vmax - vmin) / 255 —
    and round() is half-away-from-zero on non-negative inputs in both Spark
    (HALF_UP) and DuckDB (C round). Constant vectors (vmax == vmin) quantize
    to all-zero codes with zero error rather than dividing by zero.
    """
    e = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    df = vectors.select(F.col(id_col), e.alias("__e"))
    vmin, vmax = F.array_min("__e"), F.array_max("__e")
    df = df.withColumn("__vmin", vmin).withColumn("__vmax", vmax)
    lo, hi = F.col("__vmin"), F.col("__vmax")
    spread = hi != lo

    def _code(x):
        return F.when(
            spread,
            F.round((x - lo) * F.lit(255.0) / (hi - lo)).cast("int") - F.lit(128),
        ).otherwise(F.lit(0))

    def _dequant(c):
        return lo + (c + F.lit(128)).cast("double") * (hi - lo) / F.lit(255.0)

    codes = F.transform(F.col("__e"), _code)
    errs = F.zip_with(F.col("__e"), codes, lambda x, c: F.abs(_dequant(c) - x))
    return df.select(
        F.col(id_col),
        lo.alias("vmin"),
        hi.alias("vmax"),
        codes.alias("codes"),
        F.round(F.array_max(errs), 6).alias("max_abs_err"),
    )
