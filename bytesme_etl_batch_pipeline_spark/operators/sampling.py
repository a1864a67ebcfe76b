"""Deterministic sampling & split assignment for training-data pipelines.

Engine extension (BASELINE.json north star). Spark's ``sample``/``sampleBy``
are seed-stable only for a fixed partitioning — a reshuffle, retry, or
cluster resize changes the picked rows. Training pipelines need sampling
that is a pure FUNCTION OF THE ROW: the same document lands in the same
split on any cluster, any day, which makes mixes reproducible and
incremental reruns consistent. Everything here derives from
``hash_uniform(stable_key, seed)`` (functions/seeded.py) — and is therefore
also replayable by the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..ckpt import materialize
from ..functions.seeded import hash_uniform


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    seed: int | str = 42,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the data-mixing primitive
    (e.g. keep 100% of high-quality docs, 10% of mid, 1% of low). Map-side
    filter, no shuffle; fractions are data, not code."""
    u = hash_uniform(F.col(key_col), seed)
    expr: Column = F.lit(default_fraction)
    for stratum, frac in fractions.items():
        expr = F.when(F.col(strata_col) == stratum, F.lit(frac)).otherwise(expr)
    return df.filter(u < expr)


def train_val_test_split(
    df: DataFrame,
    key_col: str,
    val_fraction: float = 0.1,
    test_fraction: float = 0.1,
    seed: int | str = 42,
    out_col: str = "split",
) -> DataFrame:
    """Assign each row to train/val/test by key hash. Stable across reruns
    and data growth: a document never migrates between splits when new data
    arrives (its hash doesn't change) — the property random splits lack."""
    u = hash_uniform(F.col(key_col), seed)
    train_cut = 1.0 - val_fraction - test_fraction
    return df.withColumn(
        out_col,
        F.when(u < train_cut, "train")
        .when(u < train_cut + val_fraction, "val")
        .otherwise("test"),
    )


def temperature_mix(
    df: DataFrame,
    key_col: str,
    source_col: str,
    coefficient: float = 4.0,
    seed: int | str = "mix",
) -> DataFrame:
    """Temperature-flattened source mixing: keep each source at rate
    ``min(1, coefficient / sqrt(n_source))`` — i.e. rate ∝ n^(α-1) with
    α = 1/2, the standard flattening that downweights giant sources and
    keeps small ones whole (the multinomial-mixing trick from the GPT-3 /
    multilingual-corpora lineage, expressed as a deterministic per-row
    filter instead of a sampler).

    Two-pass but cheap: pass 1 is a count per source (map-side partial →
    tiny result), broadcast back; pass 2 is a map-side hash filter — no
    corpus shuffle at any scale. sqrt (IEEE-exact, unlike pow) keeps the
    rate bit-identical across engines, so the whole mix is oracle-checkable.
    Returns kept rows with ``n_source`` and the applied ``rate``.
    """
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_source"))
    rates = counts.withColumn(
        "rate", F.least(F.lit(1.0), F.lit(float(coefficient)) / F.sqrt("n_source"))
    )
    u = hash_uniform(F.col(key_col), seed)
    return df.join(F.broadcast(rates), source_col).filter(u < F.col("rate"))


def shuffle_shards(
    df: DataFrame,
    key_col: str,
    n_shards: int = 8,
    seed: int | str = "shuffle",
) -> DataFrame:
    """Deterministic global shuffle into training shards: every row gets a
    hash-derived order key, a shard (key mod n_shards — hash-uniform, so
    shards balance), and a position within its shard. Training loaders then
    read shard files sequentially and still see a corpus-wide random order
    that is identical on every rerun, any partitioning, any cluster size —
    the property a ``DataFrame.orderBy(rand())`` shuffle lacks.

    Scale shape: ONE shuffle (the per-shard window). n_shards at 100 TB is
    thousands; each shard's window sorts only |rows|/n_shards rows. To
    write, follow with ``.repartition(n_shards, "shard")`` +
    ``.sortWithinPartitions("pos")`` + ``write.partitionBy("shard")`` — the
    window's partitioning is reusable, so AQE elides the second exchange.

    Returns the input columns + (ord48, shard, pos).
    """
    from pyspark.sql import Window

    from ..operators.textops import md5_hash48

    ord_key = md5_hash48(
        F.concat_ws("|", F.lit(str(seed)), F.col(key_col).cast("string"))
    )
    with_key = df.withColumn("ord48", ord_key).withColumn(
        "shard", (F.col("ord48") % n_shards).cast("int")
    )
    w = Window.partitionBy("shard").orderBy("ord48", key_col)
    return with_key.withColumn("pos", F.row_number().over(w).cast("long"))


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    n: int,
    seed: int | str = "wsample",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES):
    each row draws a deterministic exponential key ``-ln(u)/w`` from its
    hash uniform; the n smallest keys are the sample, with inclusion
    probability proportional to weight. Deterministic under any
    partitioning (u is a pure function of the row key), and distributed:
    ``orderBy().limit(n)`` compiles to TakeOrderedAndProject — per-partition
    heaps of size n, no global sort. Non-positive/NULL weights are excluded
    (their exponential key is undefined).

    The training-data use: sample a fixed-size mixture where weight encodes
    quality/length/source priority — reproducibly, so reruns and backfills
    draw the identical corpus slice.
    """
    # Clamp u away from exactly 0 (p ≈ 2^-48 per row: md5 48-bit prefix all
    # zeros). Unclamped, Spark's log(0) is NULL (row sorts first — always
    # sampled) while an oracle's -ln(0) is +inf (never sampled) — a latent
    # engine/oracle divergence. 2^-50 is exactly representable, so both
    # engines stay bit-identical; rows with u ≥ 2^-50 are untouched.
    u = F.greatest(hash_uniform(F.col(key_col), seed), F.lit(1.0 / 1125899906842624.0))
    w = F.col(weight_col).cast("double")
    es_key = -F.log(u) / w
    return (
        df.filter(w > 0)
        .withColumn("es_key", F.round(es_key, 6))
        .orderBy(es_key.asc(), F.col(key_col))
        .limit(n)
    )


def per_group_sample(
    df: DataFrame,
    key_col: str,
    group_col: str,
    n: int,
    seed: int | str = "pgsample",
) -> DataFrame:
    """Deterministic fixed-size sample per group: order each group by the
    row-key hash (a seeded uniform permutation) and keep the first ``n``.
    The streaming-free reservoir-sample replacement for bounded groups —
    same rows on any cluster/partitioning/retry, unlike
    ``sampleBy``/reservoir approaches. One shuffle (the window partition);
    each group sorts only its own rows.
    """
    from pyspark.sql import Window

    from ..operators.textops import md5_hash48

    ord_key = md5_hash48(
        F.concat_ws("|", F.lit(str(seed)), F.col(key_col).cast("string"))
    )
    w = Window.partitionBy(group_col).orderBy(ord_key.asc(), F.col(key_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def dsir_resample(
    docs: DataFrame,
    target_filter: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    k: int = 100,
    seed: int | str = "dsir",
) -> DataFrame:
    """DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every document
    by how target-like its hashed-unigram distribution is, then draw a
    fixed-size sample with Gumbel top-k — the standard way to select
    pretraining data that "looks like" a trusted corpus without training
    a classifier.

    Mechanics: each token hashes into one of ``n_buckets`` feature buckets
    (md5-derived, oracle-replayable); the target rows (``target_filter``)
    and the full corpus each induce an add-1-smoothed bucket distribution;
    a document's log importance weight is the sum over its tokens of
    ``ln p_target(bucket) - ln p_raw(bucket)``. Sampling WITHOUT
    replacement ∝ exp(weight) is exactly Gumbel top-k: add a seeded Gumbel
    ``-ln(-ln U)`` per doc and keep the k largest keys.

    Scale shape: ONE token-level aggregation computes BOTH bucket counts
    (conditional count — not two passes), collapses to ``n_buckets`` rows,
    and broadcasts back onto the token stream; per-doc scoring is one
    doc-keyed aggregation and the top-k is TakeOrderedAndProject — no
    global sort, no driver state. Weights and keys round to 1e-6 before
    ranking so the cut line is reproducible across engines; ties break on
    the id.
    """
    from ..operators.textops import md5_hash48, words

    tok = docs.select(
        F.col(id_col),
        target_filter.alias("__is_tgt"),
        F.explode(words(text_col)).alias("token"),
    ).select(
        id_col,
        "__is_tgt",
        (md5_hash48(F.concat(F.lit(f"{seed}|"), F.col("token"))) % n_buckets).alias(
            "bucket"
        ),
    )
    # PERF (r10): `per_bucket` feeds BOTH `totals` and `ratio`; without
    # materialization Catalyst replays the tokenize→explode→md5 pass (the
    # operator's dominant cost) once per consumer. The artifact is exactly
    # ``n_buckets`` rows, so the eager checkpoint is free at any corpus
    # size and the token stream is scanned once to build it.
    per_bucket = materialize(
        tok.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt_raw"),
            F.sum(F.when(F.col("__is_tgt"), 1).otherwise(0)).alias("cnt_tgt"),
        )
    )
    totals = per_bucket.agg(
        F.sum("cnt_raw").alias("tot_raw"), F.sum("cnt_tgt").alias("tot_tgt")
    )
    ratio = per_bucket.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log(
                (F.col("cnt_tgt") + 1).cast("double")
                / (F.col("tot_tgt") + n_buckets).cast("double")
            )
            - F.log(
                (F.col("cnt_raw") + 1).cast("double")
                / (F.col("tot_raw") + n_buckets).cast("double")
            )
        ).alias("logratio"),
    )
    scored = (
        tok.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.sum("logratio"), 6).alias("log_weight"),
        )
    )
    base = docs.select(id_col).join(scored, id_col, "left")
    u = (
        md5_hash48(F.concat_ws("|", F.lit(f"{seed}-g"), F.col(id_col).cast("string")))
        + F.lit(0.5)
    ) / F.lit(float(2**48))
    gumbel = -F.log(-F.log(u))
    keyed = base.select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("log_weight", F.lit(0.0)).alias("log_weight"),
        F.round(F.coalesce("log_weight", F.lit(0.0)) + gumbel, 6).alias("gumbel_key"),
    )
    return keyed.orderBy(F.col("gumbel_key").desc(), F.col(id_col).asc()).limit(k)
