"""Distributed Bloom filter build + broadcast probe (engine extension).

The 100 TB decontamination / anti-join pattern: when the "forbidden set"
(benchmark n-grams, seen-URL digests, previously ingested keys) is too large
to broadcast *exactly* but its Bloom filter is not, build the filter
distributed (one bitset per partition, OR-merged on the driver via
``treeReduce``) and probe it executor-side with an Arrow-vectorized pandas
UDF. The probe cuts the big side of the subsequent *exact* join by the true
hit rate (≈ overlap + fpp), which at scale converts a corpus-wide shuffle
join into a shuffle over only the candidate rows. False positives are then
removed by the exact join, so the end-to-end result is bit-identical to the
plain join — the filter is pure optimization, never semantics.

This mirrors the JVM ``BloomFilterAggregate`` Spark uses for runtime row-level
filtering (not exposed to PySpark 4.1), with the same Kirsch–Mitzenmacher
double hashing over a single ``xxhash64`` so build and probe agree exactly.

The per-partition bitset build is genuinely per-partition imperative work —
the documented last-resort case for dropping to ``mapPartitions``.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..ckpt import materialize, release


@dataclass
class BloomFilter:
    """m-bit filter as packed uint64 words; k probes via double hashing."""

    bits: np.ndarray  # uint64[m_words]
    n_bits: int
    n_hashes: int

    def might_contain_hashes(self, h: np.ndarray) -> np.ndarray:
        """Vectorized membership test over xxhash64 values (int64 array)."""
        hu = h.astype(np.int64).view(np.uint64)
        h1 = hu & np.uint64(0xFFFFFFFF)
        h2 = (hu >> np.uint64(32)) | np.uint64(1)  # odd → full-period stride
        out = np.ones(len(hu), dtype=bool)
        m = np.uint64(self.n_bits)
        for i in range(self.n_hashes):
            idx = (h1 + np.uint64(i) * h2) % m
            word = (idx >> np.uint64(6)).astype(np.int64)
            bit = np.uint64(1) << (idx & np.uint64(63))
            out &= (self.bits[word] & bit) != 0
        return out


def _sizing(expected_items: int, fpp: float) -> tuple[int, int]:
    n = max(1, expected_items)
    m = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    m = (m + 63) // 64 * 64  # whole words
    k = max(1, round(m / n * math.log(2)))
    return m, k


# Cap on first-level bitsets (one per build partition) that enter the merge.
_MAX_BITSETS = 256


def build_bloom(
    df: DataFrame,
    col: str,
    expected_items: int,
    fpp: float = 0.01,
    merge_fanout: int = 8,
) -> BloomFilter:
    """Build the filter over ``df[col]`` distributed: hash JVM-side
    (``xxhash64``), set bits per partition in an Arrow-batched
    ``mapInPandas`` stage (one packed bitset row per partition), then
    OR-merge the bitsets in an executor-side reduce tree
    (``merge_fanout``-ary ``reduceByKey`` rounds) and stream the final
    ≤``merge_fanout`` partials through the driver one at a time. Driver
    peak is therefore ~2 bitsets (2·m/8 bytes) NO MATTER how many build
    partitions or items — at 100M items / 1% fpp (m ≈ 120 MB) that is a
    ~240 MB driver transient where the former flat collect-and-merge grew
    linearly with partition count. Executor peak per merge task is
    ``merge_fanout``·m/8.

    The Arrow path (not an RDD ``mapPartitions``) matters twice: no
    row-at-a-time pickle of the hash column, and it reuses the pandas-UDF
    worker pool every other Python stage already warmed. ``coalesce`` caps
    the first-level bitsets at ``_MAX_BITSETS`` (256), so total merge
    traffic stays at ≤256·m/8 across the cluster."""
    n_bits, n_hashes = _sizing(expected_items, fpp)
    n_words = n_bits // 64
    # Unconditional coalesce: coalesce() only ever REDUCES partition count
    # (above the current count it is a pass-through), so the cap needs no
    # ``.rdd.getNumPartitions()`` probe — which under AQE materializes the
    # upstream query stages as a separate job before the build even starts
    # (r11; guide §1.2 — don't pay a job to learn what a no-op answers).
    hashes = df.select(F.xxhash64(F.col(col)).alias("h")).coalesce(
        _MAX_BITSETS
    )

    def set_bits(batches):
        bits = np.zeros(n_words, dtype=np.uint64)
        saw = False
        for pdf in batches:
            h = pdf["h"].to_numpy(dtype=np.int64).view(np.uint64)
            if not len(h):
                continue
            saw = True
            h1 = h & np.uint64(0xFFFFFFFF)
            h2 = (h >> np.uint64(32)) | np.uint64(1)
            m = np.uint64(n_bits)
            for i in range(n_hashes):
                idx = (h1 + np.uint64(i) * h2) % m
                np.bitwise_or.at(
                    bits,
                    (idx >> np.uint64(6)).astype(np.int64),
                    np.uint64(1) << (idx & np.uint64(63)),
                )
        if saw:
            import pandas as pd

            yield pd.DataFrame({"bits": [bits.tobytes()]})

    def _or(a: bytes, b: bytes) -> bytes:
        return (
            np.frombuffer(a, dtype=np.uint64) | np.frombuffer(b, dtype=np.uint64)
        ).tobytes()

    # RDD of ≤1 packed bitset per partition → fanout-ary executor-side
    # reduce tree. reduceByKey keys bitsets by (partition index mod width)
    # so each round ORs ~fanout bitsets per task and cuts the count by
    # fanout, until ≤fanout remain.
    bitsets = (
        hashes.mapInPandas(set_bits, schema="bits binary")
        .rdd.map(lambda r: bytes(r.bits))
    )
    n_parts = bitsets.getNumPartitions()
    while n_parts > merge_fanout:
        width = max(merge_fanout, n_parts // merge_fanout)
        bitsets = (
            bitsets.mapPartitionsWithIndex(
                lambda idx, it, w=width: ((idx % w, b) for b in it)
            )
            .reduceByKey(_or, numPartitions=width)
            .values()
        )
        n_parts = width
    # Final fold streams one bitset at a time through the driver.
    merged = np.zeros(n_words, dtype=np.uint64)
    for b in bitsets.toLocalIterator():
        merged |= np.frombuffer(b, dtype=np.uint64)
    return BloomFilter(bits=merged, n_bits=n_bits, n_hashes=n_hashes)


def bloom_might_contain(df_or_spark, bloom: BloomFilter, col: str | Column) -> Column:
    """Boolean probe column. The bitset ships once per executor via a Spark
    broadcast; the probe itself is Arrow-batched numpy, no per-row Python."""
    spark = getattr(df_or_spark, "sparkSession", df_or_spark)
    bc = spark.sparkContext.broadcast((bloom.bits, bloom.n_bits, bloom.n_hashes))

    @pandas_udf("boolean")
    def probe(h):
        import pandas as pd

        bits, n_bits, n_hashes = bc.value
        bf = BloomFilter(bits=bits, n_bits=n_bits, n_hashes=n_hashes)
        return pd.Series(bf.might_contain_hashes(h.to_numpy(dtype=np.int64)))

    c = F.col(col) if isinstance(col, str) else col
    return probe(F.xxhash64(c))


def bloom_decontaminate(
    corpus_grams: DataFrame,
    eval_grams: DataFrame,
    gram_col: str = "gram",
    fpp: float = 0.01,
    expected_items: int | None = None,
) -> DataFrame:
    """Contaminated-doc detection with a Bloom prefilter: probe every corpus
    gram against the eval-set filter, then verify only the candidates with
    the exact join. Returns distinct contaminated ``doc_id``s. Identical
    output to the filter-less join; the filter bounds the exact join's input
    to |true hits| + fpp·|corpus grams|."""
    # The eval gram set is consumed twice (filter build, verification
    # join), so it is materialized once and released before return: repeated
    # calls must not accumulate one benchmark-sized gram set each. A caller's
    # own cache of ``eval_grams`` is left as it is.
    eval_grams = materialize(eval_grams)
    try:
        # Sizing: an upstream ESTIMATE is enough — oversizing only widens the
        # bitset (still KBs/MBs), undersizing only raises fpp, never correctness
        # (the exact join sheds every false positive). Passing one avoids a
        # dedicated count job over the exploded gram set.
        n_eval = expected_items if expected_items is not None else eval_grams.count()
        bloom = build_bloom(eval_grams, gram_col, expected_items=n_eval, fpp=fpp)
        candidates = corpus_grams.filter(
            bloom_might_contain(corpus_grams, bloom, gram_col)
        )
        # exact verification sheds false positives. LEFT SEMI (r11): the join
        # only decides membership, so no eval columns are carried and the eval
        # side needs NO distinct: duplicate grams can't duplicate a semi-join
        # match, which lets callers skip a whole dedup shuffle of the eval gram
        # set (guide §2.4). The (contaminated-id-sized) result is materialized
        # so the gram set can be released; the caller may ``ckpt.release`` it.
        return materialize(
            candidates.join(eval_grams.select(gram_col), gram_col, "left_semi")
            .select("doc_id")
            .distinct()
        )
    finally:
        release(eval_grams)
