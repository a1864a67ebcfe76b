"""Bloom filter operator (operators/bloom.py) + C4-style segment dedup
(neardup.segment_dedup): correctness, fpp behavior, and junk inputs."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from bytesme_etl_batch_pipeline_spark.ckpt import release
from bytesme_etl_batch_pipeline_spark.operators.bloom import (
    BloomFilter,
    _sizing,
    bloom_might_contain,
    build_bloom,
)
from bytesme_etl_batch_pipeline_spark.operators.neardup import segment_dedup


def test_bloom_no_false_negatives_and_bounded_fpp(spark):
    members = spark.range(0, 2000).selectExpr("concat('key-', id) AS k")
    bloom = build_bloom(members, "k", expected_items=2000, fpp=0.01)

    flags = members.select(bloom_might_contain(members, bloom, "k").alias("hit")).collect()
    assert all(r.hit for r in flags)  # Bloom property: zero false negatives

    others = spark.range(0, 10000).selectExpr("concat('other-', id) AS k")
    fp = others.select(bloom_might_contain(others, bloom, "k").alias("hit"))
    fp_rate = fp.filter("hit").count() / 10000
    assert fp_rate < 0.03  # 3× slack over the 1% design point


def test_bloom_sizing_monotone():
    m1, _ = _sizing(1000, 0.01)
    m2, _ = _sizing(1000, 0.001)
    assert m2 > m1  # tighter fpp → more bits
    m3, k3 = _sizing(0, 0.01)
    assert m3 >= 64 and k3 >= 1  # empty input stays well-formed


def test_bloom_probe_matches_build_hashing():
    """Build and probe must share the exact double-hashing scheme: a filter
    probed with the very hashes that built it always answers yes."""
    h = np.array([1, -5, 2**62, -(2**60)], dtype=np.int64)
    bf = BloomFilter(bits=np.zeros(16, dtype=np.uint64), n_bits=1024, n_hashes=5)
    hu = h.view(np.uint64)
    h1, h2 = hu & np.uint64(0xFFFFFFFF), (hu >> np.uint64(32)) | np.uint64(1)
    for i in range(bf.n_hashes):
        idx = (h1 + np.uint64(i) * h2) % np.uint64(bf.n_bits)
        np.bitwise_or.at(
            bf.bits, (idx >> np.uint64(6)).astype(np.int64),
            np.uint64(1) << (idx & np.uint64(63)),
        )
    assert bf.might_contain_hashes(h).all()


def test_segment_dedup_keeps_first_occurrence(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h x y"),  # seg0 = 'a..h', seg1 = 'x y'
            (2, "a b c d e f g h z z"),  # seg0 duplicates doc 1 → dropped
            (3, "x y"),  # whole doc duplicates doc 1's tail segment
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in segment_dedup(docs, seg_words=8).collect()}
    assert out[1].clean_text == "a b c d e f g h x y"
    assert (out[1].n_kept, out[1].n_dropped) == (2, 0)
    assert out[2].clean_text == "z z"
    assert (out[2].n_kept, out[2].n_dropped) == (1, 1)
    assert out[3].clean_text == ""
    assert (out[3].n_kept, out[3].n_dropped) == (0, 1)


def test_segment_dedup_junk_inputs(spark):
    """Empty/whitespace/NULL text must survive (yield empty clean_text), and
    a short doc (< seg_words words) is its own single segment."""
    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None), (4, "one two")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in segment_dedup(docs, seg_words=8).collect()}
    for i in (1, 2, 3):
        assert out[i].clean_text == "" and out[i].n_kept == 0 and out[i].n_dropped == 0
    assert out[4].clean_text == "one two" and out[4].n_kept == 1


def test_shuffle_shards_deterministic_and_partition_invariant(spark, tmp_path):
    """Same (key, seed) → same (shard, pos) regardless of input partitioning;
    positions are contiguous 1..n within each shard; the shard-partitioned
    write round-trips in position order."""
    from bytesme_etl_batch_pipeline_spark.operators.sampling import shuffle_shards

    base = spark.range(0, 1000).selectExpr("id AS doc_id", "concat('t', id) AS text")
    a = shuffle_shards(base, "doc_id", n_shards=4).collect()
    b = shuffle_shards(base.repartition(13), "doc_id", n_shards=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    by_shard = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))

    out = str(tmp_path / "shards")
    df = shuffle_shards(base, "doc_id", n_shards=4)
    df.repartition(4, "shard").sortWithinPartitions("pos").write.partitionBy(
        "shard"
    ).parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == 1000 and back.select("shard").distinct().count() == 4


def test_bloom_tree_merge_many_partitions(spark):
    """The executor-side reduce tree must run (>fanout first-level bitsets)
    and still produce a filter with zero false negatives."""
    members = spark.range(0, 5000).selectExpr("concat('key-', id) AS k").repartition(40)
    bloom = build_bloom(members, "k", expected_items=5000, fpp=0.01, merge_fanout=4)
    flags = members.select(bloom_might_contain(members, bloom, "k").alias("hit"))
    assert flags.filter("NOT hit").count() == 0


def test_bloom_large_expected_items_driver_bounded(spark):
    """expected_items=100M sizes the bitset at ~120 MB; the streamed tree
    merge keeps driver peak at ~2 bitsets, so this must complete quickly
    in a 4-partition build instead of collecting partitions linearly."""
    members = spark.range(0, 1000).selectExpr("concat('key-', id) AS k").repartition(4)
    bloom = build_bloom(members, "k", expected_items=100_000_000, fpp=0.01)
    assert bloom.n_bits >= 8 * 100_000_000  # ~9.6 bits/item at 1% fpp
    flags = members.select(bloom_might_contain(members, bloom, "k").alias("hit"))
    assert flags.filter("NOT hit").count() == 0


def test_bloom_decontaminate_releases_gram_cache(spark):
    """The benchmark-sized eval-gram set must be released before return —
    repeated decontamination calls (per-benchmark, per-batch) would
    otherwise accumulate one gram set each for the session lifetime. Only
    the id-sized result stays pinned (callers may release it)."""
    from bytesme_etl_batch_pipeline_spark.operators.bloom import (
        bloom_decontaminate,
    )

    corpus = spark.createDataFrame(
        [(1, "a b c"), (2, "x y z")], "doc_id long, text string"
    ).selectExpr("doc_id", "explode(split(text, ' ')) AS gram")
    ev = spark.createDataFrame([("a b c",)], "text string").selectExpr(
        "explode(split(text, ' ')) AS gram"
    )
    sc = spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs().keySet().toArray())
    out = bloom_decontaminate(corpus, ev)
    assert [r["doc_id"] for r in out.collect()] == [1]
    after = len(sc._jsc.getPersistentRDDs().keySet().toArray())
    assert after - before <= 1, "gram cache leaked"
    release(out)


def test_bloom_decontaminate_preserves_caller_cache(spark):
    """ADVICE r4 (low): a CALLER-cached eval-gram frame (reused across
    several decontamination calls) must keep its cache entry — the
    function only releases the cache it created itself."""
    from bytesme_etl_batch_pipeline_spark.operators.bloom import (
        bloom_decontaminate,
    )

    corpus = spark.createDataFrame(
        [(1, "a b c"), (2, "x y z")], "doc_id long, text string"
    ).selectExpr("doc_id", "explode(split(text, ' ')) AS gram")
    ev = (
        spark.createDataFrame([("a b c",)], "text string")
        .selectExpr("explode(split(text, ' ')) AS gram")
        .cache()
    )
    try:
        out1 = bloom_decontaminate(corpus, ev)
        assert [r["doc_id"] for r in out1.collect()] == [1]
        assert ev.is_cached, "caller's cache entry was dropped"
        out2 = bloom_decontaminate(corpus, ev)  # reuse still works
        assert [r["doc_id"] for r in out2.collect()] == [1]
        assert ev.is_cached
        release(out1), release(out2)
    finally:
        ev.unpersist()


def test_bloom_decontaminate_leaves_no_cache_entry(spark):
    """Two calls add no CacheManager entry and pin no RDD beyond each
    returned frame's own, which ``release`` frees."""
    from bytesme_etl_batch_pipeline_spark.operators.bloom import (
        bloom_decontaminate,
    )

    corpus = spark.createDataFrame(
        [(1, "a b c"), (2, "x y z")], "doc_id long, text string"
    ).selectExpr("doc_id", "explode(split(text, ' ')) AS gram")
    ev = spark.createDataFrame([("a b c",)], "text string").selectExpr(
        "explode(split(text, ' ')) AS gram"
    )
    sc = spark.sparkContext
    cache = spark._jsparkSession.sharedState().cacheManager()
    empty_before = cache.isEmpty()

    def pinned():
        return {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}

    before = pinned()
    outs = [bloom_decontaminate(corpus, ev) for _ in range(2)]
    for o in outs:
        assert [r["doc_id"] for r in o.collect()] == [1]
        assert cache.lookupCachedData(o._jdf).isEmpty()
    assert cache.isEmpty() == empty_before
    own = {o._jdf.queryExecution().analyzed().rdd().id() for o in outs}
    assert pinned() - before == own
    for o in outs:
        release(o)
    assert pinned() == before
