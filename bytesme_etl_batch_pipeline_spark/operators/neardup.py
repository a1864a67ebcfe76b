"""Near-duplicate detection for LLM training corpora.

Engine extension surface (BASELINE.json north star): exact content dedup,
MinHash + LSH, SimHash Hamming pairs, n-gram Jaccard. The reference only has
keyed exact dedup (SURVEY §2.3); these scale that idea to fuzzy content
matching.

Scale design:
* Exact dedup — hash-groupBy on a content digest: one shuffle, no pairwise
  work. The only O(n²)-free exact method and the 100 TB default.
* MinHash/LSH — signatures are per-doc map-side work; candidate generation is
  an equi-join on (band, band_hash), so cost tracks true-duplicate density,
  not n². This is the standard web-scale pipeline (shingle → minhash →
  band → bucket-join → verify).
* n-gram Jaccard — exact pairwise verification; always *blocked* (here by a
  blocking key, in LSH by band buckets). Never run unblocked at scale.
* Hash primitive is md5-derived 48-bit ints (textops.md5_hash48) so DuckDB
  oracles can replay values exactly; a production deployment would swap in
  xxhash64 (same shape, faster).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..ckpt import materialize
from .textops import md5_hash48, words


def exact_dedup_by_content(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact content dedup: keep the lowest-id row per normalized-content
    digest. One shuffle on the digest; survivors keep their full row.

    Requires ``id_col`` to be unique per row (true for every caller — it is
    the table PK): the survivor-ID set then identifies surviving rows by id
    alone, so the join back is a LEFT SEMI on the bare id — the probe side
    never computes the md5 digest and the join shuffles/sorts one id column
    instead of (32-hex digest, id). min(id) over a digest class is an id of
    a row IN that class, so an id can only be "its own class's survivor" —
    membership on id alone is exactly the old (digest, id) equi-join."""
    # NULL text would make the equality join drop BOTH rows (NULL digest
    # never equals NULL); give NULLs their own content class (sentinel can't
    # collide with 32-hex md5 output).
    digest = F.coalesce(F.md5(F.lower(F.trim(F.col(text_col)))), F.lit("__NULL__"))
    keep_ids = (
        df.select(F.col(id_col), digest.alias("__digest"))
        .groupBy("__digest")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep_ids, on=[id_col], how="left_semi")


def word_ngrams(col: Column | str, n: int = 2) -> Column:
    """Distinct word n-gram shingles of a text column (pure expression:
    transform over a sequence of start offsets + slice + join).

    PERF: pass a *materialized array column reference* (see
    ``_shingle_rows``), not an inline ``words(text)`` expression — an inline
    expression re-evaluates the split per lambda element (~4× slower
    measured at sf0.1)."""
    ws = F.col(col) if isinstance(col, str) else col
    # Guard: Spark sequence(1, 0) is DESCENDING [1, 0], not empty — a text
    # shorter than n words must yield an empty shingle set.
    starts = F.when(
        F.size(ws) >= n, F.sequence(F.lit(1), F.size(ws) - F.lit(n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(starts, lambda i: F.array_join(F.slice(ws, i, n), " "))
    return F.array_distinct(grams)


def _shingle_rows(df: DataFrame, id_col: str, text_col: str, n: int, extra: list[str] | None = None) -> DataFrame:
    """(id, shingle) rows with the words array materialized once per row."""
    return (
        df.withColumn("__ws", words(text_col))
        .select(
            F.col(id_col),
            *[F.col(c) for c in (extra or [])],
            F.explode(word_ngrams(F.col("__ws"), n)).alias("__shingle"),
        )
    )


def blocked_shingle_commons(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    n: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """One-pass blocked shingle machinery shared by the Jaccard/containment
    pair operators: → ``(sizes, common)`` where ``sizes`` is
    (id_col, __sz) — distinct-shingle count per doc that HAS shingles —
    and ``common`` is (doc_a, doc_b, n_common) within the blocking key.

    The shingle projection (split → n-gram HOFs → explode) is the dominant
    map work and Catalyst cannot share a self-join's child, so the naive
    shape evaluates it once per join side plus once for the sizes — three
    corpus passes. Instead the exploded rows are reduced to
    (id, block, xxhash64(shingle)) — longs plus the small block key — and
    materialized ONCE (guide §8: decide with small rows;
    §2.4: multi-consumer subtrees): the self-join probes the checkpoint on
    the 8-byte hash instead of re-deriving and shuffling shingle STRINGS,
    and sizes fall out of the same rows as a count per id (shingles are
    per-doc distinct), so no third pass exists at all. Docs with zero
    shingles drop out of ``sizes``, which is invisible downstream: every
    consumer joins sizes only to ids that appear in ``common``, and those
    have ≥ 1 shingle by construction.

    Joining on the 64-bit hash is result-identical unless two DISTINCT
    shingles of one block collide (p ≈ pairs²/2⁶⁵); verified exact against
    the string-join formulation in tests and by the unchanged DuckDB
    oracles at every gated SF.
    """
    cp = materialize(
        _shingle_rows(df, id_col, text_col, n, extra=[block_col])
        .select(
            F.col(id_col),
            F.col(block_col),
            F.xxhash64("__shingle").alias("__sh"),
        )
    )
    sizes = cp.groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz"))
    a = cp.select(
        F.col(block_col), F.col(id_col).alias("doc_a"), F.col("__sh")
    )
    b = cp.select(
        F.col(block_col), F.col(id_col).alias("doc_b"), F.col("__sh")
    )
    common = (
        a.join(b, [block_col, "__sh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return sizes, common


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    n: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Blocked n-gram Jaccard: explode distinct shingles, self-join within the
    blocking key, count common shingles, Jaccard = |∩| / (|A|+|B|-|∩|).

    The blocking key bounds the candidate space (only same-block pairs are
    compared); at web scale the block is an LSH bucket instead of a metadata
    column, but the verify math is identical. The shingle pass runs ONCE —
    see ``blocked_shingle_commons``.

    Collision caveat: shingles match on their 64-bit ``xxhash64``, not
    their text. Two distinct shingles of one block that collide count as
    shared (p ≈ pairs²/2⁶⁵), which can only raise ``n_common``. There is
    no exact-match mode.
    """
    sizes_src, common = blocked_shingle_commons(df, id_col, text_col, block_col, n)
    sizes = sizes_src.select(F.col(id_col).alias("doc_a"), F.col("__sz").alias("size_a"))
    sizes_b = sizes_src.select(F.col(id_col).alias("doc_b"), F.col("__sz").alias("size_b"))
    jac = (
        common.join(sizes, "doc_a")
        .join(sizes_b, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return jac.select("doc_a", "doc_b", "n_common", "jaccard")


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 8, shingle_n: int = 1
) -> DataFrame:
    """MinHash signature rows (doc, seed, minhash): for each seed, the min
    over shingles of hash48(seed || '|' || shingle).

    Hashes are computed per (doc, shingle) occurrence directly inside the
    aggregation: k md5s per row map-side, partial aggregation shrinks the
    shuffle to ~|docs| rows, ONE pass over the corpus, zero joins. (An
    earlier revision hashed the distinct-shingle DICTIONARY and joined it
    back to save md5 calls — but that plan ran the expensive
    words→ngrams→explode split TWICE (dictionary branch + occurrence
    branch, Catalyst cannot share a distinct's child with its sibling) and
    added a dictionary shuffle/broadcast; the split + join cost more than
    the md5s they saved at every measured SF, and at 100 TB the second
    corpus pass is strictly worse. min() over per-doc occurrences equals
    min() over the dictionary, so values are bit-identical either way —
    the DuckDB oracle is unchanged.)"""
    sh = _shingle_rows(df, id_col, text_col, shingle_n)
    mins = sh.groupBy(id_col).agg(
        *[
            F.min(
                md5_hash48(F.concat(F.lit(f"{i}|"), F.col("__shingle")))
            ).alias(f"__h{i}")
            for i in range(num_hashes)
        ]
    )
    stack_args = ", ".join(f"{i}, __h{i}" for i in range(num_hashes))
    return mins.select(
        id_col,
        F.expr(f"stack({num_hashes}, {stack_args}) AS (seed, minhash)"),
    ).select(id_col, F.col("seed").cast("int").alias("seed"), "minhash")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 1,
) -> DataFrame:
    """LSH candidate pairs: group the signature into ``bands`` bands of
    ``num_hashes/bands`` rows, hash each band, equi-join on (band, hash).

    Returns distinct (doc_a, doc_b) candidates — feed into
    ``ngram_jaccard_pairs``-style verification for the final decision.
    """
    assert num_hashes % bands == 0, "bands must divide num_hashes evenly"
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    return lsh_pairs_from_signatures(sig, id_col, num_hashes, bands)


def lsh_pairs_from_signatures(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """Banding half of ``minhash_lsh_pairs``, taking PRE-COMPUTED
    ``(id, seed, minhash)`` signature rows — callers that also need the
    signatures themselves (estimator-quality reports, persisted sketch
    stores) materialize them once and band here, instead of paying the
    full shingle→dictionary→min pipeline a second time."""
    rows_per_band = num_hashes // bands
    # Band hash over SEED-ordered minhashes: sorting by value would make
    # permuted signatures collide (false candidates beyond the (1-s^r)^b
    # LSH model). sort_array on struct(seed, minhash) restores seed order.
    banded = (
        sig.withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
        .groupBy(id_col, "band")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("seed"), F.col("minhash")))
                        ),
                        lambda s: s.minhash.cast("string"),
                    ),
                    ",",
                )
            ).alias("band_hash")
        )
    )
    # NB: an aliased self-join (identical subtrees both sides) was A/B'd
    # hoping Spark's exchange-reuse would compute the signature pipeline
    # once — ReusedExchange does not fire for this shape (collect_list
    # aggregate) and timings were identical, so the simpler rename-first
    # formulation stays.
    left = banded.select(F.col(id_col).alias("doc_a"), "band", "band_hash")
    right = banded.select(F.col(id_col).alias("doc_b"), "band", "band_hash")
    return (
        left.join(right, on=["band", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def simhash_hamming_pairs(
    sim: DataFrame, id_col: str, simhash_col: str, max_hamming: int, block_col: str
) -> DataFrame:
    """SimHash near-dup pairs: Hamming distance via bit_count(xor) within a
    blocking key. At scale the block is a band of the simhash itself
    (pigeonhole: any pair within distance d shares one of d+1 bands)."""
    a = sim.select(
        F.col(id_col).alias("doc_a"),
        F.col(simhash_col).alias("sh_a"),
        F.col(block_col).alias("__blk"),
    )
    b = sim.select(
        F.col(id_col).alias("doc_b"),
        F.col(simhash_col).alias("sh_b"),
        F.col(block_col).alias("__blk"),
    )
    return (
        a.join(b, "__blk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def neardup_filter(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Dedup decision: given verified near-dup pairs (doc_a < doc_b), drop
    every doc that appears as the higher id of a pair (keep-lowest policy —
    the fuzzy analogue of exact keep-first). Anti-join against the removal
    set: one broadcast-able join, no pairwise work on the corpus side."""
    removals = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return df.join(removals, on=id_col, how="left_anti")


def decontaminate_overlap(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: per training document, the number of
    distinct word n-grams it shares with ANY evaluation document (the
    GPT-3/PaLM-style n-gram overlap screen — a training corpus must be
    scrubbed of benchmark text before the benchmark means anything).

    Scale shape: the eval side is benchmark-sized (MBs, not TBs) — its
    distinct n-gram set is broadcast, so the corpus-side scan never
    shuffles on shingles; the only shuffle is the per-doc hit count
    (groupBy id), ~|contaminated docs| rows. Train docs with no overlap
    keep n_overlap = 0 via the left join back to the id spine.

    Returns (id, n_overlap, contaminated).
    """
    tr = _shingle_rows(train, id_col, text_col, n)
    ev = (
        eval_df.withColumn("__ws", words(text_col))
        .select(F.explode(word_ngrams(F.col("__ws"), n)).alias("__shingle"))
        .distinct()
    )
    # shingles are per-doc distinct already (word_ngrams → array_distinct),
    # so a plain count is the distinct-overlap count
    hits = tr.join(F.broadcast(ev), "__shingle").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def _word_segments(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    seg_words: int,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Shared segmentation front half of ``segment_dedup`` /
    ``boilerplate_removal``: explode each doc into consecutive
    ``seg_words``-word segments as ``(id[, extra...], pos, seg)``."""
    # materialized column, not an inline words() expression — an inline
    # expression re-splits the text at every lambda reference (the
    # word_ngrams PERF note; measured 6x on the bigram query)
    base = docs.select(
        F.col(id_col), *[F.col(c) for c in extra_cols], words(text_col).alias("__ws")
    )
    ws = F.col("__ws")
    n_seg = F.ceil(F.size(ws) / F.lit(seg_words)).cast("int")
    # sequence(0, -1) is DESCENDING, not empty (same guard as word_ngrams)
    idx = F.when(n_seg > 0, F.sequence(F.lit(0), n_seg - 1)).otherwise(
        F.array().cast("array<int>")
    )
    segs = F.transform(
        idx,
        lambda i: F.array_join(F.slice(ws, i * seg_words + 1, seg_words), " "),
    )
    return base.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.posexplode(segs).alias("pos", "seg"),
    )


def _reassemble_kept(docs: DataFrame, marked: DataFrame, id_col: str) -> DataFrame:
    """Shared reassembly back half: from the ``(id, pos, seg, keep)``-marked
    segment stream, rebuild each doc's surviving text in position order and
    count kept/dropped; the left join against the doc spine re-enters
    zero-segment (empty-text) docs with ``clean_text = ''``."""
    kept_struct = F.when(F.col("keep"), F.struct("pos", "seg"))
    agg = marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["seg"]
            ),
            " ",
        ).alias("clean_text"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1)).cast("long").alias("n_dropped"),
    )
    return (
        docs.select(id_col)
        .join(agg, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("n_dropped", F.lit(0)).cast("long").alias("n_dropped"),
        )
    )


def segment_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_words: int = 8,
) -> DataFrame:
    """C4-style cross-corpus span dedup: split every document into
    consecutive ``seg_words``-word segments, keep only the globally FIRST
    occurrence of each segment text (ordered by ``(id, position)``), and
    reassemble the surviving segments per document.

    The reference has no corpus-scale twin of this; it is the classic
    training-data cleanup that removes boilerplate repeated across pages
    (C4 did it with three-sentence spans — Raffel et al. 2020).

    Scale shape: ONE shuffle on the segment text for the global keep-first
    window (at 100 TB, hash the segment to a 64-bit key first if segment
    strings are long — same plan, narrower exchange), then one groupBy(id)
    to reassemble. No pairwise work anywhere. Docs whose text is empty (no
    words) produce no segments and re-enter via the left join with
    ``clean_text = ''``.

    Returns ``(id, clean_text, n_kept, n_dropped)``.
    """
    exploded = _word_segments(docs, id_col, text_col, seg_words)
    w = Window.partitionBy("seg").orderBy(id_col, "pos")
    marked = exploded.withColumn("keep", F.row_number().over(w) == 1)
    return _reassemble_kept(docs, marked, id_col)


def boilerplate_removal(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    seg_words: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Frequency-based boilerplate purge (CCNet §4.1 / C4 companion step):
    a ``seg_words``-word segment that appears in ``min_docs`` or more
    DISTINCT documents of the SAME source is navigation/footer boilerplate —
    drop it from EVERY document (unlike ``segment_dedup``'s keep-first,
    which preserves one copy).

    Scale shape: segments explode map-side; the per-(source, segment)
    document frequency is a two-level aggregate (distinct (source, seg, id)
    then count — both partial-aggregated map-side), and the frequency joins
    back on (source, seg). Frequencies are corpus-dictionary-sized — far
    smaller than the exploded segment stream — so at 100 TB AQE turns the
    join-back into a broadcast per source bucket; the reassembly is the same
    single groupBy(id) as ``segment_dedup``. No pairwise work.

    Returns ``(id, clean_text, n_kept, n_dropped)``.
    """
    exploded = _word_segments(
        docs, id_col, text_col, seg_words, extra_cols=(source_col,)
    )
    freq = (
        exploded.select(source_col, "seg", id_col)
        .distinct()
        .groupBy(source_col, "seg")
        .agg(F.count(F.lit(1)).alias("__df"))
    )
    # NULL-SAFE source join, consistent with freq's groupBy (which groups
    # NULL sources together): a plain column-name join would never match a
    # NULL-source doc's segments back, silently wiping its text to '' while
    # reporting n_kept=0 AND n_dropped=0 ("nothing was dropped")
    marked = (
        exploded.alias("e")
        .join(
            freq.alias("f"),
            F.col(f"e.{source_col}").eqNullSafe(F.col(f"f.{source_col}"))
            & (F.col("e.seg") == F.col("f.seg")),
        )
        .select("e.*", "f.__df")
        .withColumn("keep", F.col("__df") < min_docs)
    )
    return _reassemble_kept(docs, marked, id_col)


def hamming_pairs_banded(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    n_bands: int = 4,
    band_bits: int = 16,
) -> DataFrame:
    """Hamming-distance pairs over a 64-bit hash with the hash's OWN
    bands as the blocking key — pigeonhole: any pair within
    distance d shares at least one of d+1 untouched bands, so
    ``n_bands > max_hamming`` guarantees zero false negatives. Explode
    each row into its (band_index, band_value) keys, equi-join, verify
    the full distance on the survivors. The generalization of
    ``simhash_hamming_pairs`` (whose caller provides one external block);
    at scale (band, value) is a bucket/partition key. The 16-bit simhash
    query is not banded: at sf0.1 its lang self-join beat banding, and
    with 16 bits banding cuts candidates only ~4× (ROADMAP direction 4).

    The bands must cover all 64 bits of ``hash_col`` (the full width of a
    Spark long), because the operator cannot know that the high bits of
    a narrower hash are zero."""
    assert n_bands > max_hamming, "need n_bands > max_hamming (pigeonhole)"
    # Pigeonhole only holds if the bands COVER the hash: unbanded high
    # bits would silently turn into false negatives.
    assert n_bands * band_bits >= 64, (
        f"bands cover only {n_bands * band_bits} of 64 hash bits"
    )
    mask = (1 << band_bits) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (
                    F.shiftright(F.col(hash_col), j * band_bits).bitwiseAND(
                        F.lit(mask)
                    )
                ).alias("v"),
            )
            for j in range(n_bands)
        ]
    )
    keyed = df.select(
        F.col(id_col), F.col(hash_col), F.explode(bands).alias("b")
    ).select(id_col, hash_col, F.col("b.j").alias("__j"), F.col("b.v").alias("__v"))
    a = keyed.select(
        F.col(id_col).alias("id_a"), F.col(hash_col).alias("h_a"), "__j", "__v"
    )
    b = keyed.select(
        F.col(id_col).alias("id_b"), F.col(hash_col).alias("h_b"), "__j", "__v"
    )
    return (
        a.join(b, ["__j", "__v"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def neardup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    quality_col: str,
) -> DataFrame:
    """Quality-aware near-dup survivorship: drop every doc that has a
    STRICTLY better near-duplicate under the total order (quality desc,
    id asc) — so each duplicate neighborhood keeps its best copy, the
    training-data policy when duplicates differ in extraction quality
    (``neardup_filter`` is the id-based special case). Local pairwise
    rule, no connected components: along any quality chain the maximum
    survives and everything dominated by a neighbor drops — deterministic
    on any partitioning, one symmetric explode of the pair list + one
    anti-join; the corpus never self-joins."""
    q = df.select(F.col(id_col), F.col(quality_col).alias("__q"))
    sym = pairs.select(
        F.col("doc_a").alias(id_col), F.col("doc_b").alias("__other")
    ).unionByName(
        pairs.select(
            F.col("doc_b").alias(id_col), F.col("doc_a").alias("__other")
        )
    )
    oq = q.select(F.col(id_col).alias("__other"), F.col("__q").alias("__oq"))
    dominated = (
        sym.join(q, id_col)
        .join(oq, "__other")
        .filter(
            (F.col("__oq") > F.col("__q"))
            | ((F.col("__oq") == F.col("__q")) & (F.col("__other") < F.col(id_col)))
        )
        .select(id_col)
        .distinct()
    )
    return df.join(dominated, id_col, "left_anti")
