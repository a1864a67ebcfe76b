"""BPE tokenizer training and encoding (engine extension).

Byte-pair encoding (Sennrich et al. 2016) is the tokenizer-training step
of every LLM data pipeline. Training uses the shape production trainers
converge on (HF tokenizers, fastBPE): corpora repeat words heavily, so
train on the distinct-WORD dictionary weighted by frequency — the corpus
touches the cluster once (one word-count aggregation) and the merge loop
runs driver-side over the collected, vocabulary-bounded dictionary.

Each merge picks the most frequent adjacent symbol pair, ties broken
deterministically by count desc, then pair lexicographically — NOT hash
order, so training is reproducible on any cluster — and applies it greedy
left-to-right (standard BPE application: "aaa" + (a,a) → ["aa","a"]).

Encoding replays the learned merges MAP-SIDE as pure array folds: no UDF,
stays in codegen, zero shuffles.

At 100 TB: the distinct-word dictionary is ~10^8 rows; ``min_freq``
prunes the long tail exactly like production trainers' ``min_frequency``.
The corpus-sized scan happens once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textops import words

# end-of-word marker, as in the original BPE paper — lets the tokenizer
# distinguish word-final from word-internal occurrences
EOW = "</w>"


def _char_symbols(word: Column) -> Column:
    """Initial symbol sequence of a word: its characters + the EOW mark."""
    return F.concat(
        F.split(word, ""),  # Spark 4: split on empty regex = chars
        F.array(F.lit(EOW)),
    )


def _apply_merge(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right replacement of adjacent (left, right) by the
    concatenated symbol — one ``aggregate`` fold, no UDF. The accumulator
    carries (emitted-array, pending-symbol); a pending ``left`` followed by
    ``right`` emits the merged token and clears, anything else flushes the
    pending symbol. The empty string is a safe sentinel (symbols are never
    empty)."""
    merged = left + right
    init = F.struct(
        F.array().cast("array<string>").alias("out"), F.lit("").alias("prev")
    )

    def step(acc, x):
        return F.when(
            (acc.prev == left) & (x == right),
            F.struct(
                F.concat(acc.out, F.array(F.lit(merged))).alias("out"),
                F.lit("").alias("prev"),
            ),
        ).otherwise(
            F.struct(
                F.when(acc.prev != "", F.concat(acc.out, F.array(acc.prev)))
                .otherwise(acc.out)
                .alias("out"),
                x.alias("prev"),
            )
        )

    def finish(acc):
        return F.when(acc.prev != "", F.concat(acc.out, F.array(acc.prev))).otherwise(
            acc.out
        )

    return F.aggregate(syms, init, step, finish)


def word_dictionary(
    docs: DataFrame, text_col: str = "text", min_freq: int = 1
) -> DataFrame:
    """(word, freq) dictionary — the corpus's only full pass."""
    tok = docs.select(F.explode(words(text_col)).alias("word"))
    d = tok.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    if min_freq > 1:
        d = d.filter(F.col("freq") >= min_freq)
    return d


def train_bpe(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    min_freq: int = 1,
) -> list[tuple[int, str, str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns
    ``[(rank, left, right, merged, pair_count), ...]`` in training order.
    Stops early when no adjacent pair remains.

    ONE distributed word-count pass, then the merge loop runs driver-side
    over the collected (word, freq) dictionary: the dictionary is
    vocabulary-bounded, not corpus-bounded, and ``min_freq`` caps it like
    production trainers' ``min_frequency``. 30k merges of driver loop beat
    30k cluster jobs by orders of magnitude.
    """
    rows = word_dictionary(docs, text_col, min_freq).collect()
    return _train_in_driver([(r["word"], int(r["freq"])) for r in rows], n_merges)


def _train_in_driver(
    word_freqs: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """Merge loop over a collected dictionary — incremental pair-count
    maintenance (only words containing the merged pair are re-counted).

    Argmax is a lazy-deletion heap keyed ``(-cnt, left, right)`` — the
    order `min(pair_counts.items())` would compute — so each round costs
    O(log P) amortized instead of a full O(P) dictionary scan (30k merges
    × 10^6 pairs of linear scanning is hours of pure Python; the heap is
    how HF tokenizers / fastBPE pair the same incremental counts). Every
    count CHANGE pushes a fresh entry; stale entries (count no longer
    matching) pop off harmlessly at the top."""
    import heapq

    dictionary = {w: (f, _py_symbols(w)) for w, f in word_freqs}
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[str]] = {}
    heap: list[tuple[int, str, str]] = []

    def _index(word: str, push: bool = True) -> None:
        f, syms = dictionary[word]
        for p in zip(syms, syms[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + f
            pair_words.setdefault(p, set()).add(word)
            if push:
                heapq.heappush(heap, (-pair_counts[p], p[0], p[1]))

    def _unindex(word: str) -> None:
        f, syms = dictionary[word]
        for p in zip(syms, syms[1:]):
            pair_counts[p] -= f
            if pair_counts[p] <= 0:
                del pair_counts[p]
                pair_words.pop(p, None)
            else:
                s = pair_words.get(p)
                if s is not None:
                    s.discard(word)
                heapq.heappush(heap, (-pair_counts[p], p[0], p[1]))

    for w in dictionary:
        _index(w, push=False)
    heap = [(-c, p[0], p[1]) for p, c in pair_counts.items()]
    heapq.heapify(heap)

    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(n_merges):
        # discard stale heap entries until the top matches a live count
        while heap:
            negc, left, right = heap[0]
            if pair_counts.get((left, right)) == -negc:
                break
            heapq.heappop(heap)
        if not heap:
            break
        negc, left, right = heapq.heappop(heap)
        cnt = -negc
        merges.append((rank, left, right, left + right, cnt))
        touched = list(pair_words.get((left, right), ()))
        for w in touched:
            _unindex(w)
            f, syms = dictionary[w]
            dictionary[w] = (f, _py_apply_merge(syms, left, right))
            _index(w)
    return merges


def _py_symbols(word: str) -> list[str]:
    return list(word) + [EOW]


def _py_apply_merge(syms: list[str], left: str, right: str) -> list[str]:
    """Driver twin of ``_apply_merge`` — same greedy left-to-right pass."""
    out: list[str] = []
    prev = ""
    for x in syms:
        if prev == left and x == right:
            out.append(left + right)
            prev = ""
        else:
            if prev != "":
                out.append(prev)
            prev = x
    if prev != "":
        out.append(prev)
    return out


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[int, str, str, str, int]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply a learned merge list to a corpus: re-derive each word's
    character sequence and replay every merge in rank order (the standard
    BPE encode). All map-side array expressions — the merge list is a plan
    literal, so this distributes with zero shuffles. For long merge lists
    encode via the dictionary + a join back instead (same fold, run once
    per DISTINCT word)."""
    # per-word fold then flatten, so merges never cross word boundaries
    per_word = F.transform(words(text_col), lambda w: _encode_word(w, merges))
    return docs.withColumn(out_col, F.flatten(per_word))


def _encode_word(
    word: Column, merges: list[tuple[int, str, str, str, int]]
) -> Column:
    syms = _char_symbols(word)
    for _, left, right, _, _ in merges:
        syms = _apply_merge(syms, left, right)
    return syms
