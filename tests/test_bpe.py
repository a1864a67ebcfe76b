"""BPE trainer/encoder vs an independent pure-Python twin.

The trainer is an iterative artifact SQL can't replay (each round's argmax
feeds the next round's fold), so correctness rests on: (1) exact agreement
with a reference implementation on whole corpora, including overlap cases
("aaa" + (a,a)); (2) determinism under repartitioning — the tie-break is
(count desc, pair lexicographic), never hash order.
"""

from __future__ import annotations

from collections import Counter

import pytest

from bytesme_etl_batch_pipeline_spark.operators.bpe import (
    EOW,
    bpe_encode,
    train_bpe,
)


# -- reference twin ---------------------------------------------------------

def _py_symbols(word: str) -> list[str]:
    return list(word) + [EOW]


def _py_apply(syms: list[str], left: str, right: str) -> list[str]:
    out, prev = [], ""
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


def _py_train(texts: list[str], n_merges: int) -> list[tuple]:
    freq = Counter(w for t in texts for w in t.lower().split())
    dictionary = {w: _py_symbols(w) for w in freq}
    merges = []
    for rank in range(n_merges):
        pairs: Counter = Counter()
        for w, syms in dictionary.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += freq[w]
        if not pairs:
            break
        (left, right), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, left, right, left + right, cnt))
        dictionary = {w: _py_apply(s, left, right) for w, s in dictionary.items()}
    return merges


def _py_encode(text: str, merges: list[tuple]) -> list[str]:
    toks = []
    for w in text.lower().split():
        syms = _py_symbols(w)
        for _, left, right, _, _ in merges:
            syms = _py_apply(syms, left, right)
        toks.extend(syms)
    return toks


# -- tests ------------------------------------------------------------------

CORPUS = [
    "the cat sat on the mat",
    "the cats eat the rats",
    "aaa aaaa aa the the the",
    "lower lowest newer newest",
    "xin chào các bạn chào buổi sáng",
]


def test_train_matches_python_twin(spark):
    docs = spark.createDataFrame(list(enumerate(CORPUS)), "doc_id long, text string")
    got = train_bpe(docs, "text", n_merges=12)
    want = _py_train(CORPUS, 12)
    assert got == want


def test_train_deterministic_under_repartition(spark):
    docs = spark.createDataFrame(list(enumerate(CORPUS)), "doc_id long, text string")
    a = train_bpe(docs.repartition(7), "text", n_merges=8)
    b = train_bpe(docs.repartition(2, "doc_id"), "text", n_merges=8)
    assert a == b


def test_encode_matches_python_twin_including_overlaps(spark):
    docs = spark.createDataFrame(list(enumerate(CORPUS)), "doc_id long, text string")
    merges = train_bpe(docs, "text", n_merges=10)
    out = {
        r.doc_id: list(r.bpe_tokens)
        for r in bpe_encode(docs, merges, "text").collect()
    }
    for i, t in enumerate(CORPUS):
        assert out[i] == _py_encode(t, merges), (i, t)


def test_encode_roundtrip_preserves_text(spark):
    """Concatenating a word's BPE tokens (minus EOW) reproduces the word —
    merges never drop or duplicate characters."""
    docs = spark.createDataFrame(list(enumerate(CORPUS)), "doc_id long, text string")
    merges = train_bpe(docs, "text", n_merges=15)
    for r in bpe_encode(docs, merges, "text").collect():
        joined = "".join(t for t in r.bpe_tokens).replace(EOW, " ").strip()
        assert joined == " ".join(CORPUS[r.doc_id].lower().split())


def test_min_freq_prunes_tail(spark):
    docs = spark.createDataFrame(
        [(0, "common common common rare")], "doc_id long, text string"
    )
    merges = train_bpe(docs, "text", n_merges=3, min_freq=2)
    # with the singleton word pruned, every merge comes from "common"
    assert all(m[4] >= 2 for m in merges)
    assert merges[0][:3] == (0, "c", "o")  # lexicographically-first of the ties

