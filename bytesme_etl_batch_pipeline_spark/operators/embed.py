"""E2 — batch text embedding (SURVEY §2.12).

The reference embeds each document with an in-process SentenceTransformer
behind a lazy global singleton (``generate_embeddings.py:36-37,245-272``),
zero-vector on failure. Spark-first shape:

* an Arrow-batched ``pandas_udf`` returning ``array<float>``;
* the model loads once per Python worker process and is kept in this
  module across the tasks that worker runs (the distributed twin of the
  reference's singleton);
* the model is *pluggable*: tests and oracle runs use ``HashEmbedder`` —
  deterministic, dependency-free — while production wires a real
  sentence-transformer through the same interface.

Batching: Arrow batch size is the analogue of the reference's 50-doc commit
batches; per-executor batching is what makes GPU/ONNX models amortize.
"""

from __future__ import annotations

import functools
import hashlib
from typing import Protocol

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType


class Embedder(Protocol):
    dim: int

    def encode(self, texts: list[str]) -> list[list[float]]: ...


class HashEmbedder:
    """Deterministic bag-of-hashed-words embedder: each token adds ±1 to the
    (md5 % dim) component; the result is L2-normalized. Zero vector for
    empty/whitespace text (reference failure fallback,
    ``generate_embeddings.py:272``)."""

    def __init__(self, dim: int = 64):
        self.dim = dim

    def encode(self, texts: list[str]) -> list[list[float]]:
        import numpy as np

        out = []
        for t in texts:
            v = np.zeros(self.dim, dtype=np.float64)
            for tok in (t or "").lower().split():
                h = hashlib.md5(tok.encode()).digest()
                idx = int.from_bytes(h[:4], "big") % self.dim
                sign = 1.0 if h[4] % 2 == 0 else -1.0
                v[idx] += sign
            n = float(np.linalg.norm(v))
            out.append((v / n if n > 0 else v).astype(np.float32).tolist())
        return out


class SentenceTransformerEmbedder:
    """Production embedder (reference model family,
    ``generate_embeddings.py:36-37``). Import-gated: the library is not in
    this container, so construction raises unless it is available."""

    def __init__(self, model_name: str, dim: int = 768):
        try:
            from sentence_transformers import SentenceTransformer  # type: ignore
        except ImportError as e:  # pragma: no cover
            raise NotImplementedError(
                "sentence-transformers not installed; use HashEmbedder or "
                "install the model dependencies on the cluster"
            ) from e
        self._model = SentenceTransformer(model_name)  # pragma: no cover
        self.dim = dim  # pragma: no cover

    def encode(self, texts: list[str]) -> list[list[float]]:  # pragma: no cover
        return self._model.encode(texts, normalize_embeddings=True).tolist()


@functools.lru_cache(maxsize=4)
def _embedder(factory, kwargs: tuple):
    """The ``factory(**dict(kwargs))`` model of this worker process. The UDF
    closure is unpickled afresh for every task, but this module-level
    function travels by reference, so a reused worker keeps its cache. The
    bound keeps a worker from piling up models whose factory is pickled by
    value (a lambda is a new object, so a new key, in every task)."""
    return factory(**dict(kwargs))


def embed_column(text: Column, embedder_factory=HashEmbedder, **kwargs) -> Column:
    """Column-level embedding via Arrow-batched pandas UDF. The embedder is
    built lazily once per worker process (``_embedder``), mirroring the
    reference's lazy singleton at ``generate_embeddings.py:245-261``.
    ``kwargs`` values must be hashable: they key that cache and the
    driver's ``_embed_udf``."""
    return _embed_udf(embedder_factory, tuple(sorted(kwargs.items())))(text)


@functools.lru_cache(maxsize=16)
def _embed_udf(embedder_factory, key: tuple):
    """The pandas UDF for one (factory, kwargs), made once per driver
    process: PySpark pickles its closure and makes its JVM function on the
    first call only, so later ``embed_column`` calls reuse both."""

    @F.pandas_udf(ArrayType(FloatType()))
    def _embed(texts: pd.Series) -> pd.Series:
        model = _embedder(embedder_factory, key)
        return pd.Series(model.encode(texts.fillna("").tolist()))

    return _embed
