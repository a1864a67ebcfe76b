"""Multimodal columns — image/audio/video as opaque binary + typed metadata.

Engine extension (BASELINE.json north star). Convention (schemas.MEDIA):
``payload`` is an opaque ``binary`` column; ``kind``/``mime``/dims/duration
are typed metadata so planning (filtering, partitioning, batching) never
touches bytes.

The heavy steps — decode, frame-sample, feature-extract — run as
Arrow-batched ``mapInPandas`` stages: bytes never pass through Python row
objects, and partition size controls memory (a partition of 128 MB payloads
→ one Arrow batch of the same scale; set
``spark.sql.execution.arrow.maxRecordsPerBatch`` down for large media).

The codec layer (PIL/ffmpeg/torchaudio) is NOT in this container, so the
real decoders raise ``NotImplementedError`` behind the same interface the
deterministic fake implements — the Spark-side plumbing (schemas, UDF
signatures, batch shapes, partitioning) is real and tested.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_frames", IntegerType(), True),
        StructField("features", ArrayType(FloatType()), True),
    ]
)


class MediaCodec:
    """Decode interface. Production backend wraps PIL/ffmpeg; this container
    has neither, so ``RealCodec`` raises and tests use ``FakeCodec``."""

    def probe(self, payload: bytes, kind: str) -> tuple[int, int, int]:
        """→ (width, height, n_frames)."""
        raise NotImplementedError

    def features(self, payload: bytes, kind: str, dim: int) -> list[float]:
        raise NotImplementedError

    def pixels_hash(self, payload: bytes) -> int:
        """64-bit perceptual average hash of the decoded 8x8 grayscale."""
        raise NotImplementedError


class RealCodec(MediaCodec):  # pragma: no cover - codec libs not installed
    def __init__(self):
        raise NotImplementedError(
            "media codecs (PIL/ffmpeg) are not installed in this environment; "
            "use FakeCodec for plumbing tests or install codecs on the cluster"
        )


class FakeCodec(MediaCodec):
    """Deterministic stand-in: dimensions and features derive from the
    payload hash, so plumbing tests are stable and reproducible."""

    def probe(self, payload: bytes, kind: str) -> tuple[int, int, int]:
        h = hashlib.md5(payload or b"").digest()
        w = 64 + h[0] % 192
        hh = 64 + h[1] % 192
        frames = 1 if kind == "image" else 1 + h[2] % 32
        return w, hh, frames

    def pixels_hash(self, payload: bytes) -> int:
        return ahash64(_fake_pixels(payload or b""))

    def features(self, payload: bytes, kind: str, dim: int) -> list[float]:
        out = []
        seed = hashlib.md5(payload or b"").digest()
        for i in range(dim):
            b = hashlib.md5(seed + i.to_bytes(2, "big")).digest()
            out.append(int.from_bytes(b[:4], "big") / float(2**32) * 2 - 1)
        return out


def decode_and_featurize(
    media: DataFrame,
    codec_factory=FakeCodec,
    feature_dim: int = 16,
    id_col: str = "media_id",
    payload_col: str = "payload",
    kind_col: str = "kind",
) -> DataFrame:
    """Decode + feature-extract as one mapInPandas pass. One codec instance
    per executor (closure cache), Arrow batches in/out. The output id
    column is named after ``id_col`` (type preserved from the input).

    Rows with a NULL id or NULL payload are dropped before the codec
    stage (the dead-letter contract of a real decode step): the output id
    is declared non-nullable, so a NULL id would die inside Arrow with an
    opaque "Value at index is null", and the codec cannot probe a missing
    payload."""
    state: dict = {}
    media = media.filter(
        F.col(id_col).isNotNull() & F.col(payload_col).isNotNull()
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if "c" not in state:
            state["c"] = codec_factory()
        codec = state["c"]
        for pdf in batches:
            # Columnar batch construction (no per-row Series materialization —
            # iterrows costs ~100× the zip for wide binary rows). The codec
            # call itself is per-item Python by nature; everything around it
            # stays vectorized.
            payloads = [
                p.encode() if isinstance(p, str) else p for p in pdf[payload_col]
            ]
            kinds = pdf[kind_col]
            probes = [codec.probe(p, k) for p, k in zip(payloads, kinds)]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "kind": kinds.to_numpy(),
                    "width": [w for w, _, _ in probes],
                    "height": [h for _, h, _ in probes],
                    "n_frames": [n for _, _, n in probes],
                    "features": [
                        codec.features(p, k, feature_dim)
                        for p, k in zip(payloads, kinds)
                    ],
                }
            )

    schema = StructType(
        [StructField(id_col, media.schema[id_col].dataType, False)]
        + [f for f in DECODED_SCHEMA.fields if f.name != "media_id"]
    )
    return media.mapInPandas(run, schema=schema)


def sample_frames(media: DataFrame, every_n: int = 8) -> DataFrame:
    """Frame sampling plan for video rows: one output row per kept frame
    index. Pure expressions (sequence + explode) — the decode of each kept
    frame happens later in the codec stage, so planning stays JVM-side."""
    decoded = media.filter(F.col("kind") == "video")
    return (
        decoded.select(
            "media_id",
            "duration_ms",
            F.explode(
                F.sequence(
                    F.lit(0), F.greatest(F.col("duration_ms") / 1000, F.lit(0)).cast("int")
                )
            ).alias("second"),
        )
        # strictly inside the video: second N exists only if N*1000 < duration
        .filter((F.col("second") % every_n == 0) & (F.col("second") * 1000 < F.col("duration_ms")))
        .select("media_id", "second")
    )


# ---------------------------------------------------------------------------
# Perceptual hashing (image near-dup dedup)
# ---------------------------------------------------------------------------

def ahash64(pixels: list[int]) -> int:
    """Average hash over an 8×8 grayscale grid: bit i set iff pixel i is
    strictly above the grid mean — the classic aHash. The ALGORITHM is
    real (mean threshold, LSB-first packing); only pixel acquisition is
    codec-dependent."""
    assert len(pixels) == 64
    mean = sum(pixels) / 64.0
    h = 0
    for i, p in enumerate(pixels):
        if p > mean:
            h |= 1 << i
    return h


def _fake_pixels(payload: bytes) -> list[int]:
    """FakeCodec pixel grid. A 64-byte payload IS the raw 8×8 grid (lets
    tests exercise true perceptual behavior: a one-pixel edit moves one
    hash bit); anything else expands deterministically from the payload's
    md5 HEX digest — hex-string-chained so a SQL oracle can replay it:
    pixel_i = int(md5(hex || '|' || i)[:2], 16)."""
    if len(payload) == 64:
        return list(payload)
    seed_hex = hashlib.md5(payload or b"").hexdigest()
    return [
        int(hashlib.md5(f"{seed_hex}|{i}".encode()).hexdigest()[:2], 16)
        for i in range(64)
    ]


def phash_media(
    media: DataFrame,
    codec_factory=FakeCodec,
    id_col: str = "media_id",
    payload_col: str = "payload",
    kind_col: str = "kind",
) -> DataFrame:
    """(id, phash) via one Arrow mapInPandas pass — the decode+hash stage
    of image near-dup dedup. Pair finding happens downstream JVM-side
    (``neardup.hamming_pairs_banded`` on the 64-bit hash: 4×16-bit bands
    block all pairs within Hamming ≤ 3). Production swaps the codec for
    PIL + downscale-to-8×8; the hash/banding/dedup path is unchanged.

    NULL-id / NULL-payload rows are dropped before the codec stage (the
    same dead-letter contract as ``decode_and_featurize``) — hashing a
    missing payload like an empty one would silently merge every corrupt
    row into the empty-image dup group."""
    state: dict = {}
    media = media.filter(
        F.col(id_col).isNotNull() & F.col(payload_col).isNotNull()
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if "c" not in state:
            state["c"] = codec_factory()
        codec = state["c"]
        for pdf in batches:
            payloads = [
                p.encode() if isinstance(p, str) else p for p in pdf[payload_col]
            ]
            # two's-complement fold into int64 (bit 63 is the sign bit —
            # pandas/Arrow LongType cannot hold 2^63..2^64-1)
            hashes = [
                h - (1 << 64) if h >= (1 << 63) else h
                for h in (codec.pixels_hash(p) for p in payloads)
            ]
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "phash": hashes}
            )

    # output id column keeps the caller's name, type AND nullability — a
    # caller passing id_col="doc_id" gets (doc_id, phash), not values
    # under "media_id", and a nullable id stays declared nullable
    f = media.schema[id_col]
    schema = StructType(
        [
            StructField(id_col, f.dataType, f.nullable),
            StructField("phash", LongType(), True),
        ]
    )
    return media.mapInPandas(run, schema=schema)
