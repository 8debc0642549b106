"""Media feature extraction over opaque binary payloads.

Images/audio/video ride as `binary` columns (``media_id``, ``kind``,
``payload``); ``extract_media_features``, which the catalog's
``q_media_features`` runs, is an Arrow-batched mapInPandas pass.

The decode path is REAL for uncompressed containers — 24-bit BMP
pixels and 8/16-bit PCM WAV samples parse with pure numpy
(operators/codecs.py: header walk, padded-row/chunk layout, measured
per-channel / time-slice statistics as the feature vector).
Compressed formats (JPEG/PNG/MP3/MP4) have no codec library in this
container and route to the clearly-marked deterministic stub below; a
production deployment swaps the stub for Pillow/ffmpeg kernels with
no plan changes — schema, batch shape and partition sizing are
identical either way.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame

from . import codecs

FEATURE_SCHEMA = "media_id long, kind string, n_bytes int, content_hash string, feature array<float>"


def _decode_stub(payload: bytes, kind: str) -> list[float]:
    """STUB: deterministic fake 'feature vector' from payload bytes —
    the fallback for COMPRESSED formats only (no Pillow/ffmpeg in this
    container).  A real deployment replaces this with the codec-backed
    kernel; the surrounding plan (mapInPandas, Arrow batches, schema)
    is final."""
    digest = hashlib.blake2b(payload or b"", digest_size=32).digest()
    return [b / 255.0 for b in digest[:8]]


def _decode_features(payload: bytes, kind: str) -> list[float]:
    """Feature vector for one payload: REAL decode + statistics for
    BMP/WAV (codecs.py), stub for everything else."""
    try:
        if codecs.is_bmp(payload):
            return codecs.image_features(codecs.decode_bmp(payload))
        if codecs.is_wav(payload):
            return codecs.audio_features(*codecs.decode_wav(payload))
    except codecs.UnsupportedMediaError:
        pass  # unusual profile of a known container: stub fallback
    return _decode_stub(payload, kind)


def extract_media_features(media: DataFrame, batch_hint: int = 1024) -> DataFrame:
    "Arrow-batched decode/feature pass over opaque binary payloads."

    def run(iterator):
        for pdf in iterator:
            features = [
                _decode_features(
                    p if isinstance(p, (bytes, bytearray)) else b"", k
                )
                for p, k in zip(pdf["payload"], pdf["kind"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [
                        len(p) if isinstance(p, (bytes, bytearray)) else 0
                        for p in pdf["payload"]
                    ],
                    "content_hash": [
                        hashlib.md5(
                            p if isinstance(p, (bytes, bytearray)) else b""
                        ).hexdigest()
                        for p in pdf["payload"]
                    ],
                    "feature": features,
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)
