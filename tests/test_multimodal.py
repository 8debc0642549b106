"""Media feature extraction: batch shape, deterministic stub
features, and the pure-numpy BMP/WAV decode path."""

from courlan_spark.operators.multimodal import (
    _decode_stub,
    extract_media_features,
)


def test_media_features_and_dedup(spark):
    rows = [
        (1, "image", b"payload-one", None, None, None),
        (2, "image", b"payload-two", None, None, None),
        (3, "audio", b"payload-one", None, None, None),  # exact dup of 1
        (4, "video", b"", None, None, None),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, width int, height int, duration_ms int",
    )
    feats = {r["media_id"]: r for r in extract_media_features(media).collect()}
    assert feats[1]["n_bytes"] == len(b"payload-one")
    assert feats[1]["content_hash"] == feats[3]["content_hash"]
    assert feats[1]["content_hash"] != feats[2]["content_hash"]
    assert len(feats[1]["feature"]) == 8
    # stub decode is deterministic and matches the scalar form
    # (float32 column round-trip -> compare with tolerance)
    expected = _decode_stub(b"payload-one", "image")
    assert all(
        abs(a - b) < 1e-6 for a, b in zip(feats[1]["feature"], expected)
    )
    assert feats[4]["n_bytes"] == 0


# ---- round 4: REAL pure-numpy codecs for uncompressed formats ----


def _make_bmp(width=16, height=12, seed=5):
    import numpy as np

    from courlan_spark.operators import codecs

    rng = np.random.default_rng(seed)
    rgb = rng.integers(0, 256, size=(height, width, 3), dtype=np.uint8)
    return rgb, codecs.encode_bmp(rgb)


def _make_wav(n_frames=4000, rate=8000, channels=2, seed=6):
    import struct

    import numpy as np

    rng = np.random.default_rng(seed)
    pcm = (rng.standard_normal((n_frames, channels)) * 8000).astype("<i2")
    data = pcm.tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16
    )
    payload = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return pcm, rate, payload


def test_bmp_roundtrip_and_resize():
    import numpy as np

    from courlan_spark.operators import codecs

    rgb, payload = _make_bmp(width=15, height=9)  # odd width: row padding
    decoded = codecs.decode_bmp(payload)
    assert np.array_equal(decoded, rgb)
    # a stride-3 subsample (3 x 5, odd width again) round-trips too
    small = np.ascontiguousarray(decoded[::3, ::3])
    assert small.shape == (3, 5, 3)
    again = codecs.decode_bmp(codecs.encode_bmp(small))
    assert np.array_equal(again, small)


def test_wav_roundtrip_features():
    import numpy as np

    from courlan_spark.operators import codecs

    pcm, rate, payload = _make_wav()
    samples, got_rate = codecs.decode_wav(payload)
    assert got_rate == rate and samples.shape == pcm.shape
    assert np.allclose(samples, pcm.astype(np.float32) / 32768.0)
    feats = codecs.audio_features(samples, rate)
    assert len(feats) == 8
    assert abs(feats[3] - pcm.shape[0] / rate) < 1e-6  # duration
    assert 0 < feats[0] <= feats[1] <= 1.0  # rms <= peak


def test_codecs_reject_unknown_profiles():
    import pytest

    from courlan_spark.operators import codecs

    with pytest.raises(codecs.UnsupportedMediaError):
        codecs.decode_bmp(b"BM" + b"\x00" * 60)  # bogus header
    with pytest.raises(codecs.UnsupportedMediaError):
        codecs.decode_wav(b"RIFF\x00\x00\x00\x00WAVEjunk")


def test_media_features_real_decode_path(spark):
    """BMP and WAV payloads get MEASURED features (channel means /
    RMS), not digest stubs — two images with different brightness must
    order by their mean channel feature; compressed-format payloads
    still take the stub."""
    import numpy as np

    from courlan_spark.operators import codecs
    from courlan_spark.operators.multimodal import extract_media_features

    dark = codecs.encode_bmp(np.full((8, 8, 3), 10, dtype=np.uint8))
    bright = codecs.encode_bmp(np.full((8, 8, 3), 240, dtype=np.uint8))
    _, _, wav = _make_wav(n_frames=800, channels=1)
    rows = [
        (1, "image", bytearray(dark), 8, 8, None),
        (2, "image", bytearray(bright), 8, 8, None),
        (3, "audio", bytearray(wav), None, None, 100),
        (4, "image", bytearray(b"\x89PNG fake compressed"), 4, 4, None),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, width int, "
        "height int, duration_ms int",
    )
    feats = {
        r["media_id"]: r["feature"]
        for r in extract_media_features(media).collect()
    }
    assert feats[1][0] < 0.1 and feats[2][0] > 0.9  # measured means
    assert abs(feats[3][3] - 0.1) < 1e-3  # wav duration 800/8000 s
    assert len(feats[4]) == 8  # stub fallback still shaped right
