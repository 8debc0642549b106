"""Pure-numpy codecs for UNCOMPRESSED media containers.

The container ships no Pillow/ffmpeg, but uncompressed formats need
no codec library at all — a BMP is a header plus padded BGR rows and
a PCM WAV is a RIFF header plus interleaved samples.  These decoders
make the media feature pass (operators/multimodal.py) REAL for those
formats (parsed pixels/samples in, measured statistics out);
compressed formats (JPEG/PNG/MP3/MP4) still route to the
clearly-marked stub in operators/multimodal.py, which a production
deployment swaps for Pillow/ffmpeg kernels with no plan changes.
``encode_bmp`` is the inverse of ``decode_bmp``; it builds test
fixtures.

Format references are the public specifications: Windows
BITMAPFILEHEADER/BITMAPINFOHEADER layout for BMP, and the RIFF/WAVE
chunk layout for WAV.  Only the common interchange profiles are
supported — 24-bit uncompressed BI_RGB BMPs (bottom-up or top-down)
and 8/16-bit integer PCM WAVs — and everything else raises
``UnsupportedMediaError`` so the caller can fall back explicitly
rather than mis-decode.
"""

from __future__ import annotations

import struct

import numpy as np


class UnsupportedMediaError(ValueError):
    "Payload is not a format these pure-numpy codecs can decode."


# ---------------------------------------------------------------- BMP


def is_bmp(payload: bytes) -> bool:
    return len(payload) >= 2 and payload[:2] == b"BM"


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit uncompressed BMP -> uint8 array of shape (H, W, 3), RGB.

    Handles bottom-up (positive height) and top-down (negative height)
    row order and the 4-byte row padding the format mandates."""
    if not is_bmp(payload) or len(payload) < 54:
        raise UnsupportedMediaError("not a BMP payload")
    pixel_offset = struct.unpack_from("<I", payload, 10)[0]
    header_size = struct.unpack_from("<I", payload, 14)[0]
    if header_size < 40:
        raise UnsupportedMediaError(f"BMP header size {header_size} unsupported")
    width = struct.unpack_from("<i", payload, 18)[0]
    height = struct.unpack_from("<i", payload, 22)[0]
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise UnsupportedMediaError(
            f"only 24-bit BI_RGB BMPs supported (bpp={bpp}, comp={compression})"
        )
    top_down = height < 0
    height = abs(height)
    if width <= 0 or height <= 0 or width * height > 64_000_000:
        raise UnsupportedMediaError("BMP dimensions out of range")
    row_bytes = (width * 3 + 3) & ~3
    need = pixel_offset + row_bytes * height
    if len(payload) < need:
        raise UnsupportedMediaError("BMP payload truncated")
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=row_bytes * height, offset=pixel_offset
    ).reshape(height, row_bytes)
    bgr = rows[:, : width * 3].reshape(height, width, 3)
    if not top_down:
        bgr = bgr[::-1]
    return bgr[..., ::-1].copy()  # BGR -> RGB


def encode_bmp(rgb: np.ndarray) -> bytes:
    "uint8 (H, W, 3) RGB -> 24-bit bottom-up BMP bytes."
    height, width = rgb.shape[:2]
    row_bytes = (width * 3 + 3) & ~3
    pad = row_bytes - width * 3
    bgr = np.ascontiguousarray(rgb[..., ::-1][::-1])
    body = np.zeros((height, row_bytes), dtype=np.uint8)
    body[:, : width * 3] = bgr.reshape(height, width * 3)
    del pad
    pixel_bytes = body.tobytes()
    file_size = 54 + len(pixel_bytes)
    header = struct.pack(
        "<2sIHHI", b"BM", file_size, 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixel_bytes),
        2835, 2835, 0, 0,
    )
    return header + pixel_bytes


def image_features(rgb: np.ndarray) -> list[float]:
    """8-dim deterministic descriptor: per-channel mean (3) + std (1,
    luminance) + 2x2 luminance grid (4).  Near-duplicate images (crops
    / re-encodes of the same picture) land near each other in cosine
    space; the LSH near-dup operator consumes it unchanged."""
    arr = rgb.astype(np.float32) / 255.0
    luma = arr @ np.array([0.299, 0.587, 0.114], dtype=np.float32)
    h, w = luma.shape
    grid = [
        float(luma[i * h // 2:(i + 1) * h // 2, j * w // 2:(j + 1) * w // 2].mean())
        for i in range(2)
        for j in range(2)
    ]
    return [
        float(arr[..., 0].mean()),
        float(arr[..., 1].mean()),
        float(arr[..., 2].mean()),
        float(luma.std()),
        *grid,
    ]


# ---------------------------------------------------------------- WAV


def is_wav(payload: bytes) -> bool:
    return (
        len(payload) >= 12
        and payload[:4] == b"RIFF"
        and payload[8:12] == b"WAVE"
    )


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Integer-PCM WAV -> (float32 samples in [-1, 1] shaped
    (n_frames, n_channels), sample_rate).  8-bit (unsigned) and 16-bit
    (signed little-endian) PCM only."""
    if not is_wav(payload):
        raise UnsupportedMediaError("not a WAV payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        chunk_id = payload[pos:pos + 4]
        chunk_len = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8:pos + 8 + chunk_len]
        if chunk_id == b"fmt ":
            fmt = body
        elif chunk_id == b"data":
            data = body
        pos += 8 + chunk_len + (chunk_len & 1)  # chunks are word-aligned
    if fmt is None or data is None or len(fmt) < 16:
        raise UnsupportedMediaError("WAV missing fmt/data chunk")
    audio_format, channels, sample_rate = struct.unpack_from("<HHI", fmt, 0)
    bits = struct.unpack_from("<H", fmt, 14)[0]
    if audio_format != 1 or channels < 1 or bits not in (8, 16):
        raise UnsupportedMediaError(
            f"only 8/16-bit integer PCM supported (fmt={audio_format}, bits={bits})"
        )
    if bits == 16:
        raw = np.frombuffer(data, dtype="<i2", count=len(data) // 2)
        samples = raw.astype(np.float32) / 32768.0
    else:
        raw = np.frombuffer(data, dtype=np.uint8)
        samples = (raw.astype(np.float32) - 128.0) / 128.0
    n_frames = len(samples) // channels
    return samples[: n_frames * channels].reshape(n_frames, channels), sample_rate


def audio_features(samples: np.ndarray, sample_rate: int) -> list[float]:
    """8-dim deterministic descriptor: RMS, peak, zero-crossing rate,
    duration (s), and the RMS of 4 equal time slices."""
    mono = samples.mean(axis=1) if samples.ndim == 2 else samples
    n = max(len(mono), 1)
    rms = float(np.sqrt(np.mean(mono**2))) if len(mono) else 0.0
    peak = float(np.abs(mono).max()) if len(mono) else 0.0
    zcr = (
        float(np.mean(np.abs(np.diff(np.signbit(mono).astype(np.int8)))))
        if len(mono) > 1
        else 0.0
    )
    slices = [
        float(np.sqrt(np.mean(mono[i * n // 4:(i + 1) * n // 4] ** 2)))
        if len(mono[i * n // 4:(i + 1) * n // 4])
        else 0.0
        for i in range(4)
    ]
    return [rms, peak, zcr, n / float(sample_rate or 1), *slices]
