"""Image decode dispatch + perceptual hash + PSNR (numpy, Arrow-batch friendly).

These run inside vectorized pandas-UDF stages (SURVEY §2.4 P12 — image
decode + caption verification mandated by BASELINE.json input_hint).
Formats:

* 'png'  — real codec (codecs/png.py), lossless: decoded pixels must be
           exactly equal (allclose) to the reference pixels.
* 'qdct' — real deterministic lossy codec (codecs/qdct.py): decoded
           pixels must reach PSNR >= 40 dB vs reference.
* 'jpeg' — real pure-numpy baseline JFIF codec (codecs/jpeg.py): true
           ITU T.81 bitstream (standard tables, Huffman entropy
           coding), lossy PSNR >= 40 dB at the default quality.
"""

from __future__ import annotations

import functools

import numpy as np

from gepris_spark.codecs import jpeg, png, qdct

PSNR_LOSSY_THRESHOLD_DB = 40.0

# qdct clears 40 dB at 96; the baseline-JPEG standard tables need 98 on
# the noisy synthetic corpus (sigma=12 noise -> ~43.8 dB at 98)
JPEG_QUALITY = 98


@functools.lru_cache(maxsize=512)
def _decode_cached(data: bytes, fmt: str) -> np.ndarray:
    if fmt == "png":
        return png.decode(data)
    if fmt == "qdct":
        return qdct.decode(data)
    if fmt in ("jpeg", "jpg"):
        return jpeg.decode(data)
    raise ValueError(f"unknown image format {fmt!r}")


def decode(data: bytes, fmt: str) -> np.ndarray:
    """Decode an encoded image to (h, w, 3) uint8 pixels.

    Per-worker LRU on the payload bytes: crawled corpora repeat images
    (logos, figures reused across pages), and the decode is the only
    per-row cost that doesn't vectorize — a hit skips it entirely. 512
    entries x <=64 KB pixels bounds the cache at ~32 MB per worker.
    Returns a copy so callers can't corrupt the cached pixels."""
    return _decode_cached(bytes(data), fmt).copy()


def encode(pixels: np.ndarray, fmt: str, quality: int | None = None) -> bytes:
    if fmt == "png":
        return png.encode(pixels)
    if fmt == "qdct":
        return qdct.encode(pixels, quality=quality or 96)
    if fmt in ("jpeg", "jpg"):
        return jpeg.encode(pixels, quality=quality or JPEG_QUALITY)
    raise NotImplementedError(f"STUB: no encoder for {fmt!r} in this container")


def is_lossless(fmt: str) -> bool:
    return fmt == "png"


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images."""
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0.0:
        return float("inf")
    # fixed 6-decimal grid: the value is exact-compared against fixture
    # oracles, and the mean's reduction order may drift across numpy
    # builds — ulp noise must not flip the compared representation
    return float(round(10.0 * np.log10((255.0**2) / mse), 6))


def pixels_match(decoded: np.ndarray, reference: np.ndarray, fmt: str) -> tuple[bool, float]:
    """input_hint invariant: allclose for lossless, PSNR>=40dB for lossy."""
    if decoded.shape != reference.shape:
        return False, 0.0
    value = psnr(decoded, reference)
    if is_lossless(fmt):
        return bool(np.array_equal(decoded, reference)), value
    return value >= PSNR_LOSSY_THRESHOLD_DB, value


def _mean_resize(gray: np.ndarray, size: int = 32) -> np.ndarray:
    """Deterministic area-mean resize to (size, size)."""
    h, w = gray.shape
    ys = (np.arange(size + 1) * h // size).astype(np.int64)
    xs = (np.arange(size + 1) * w // size).astype(np.int64)
    # integral image for O(1) box sums, fully vectorized over the grid
    integ = np.zeros((h + 1, w + 1), dtype=np.float64)
    integ[1:, 1:] = np.cumsum(np.cumsum(gray.astype(np.float64), axis=0), axis=1)
    y0, y1 = ys[:-1], np.maximum(ys[1:], ys[:-1] + 1)
    x0, x1 = xs[:-1], np.maximum(xs[1:], xs[:-1] + 1)
    rows = integ[y1] - integ[y0]  # (size, w+1)
    sums = rows[:, x1] - rows[:, x0]  # same (row[x1]-row[x0]) as the scalar loop
    area = (y1 - y0)[:, None] * (x1 - x0)[None, :]
    return sums / area


_DCT32 = None


def _dct32() -> np.ndarray:
    global _DCT32
    if _DCT32 is None:
        n = 32
        k = np.arange(n)
        mat = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / (2 * n))
        mat *= np.sqrt(2.0 / n)
        mat[0] /= np.sqrt(2.0)
        _DCT32 = mat
    return _DCT32


def phash64(pixels: np.ndarray) -> int:
    """Classic 64-bit perceptual hash: 32x32 grayscale -> 2D DCT ->
    top-left 8x8 low-frequency block -> median threshold -> bit string.

    Deterministic (float64 everywhere); returns a SIGNED int64 so the
    value round-trips through Spark LongType.
    """
    gray = (
        0.299 * pixels[:, :, 0].astype(np.float64)
        + 0.587 * pixels[:, :, 1].astype(np.float64)
        + 0.114 * pixels[:, :, 2].astype(np.float64)
    )
    small = _mean_resize(gray, 32)
    d = _dct32()
    # fixed-order einsum (optimize=False, no BLAS dispatch): the hash
    # compares coefficients against their own median, so matmul's
    # build-dependent last-ulp reduction order could flip bits between
    # environments; snapping to a 1e-6 grid removes the residual tie risk
    freq = np.einsum("ij,jk,lk->il", d, small, d)
    block = np.round(freq[:8, :8].flatten(), 6)
    med = np.median(block[1:])  # skip DC term, classic pHash convention
    bits = 0
    for idx, value in enumerate(block):
        if idx == 0:
            continue
        if value > med:
            bits |= 1 << (idx - 1)
    return int(np.int64(np.uint64(bits)))


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
