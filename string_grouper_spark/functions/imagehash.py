"""Perceptual image hashes (dHash / pHash) — pure numpy, deterministic.

The media-dedup counterpart of the text SimHash: a 64-bit signature whose
Hamming distance tracks VISUAL similarity, so two re-encodings of the same
picture (different JPEG qualities, PNG vs JPEG, mild brightness shifts)
land within a small ball while unrelated pictures land ~32 bits apart.
Signatures feed the SAME pigeonhole block join as text SimHash
(``operators.candidates.hamming_ball_pairs``), making image near-dup
detection a first-class, oracle-testable operator rather than a stub.

Two standard hashes (see e.g. the pHash.org DCT hash and the widely-used
"difference hash" write-ups; both are public-domain folklore algorithms):

  * ``dhash64``  — area-downscale the grayscale image to 8x9 and take the
    sign of each horizontal gradient: 8 rows x 8 diffs = 64 bits.  Fast,
    robust to re-encoding and global brightness shifts (gradients cancel
    constant offsets).
  * ``phash64``  — area-downscale to 32x32, orthonormal 2-D DCT-II (the
    32-point generalization of ``functions.jpeg.dct_matrix``), keep the
    8x8 lowest-frequency block, threshold each coefficient against the
    MEDIAN of the 64: robust to gamma/contrast changes (monotone maps
    roughly preserve the low-frequency ordering).

Both return int64 (the uint64 bit pattern two's-complement folded, exactly
like ``candidates.simhash_fast_batch``) so signatures ride Spark ``LongType``
columns and reuse ``bit_count``/``shiftrightunsigned`` JVM-side.

Resizing uses integer-bin AREA AVERAGING (``np.add.reduceat`` over both
axes): every source pixel contributes to exactly one target cell, cells
differ by at most one source row/column — deterministic, antialiasing,
and library-free.  When the image is smaller than the target grid, pixels
are repeated (nearest upsample) first so reduceat bins are never empty.
"""

from __future__ import annotations

import numpy as np

__all__ = ["dhash64", "phash64", "to_gray", "resize_area"]


def to_gray(img: np.ndarray) -> np.ndarray:
    """uint8 (h,w) / (h,w,3) / (h,w,4) -> float64 (h,w) luma (ITU-R 601)."""
    a = np.asarray(img)
    if a.ndim == 2:
        return a.astype(np.float64)
    if a.ndim == 3 and a.shape[2] >= 3:
        r, g, b = (a[..., i].astype(np.float64) for i in range(3))
        return 0.299 * r + 0.587 * g + 0.114 * b
    raise ValueError(f"expected (h,w[,3|4]) image, got shape {a.shape}")


def _bin_edges(n_src: int, n_dst: int) -> np.ndarray:
    # n_dst integer bin starts covering [0, n_src): sizes differ by <= 1
    return (np.arange(n_dst, dtype=np.int64) * n_src) // n_dst


def resize_area(gray: np.ndarray, h: int, w: int) -> np.ndarray:
    """Area-average (box) downscale to (h, w); nearest upsample first when
    a source axis is smaller than the target."""
    g = np.asarray(gray, dtype=np.float64)
    if g.shape[0] < h:
        g = np.repeat(g, -(-h // g.shape[0]), axis=0)
    if g.shape[1] < w:
        g = np.repeat(g, -(-w // g.shape[1]), axis=1)
    rows = _bin_edges(g.shape[0], h)
    cols = _bin_edges(g.shape[1], w)
    # reduceat sums each bin; divide by the true bin areas
    s = np.add.reduceat(np.add.reduceat(g, rows, axis=0), cols, axis=1)
    rh = np.diff(np.append(rows, g.shape[0])).astype(np.float64)
    cw = np.diff(np.append(cols, g.shape[1])).astype(np.float64)
    return s / (rh[:, None] * cw[None, :])


def _fold_bits(bits: np.ndarray) -> int:
    """64 bools (MSB first) -> int64 via the uint64 two's-complement fold
    (same convention as candidates.simhash_fast_batch)."""
    val = np.uint64(0)
    packed = np.packbits(bits.astype(np.uint8))
    for byte in packed:
        val = (val << np.uint64(8)) | np.uint64(byte)
    return int(val.astype(np.int64))


def dhash64(img: np.ndarray) -> int:
    """Difference hash: 8x9 area downscale, horizontal gradient signs."""
    small = resize_area(to_gray(img), 8, 9)
    bits = (small[:, 1:] > small[:, :-1]).ravel()  # 8 x 8
    return _fold_bits(bits)


_DCT32 = None


def _dct32() -> np.ndarray:
    global _DCT32
    if _DCT32 is None:
        n = 32
        k = np.arange(n, dtype=np.float64)
        m = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / (2 * n))
        m *= np.sqrt(2.0 / n)
        m[0] *= np.sqrt(0.5)
        _DCT32 = m
    return _DCT32


def phash64(img: np.ndarray) -> int:
    """DCT hash: 32x32 area downscale, 8x8 low-frequency block vs median."""
    small = resize_area(to_gray(img), 32, 32)
    c = _dct32()
    coeffs = (c @ small @ c.T)[:8, :8].ravel()
    return _fold_bits(coeffs > np.median(coeffs))
