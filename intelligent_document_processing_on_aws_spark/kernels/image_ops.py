"""Pixel-level image preprocessing on numpy arrays (reference parity).

The reference's image pipeline (lib/idp_common_pkg/idp_common/image/
__init__.py:13-96 resize_image, :125-188 apply_adaptive_binarization)
operates on PIL Images; PIL is absent from this container, so PNG is
decoded by kernels/png_codec.py (the only pixel decoder; every other
format stops at operators/multimodal.py's NotImplementedError boundary),
and the MATH those functions perform is implemented here on decoded
arrays:

- fit_within_scale / resize_array: aspect-preserving fit-within scaling —
  scale = min(target_w/w, target_h/h), resize only when downscaling (or
  allow_upscale), new dims = int(dim * scale) (reference :54-66). The
  resample kernel is center-aligned bilinear (the reference uses LANCZOS —
  a kernel-choice deviation, the geometry is identical).
- to_grayscale: PIL convert('L') ITU-R 601 integer luma
  (R*299 + G*587 + B*114) / 1000.
- adaptive_binarize_array: ADAPTIVE_THRESH_MEAN_C analog with
  block_size=15, C=10 (reference :152-176): local mean via an
  edge-replicated box filter (integral image), out = 255 where
  pixel > mean - C else 0.

All vectorized numpy — usable directly inside Arrow-batched mapInPandas
stages once a decoder provides arrays.
"""

from __future__ import annotations

import numpy as np


def fit_within_scale(width: int, height: int, target_w: int, target_h: int) -> float:
    """min(width_ratio, height_ratio) — fit within bounds, preserve aspect."""
    return min(target_w / width, target_h / height)


def to_grayscale(img: np.ndarray) -> np.ndarray:
    """HxWx3 (or HxW) uint8 -> HxW uint8, PIL 'L' integer luma."""
    if img.ndim == 2:
        return img.astype(np.uint8)
    r = img[..., 0].astype(np.int64)
    g = img[..., 1].astype(np.int64)
    b = img[..., 2].astype(np.int64)
    return ((r * 299 + g * 587 + b * 114) // 1000).astype(np.uint8)


def resize_array(
    img: np.ndarray,
    target_w: int | None,
    target_h: int | None,
    allow_upscale: bool = False,
) -> np.ndarray:
    """Aspect-preserving fit-within resize (reference resize_image math:
    either target None -> unchanged; scale >= 1 without allow_upscale ->
    unchanged; else bilinear to (int(w*s), int(h*s)))."""
    if target_w is None or target_h is None:
        return img
    h, w = img.shape[:2]
    scale = fit_within_scale(w, h, int(target_w), int(target_h))
    if not (scale < 1.0 or (allow_upscale and scale > 1.0)):
        return img
    new_w, new_h = max(int(w * scale), 1), max(int(h * scale), 1)
    return _bilinear(img, new_w, new_h)


def _bilinear(img: np.ndarray, new_w: int, new_h: int) -> np.ndarray:
    h, w = img.shape[:2]
    # center-aligned sample positions (pixel centers at i + 0.5)
    xs = np.clip((np.arange(new_w) + 0.5) * w / new_w - 0.5, 0, w - 1)
    ys = np.clip((np.arange(new_h) + 0.5) * h / new_h - 0.5, 0, h - 1)
    x0 = np.floor(xs).astype(np.int64)
    y0 = np.floor(ys).astype(np.int64)
    x1 = np.minimum(x0 + 1, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    fx = (xs - x0)[None, :]
    fy = (ys - y0)[:, None]
    if img.ndim == 3:
        fx = fx[..., None]
        fy = fy[..., None]
    a = img[np.ix_(y0, x0)].astype(np.float64)
    b = img[np.ix_(y0, x1)].astype(np.float64)
    c = img[np.ix_(y1, x0)].astype(np.float64)
    d = img[np.ix_(y1, x1)].astype(np.float64)
    top = a + (b - a) * fx
    bot = c + (d - c) * fx
    out = top + (bot - top) * fy
    return np.clip(np.rint(out), 0, 255).astype(img.dtype)


def box_mean(gray: np.ndarray, radius: int) -> np.ndarray:
    """Exact (2r+1)x(2r+1) box average with edge replication, via an
    integral image — O(n) regardless of radius."""
    padded = np.pad(gray.astype(np.float64), radius, mode="edge")
    integ = np.zeros((padded.shape[0] + 1, padded.shape[1] + 1))
    integ[1:, 1:] = padded.cumsum(0).cumsum(1)
    k = 2 * radius + 1
    h, w = gray.shape
    s = (integ[k:k + h, k:k + w] - integ[:h, k:k + w]
         - integ[k:k + h, :w] + integ[:h, :w])
    return s / (k * k)


def adaptive_binarize_array(
    img: np.ndarray, block_size: int = 15, c: int = 10
) -> np.ndarray:
    """ADAPTIVE_THRESH_MEAN_C analog (reference :152-176): grayscale, local
    mean over a block_size box, 255 where pixel > mean - c else 0."""
    gray = to_grayscale(img)
    mean = box_mean(gray, block_size // 2)
    return np.where(gray.astype(np.float64) > mean - c, 255, 0).astype(np.uint8)
