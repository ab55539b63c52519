"""Optional ctypes binding to the system libwebp — gated, never required.

Two jobs, both strictly additive to the from-scratch codecs:

1. **Differential oracle for the from-scratch VP8L codec**
   (``kernels/webp_codec.py``): our encoder's bitstreams are decoded by
   the canonical Google implementation and compared pixel-for-pixel, and
   libwebp-encoded lossless files are decoded by our decoder — an
   independent spec-compliance check no roundtrip test can provide
   (tests/test_webp_differential.py).

2. **Lossy-VP8 decode path**: the from-scratch boundary is VP8's
   boolean-entropy coder, whose default probability / dequant tables
   (RFC 6386 §13-14) are ~2 KB of empirical constants that cannot be
   re-derived and are not exported by the stripped shared object, so a
   from-scratch reimplementation cannot be independently verified here.
   When the system library is present (it ships with this container's
   base image), ``operators/multimodal._decode_image`` uses it for lossy
   VP8 payloads; when absent, the loud ``NotImplementedError`` boundary
   is unchanged.

Reference parity: the reference pipeline decodes every raster format via
PIL/OpenCV (idp_common/image/__init__.py:13-96) — i.e. via exactly this
kind of system codec library. Everything here uses only the public
stable libwebp API (WebPGetInfo / WebPDecodeRGBA / WebPEncodeRGBA /
WebPEncodeLosslessRGBA / WebPFree).
"""

from __future__ import annotations

import ctypes
import ctypes.util

from .webp_codec import WebpError


class WebpSysError(WebpError):
    """System-libwebp call failed (bad bitstream or encode error).
    Subclasses WebpError so every existing loud-degrade catch site
    (operators/multimodal.py error columns) handles it unchanged."""


def _load() -> ctypes.CDLL | None:
    names = ["libwebp.so.7", "libwebp.so", "libwebp.7.dylib",
             "libwebp.dylib"]
    found = ctypes.util.find_library("webp")
    if found:
        names.append(found)
    for name in names:
        try:
            lib = ctypes.CDLL(name)
        except OSError:
            continue
        try:
            _bind(lib)
        except AttributeError:
            continue  # too old / symbols missing — treat as absent
        return lib
    return None


def _bind(lib: ctypes.CDLL) -> None:
    c = ctypes
    u8p = c.POINTER(c.c_uint8)
    lib.WebPGetInfo.restype = c.c_int
    lib.WebPGetInfo.argtypes = [c.c_char_p, c.c_size_t,
                                c.POINTER(c.c_int), c.POINTER(c.c_int)]
    lib.WebPDecodeRGBA.restype = u8p
    lib.WebPDecodeRGBA.argtypes = [c.c_char_p, c.c_size_t,
                                   c.POINTER(c.c_int), c.POINTER(c.c_int)]
    lib.WebPEncodeRGBA.restype = c.c_size_t
    lib.WebPEncodeRGBA.argtypes = [c.c_char_p, c.c_int, c.c_int, c.c_int,
                                   c.c_float, c.POINTER(u8p)]
    lib.WebPEncodeLosslessRGBA.restype = c.c_size_t
    lib.WebPEncodeLosslessRGBA.argtypes = [c.c_char_p, c.c_int, c.c_int,
                                           c.c_int, c.POINTER(u8p)]
    lib.WebPFree.restype = None
    lib.WebPFree.argtypes = [c.c_void_p]


_LIB = _load()


def available() -> bool:
    """True when the system libwebp loaded with all required symbols."""
    return _LIB is not None


def _require() -> ctypes.CDLL:
    if _LIB is None:
        raise WebpSysError("system libwebp is not available")
    return _LIB


def decode_rgba(data: bytes):
    """Decode any WebP (lossy VP8 or lossless VP8L) to (h, w, 4) uint8
    RGBA with the system decoder."""
    import numpy as np

    lib = _require()
    w, h = ctypes.c_int(), ctypes.c_int()
    ptr = lib.WebPDecodeRGBA(data, len(data), ctypes.byref(w),
                             ctypes.byref(h))
    if not ptr:
        raise WebpSysError("WebPDecodeRGBA failed (corrupt bitstream?)")
    try:
        buf = ctypes.string_at(ptr, w.value * h.value * 4)
    finally:
        lib.WebPFree(ptr)
    return np.frombuffer(buf, dtype=np.uint8).reshape(h.value, w.value, 4)


def _as_rgba_bytes(img) -> tuple[bytes, int, int]:
    import numpy as np

    a = np.asarray(img, dtype=np.uint8)
    if a.ndim == 2:
        a = np.dstack([a, a, a])
    if a.shape[2] == 3:
        a = np.dstack([a, np.full(a.shape[:2], 255, np.uint8)])
    h, w = a.shape[:2]
    return np.ascontiguousarray(a).tobytes(), w, h


def encode_lossy(img, quality: float = 75.0) -> bytes:
    """Encode to lossy (VP8) WebP with the system encoder — used only to
    build test/query fixtures exercising the lossy decode path."""
    lib = _require()
    raw, w, h = _as_rgba_bytes(img)
    out = ctypes.POINTER(ctypes.c_uint8)()
    n = lib.WebPEncodeRGBA(raw, w, h, w * 4, float(quality),
                           ctypes.byref(out))
    if not n or not out:
        raise WebpSysError("WebPEncodeRGBA failed")
    try:
        return ctypes.string_at(out, n)
    finally:
        lib.WebPFree(out)


def encode_lossless(img) -> bytes:
    """Encode to lossless (VP8L) WebP with the system encoder — the
    differential fixture for the from-scratch decoder."""
    lib = _require()
    raw, w, h = _as_rgba_bytes(img)
    out = ctypes.POINTER(ctypes.c_uint8)()
    n = lib.WebPEncodeLosslessRGBA(raw, w, h, w * 4, ctypes.byref(out))
    if not n or not out:
        raise WebpSysError("WebPEncodeLosslessRGBA failed")
    try:
        return ctypes.string_at(out, n)
    finally:
        lib.WebPFree(out)
