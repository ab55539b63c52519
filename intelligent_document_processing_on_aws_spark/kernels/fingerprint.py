"""Document fingerprinting kernels: shingles, MinHash, SimHash.

Used by the dedup operators (operators/dedup.py). All hashes are
deterministic and dependency-free (md5-based), so driver, executors, and
tests agree bit-for-bit. Public-knowledge constructions: MinHash (Broder
1997), SimHash (Charikar 2002), banded LSH (Mining of Massive Datasets
ch. 3).
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

MERSENNE_PRIME = (1 << 61) - 1
MAX_HASH = (1 << 32) - 1


def tokens_of(text: str) -> list[str]:
    return text.lower().split()


def shingles(text: str, k: int = 3) -> set[str]:
    """k-token shingles (whitespace tokens, lowercased)."""
    toks = tokens_of(text)
    if len(toks) < k:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def stable_hash64(s: str) -> int:
    """First 8 bytes of md5 as unsigned 64-bit int (cross-platform stable)."""
    return struct.unpack("<Q", hashlib.md5(s.encode("utf-8")).digest()[:8])[0]


def stable_hash32(s: str) -> int:
    """First 4 bytes of md5 as unsigned 32-bit int."""
    return struct.unpack("<I", hashlib.md5(s.encode("utf-8")).digest()[:4])[0]


def _minhash_params(num_perm: int, seed: int = 42):
    """Deterministic coefficient arrays for h_i(x) = ((a*x + b) mod p)
    with FULL-RANGE a in [1, p-1] (a small a would wrap the modulus only
    a handful of times over 32-bit inputs, leaving the hash ordering
    correlated with x and the min-estimator badly biased — measured est
    0.84 for true J=0.5). a is pre-split into 2^32 limbs so the sweep
    vectorizes exactly in uint64 (see minhash_signature)."""
    a_hi, a_lo, b = [], [], []
    for i in range(num_perm):
        d = hashlib.md5(f"minhash-{seed}-{i}".encode()).digest()
        a = (struct.unpack("<Q", d[:8])[0] % (MERSENNE_PRIME - 1)) + 1
        a_hi.append(a >> 32)
        a_lo.append(a & 0xFFFFFFFF)
        b.append(struct.unpack("<Q", d[8:16])[0] % MERSENNE_PRIME)
    col = lambda v: np.array(v, dtype=np.uint64)[:, None]  # noqa: E731
    return col(a_hi), col(a_lo), col(b)


_PARAM_CACHE: dict = {}

_P = np.uint64(MERSENNE_PRIME)
_MASK29 = np.uint64((1 << 29) - 1)


def minhash_signature(text: str, num_perm: int = 32, k: int = 3, seed: int = 42) -> list[int]:
    """One (num_perm x n_shingles) vectorized sweep per document.

    Exact (a*x + b) mod p over the Mersenne modulus p = 2^61-1 without
    arbitrary precision: with a = a_hi*2^32 + a_lo and 32-bit shingle
    hashes x, every intermediate fits uint64 —
      a_hi*x < 2^61;  a_hi*x*2^32 mod p is a 61-bit rotation by 32
      (2^61 === 1 mod p);  a_lo*x < 2^64 folds via (t & p) + (t >> 61).
    The signature entry is min over shingles of the masked low 32 bits,
    matching the classic (h mod p) & (2^32-1) construction."""
    key = (num_perm, seed)
    if key not in _PARAM_CACHE:
        _PARAM_CACHE[key] = _minhash_params(num_perm, seed)
    a_hi, a_lo, b = _PARAM_CACHE[key]
    sh = shingles(text, k)
    if not sh:
        return [MAX_HASH] * num_perm
    x = np.fromiter((stable_hash32(s) for s in sh), dtype=np.uint64,
                    count=len(sh))[None, :]
    m1 = a_hi * x  # < 2^61
    rot = ((m1 & _MASK29) << np.uint64(32)) | (m1 >> np.uint64(29))
    lo = a_lo * x  # < 2^64, exact
    lo_red = (lo & _P) + (lo >> np.uint64(61))
    t = rot + lo_red + b  # < 3 * 2^61, fits
    t = (t & _P) + (t >> np.uint64(61))
    t = np.where(t >= _P, t - _P, t)
    return [int(v) for v in (t & np.uint64(MAX_HASH)).min(axis=1)]


def lsh_band_keys(sig: list[int], bands: int = 8) -> list[str]:
    """Banded LSH bucket keys: hash of each contiguous band of the signature."""
    rows = len(sig) // bands
    keys = []
    for b in range(bands):
        band = sig[b * rows : (b + 1) * rows]
        h = hashlib.md5(("|".join(map(str, band)) + f"#band{b}").encode()).hexdigest()[:16]
        keys.append(f"{b}:{h}")
    return keys


def jaccard(text_a: str, text_b: str, k: int = 3) -> float:
    sa, sb = shingles(text_a, k), shingles(text_b, k)
    if not sa and not sb:
        return 1.0
    inter = len(sa & sb)
    union = len(sa | sb)
    return inter / union if union else 0.0


def simhash64(text: str) -> int:
    """64-bit SimHash over whitespace tokens weighted by frequency.

    Vectorized (token-hash x 64-bit matrix, one sum) but bit-for-bit
    identical to the per-bit loop formulation: weight_b = sum over tokens
    of +count if bit b of the token hash is set else -count; output bit
    set where weight > 0."""
    counts: dict[str, int] = {}
    for t in tokens_of(text):
        counts[t] = counts.get(t, 0) + 1
    if not counts:
        return 0
    hs = np.fromiter((stable_hash64(t) for t in counts),
                     dtype=np.uint64, count=len(counts))
    w = np.fromiter(counts.values(), dtype=np.int64, count=len(counts))
    bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
            & np.uint64(1)).astype(np.int64)
    weights = ((2 * bits - 1) * w[:, None]).sum(axis=0)
    out = 0
    for bit in np.nonzero(weights > 0)[0]:
        out |= 1 << int(bit)
    return out


def hamming64(a: int, b: int) -> int:
    return bin(a ^ b).count("1")
