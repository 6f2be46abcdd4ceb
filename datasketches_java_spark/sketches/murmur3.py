"""MurmurHash3 x64-128, seedable, bit-compatible with the reference.

The reference implementation is hash/MurmurHash3.java:69 (itself
bit-compatible with Austin Appleby's public-domain C++ final revision
150).  We provide:

  - ``hash128_bytes(data, seed)``    scalar, any ``bytes`` — parity path
    for String/byte[] updates (theta/UpdateSketch.java:255,271).
  - ``hash128_u64(keys, seed)``      vectorized over a uint64 numpy
    array; each element hashed as ONE 8-byte little-endian long, i.e.
    identical to ``MurmurHash3.hash(long, seed)``
    (hash/MurmurHash3.java:83 -> finalMix128(key, 0, 8)).
  - ``theta_hash_u64(keys, seed)``   the sketch update hash:
    ``hash128[0] >>> 1`` (63-bit positive, theta/UpdateSketch.java:260).

All numpy arithmetic stays in uint64 (wrap-around modular semantics,
matching Java's long overflow behavior).
"""

from __future__ import annotations

import numpy as np

_C1 = np.uint64(0x87C37B91114253D5)
_C2 = np.uint64(0x4CF5AD432745937F)
_M5 = np.uint64(5)
_A1 = np.uint64(0x52DCE729)
_A2 = np.uint64(0x38495AB5)
_F1 = np.uint64(0xFF51AFD7ED558CCD)
_F2 = np.uint64(0xC4CEB9FE1A85EC53)
_MASK64 = 0xFFFFFFFFFFFFFFFF


# ---------------------------------------------------------------------------
# vectorized uint64 path (the hot path: every sketch update hashes longs)
# ---------------------------------------------------------------------------

def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    r = np.uint64(r)
    return (x << r) | (x >> (np.uint64(64) - r))


def _fmix64(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _F1
    h = h ^ (h >> np.uint64(33))
    h = h * _F2
    h = h ^ (h >> np.uint64(33))
    return h


def hash128_u64(keys: np.ndarray, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized MurmurHash3 x64-128 of single-long inputs.

    Equivalent to hash/MurmurHash3.java:83 ``hash(long, seed)``:
    finalMix128(k1=key, k2=0, inputLengthBytes=8).
    Returns (h1, h2) uint64 arrays.
    """
    keys = np.ascontiguousarray(keys).view(np.uint64) if keys.dtype != np.uint64 else keys
    with np.errstate(over="ignore"):
        seed_u = np.uint64(seed & _MASK64)
        # mixK1(key)
        k1 = keys * _C1
        k1 = _rotl(k1, 31)
        k1 = k1 * _C2
        h1 = seed_u ^ k1
        h2 = np.full_like(h1, seed_u)  # mixK2(0) == 0
        eight = np.uint64(8)
        h1 = h1 ^ eight
        h2 = h2 ^ eight
        h1 = h1 + h2
        h2 = h2 + h1
        h1 = _fmix64(h1)
        h2 = _fmix64(h2)
        h1 = h1 + h2
        h2 = h2 + h1
    return h1, h2


def theta_hash_u64(keys: np.ndarray, seed: int) -> np.ndarray:
    """Sketch update hash of int64/uint64 keys: murmur3(key)[0] >>> 1.

    Matches theta/UpdateSketch.java:260 (and hll/BaseHllSketch coupon
    path uses the same 128-bit hash).
    """
    h1, _ = hash128_u64(np.asarray(keys), seed)
    return h1 >> np.uint64(1)


# ---------------------------------------------------------------------------
# vectorized two-long path (used by 128-perm MinHash permutation seeding)
# ---------------------------------------------------------------------------

def hash128_u64_pair(k1s: np.ndarray, k2s: np.ndarray, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized hash of (long, long) pairs == hash(long[2], seed).

    One full 128-bit block, then finalMix128(0, 0, 16)
    (hash/MurmurHash3.java:105-132 with lengthLongs=2).
    """
    with np.errstate(over="ignore"):
        seed_u = np.uint64(seed & _MASK64)
        k1 = np.asarray(k1s, dtype=np.uint64) * _C1
        k1 = _rotl(k1, 31) * _C2
        h1 = seed_u ^ k1
        h1 = _rotl(h1, 27)
        h2 = np.full_like(h1, seed_u)
        h1 = h1 + h2
        h1 = h1 * _M5 + _A1
        k2 = np.asarray(k2s, dtype=np.uint64) * _C2
        k2 = _rotl(k2, 33) * _C1
        h2 = h2 ^ k2
        h2 = _rotl(h2, 31)
        h2 = h2 + h1
        h2 = h2 * _M5 + _A2
        sixteen = np.uint64(16)
        h1 = h1 ^ sixteen
        h2 = h2 ^ sixteen
        h1 = h1 + h2
        h2 = h2 + h1
        h1 = _fmix64(h1)
        h2 = _fmix64(h2)
        h1 = h1 + h2
        h2 = h2 + h1
    return h1, h2


# ---------------------------------------------------------------------------
# vectorized variable-length bytes path (batch parity with
# hash(byte[], seed) — the string/byte[] update overloads,
# theta/UpdateSketch.java:255,271)
# ---------------------------------------------------------------------------

def hash128_bytes_batch(flat: np.ndarray, starts: np.ndarray,
                        lengths: np.ndarray, seed: int
                        ) -> tuple[np.ndarray, np.ndarray]:
    """MurmurHash3 x64-128 of N variable-length byte strings at once.

    ``flat`` is the concatenated uint8 buffer (Arrow string layout);
    string i occupies flat[starts[i] : starts[i]+lengths[i]].  Block
    rounds run level-by-level over the subset of strings that still
    have a full 16-byte block — O(max_blocks) numpy passes, no per-row
    Python.  The tail round runs unconditionally on zero-padded
    k1/k2: mix(0) == 0 and ``h ^= 0`` is the identity, so skipping the
    reference's ``if (k1 != 0)`` guards is bit-equivalent.
    Bit-compatible with hash/MurmurHash3.java:259 (verified against the
    scalar parity path in tests/test_murmur3.py).
    """
    flat = np.ascontiguousarray(flat, dtype=np.uint8)
    starts = np.asarray(starts, dtype=np.int64)
    lengths = np.asarray(lengths, dtype=np.int64)
    n = starts.shape[0]
    with np.errstate(over="ignore"):
        seed_u = np.uint64(seed & _MASK64)
        h1 = np.full(n, seed_u, dtype=np.uint64)
        h2 = np.full(n, seed_u, dtype=np.uint64)
        nblocks = lengths // 16
        max_blocks = int(nblocks.max()) if n else 0
        cols = np.arange(16, dtype=np.int64)
        for bi in range(max_blocks):
            active = np.nonzero(nblocks > bi)[0]
            idx = starts[active, None] + bi * 16 + cols
            blk = flat[idx]                       # (m, 16) uint8
            words = np.ascontiguousarray(blk).view("<u8")  # (m, 2)
            k1 = words[:, 0].astype(np.uint64)
            k2 = words[:, 1].astype(np.uint64)
            a1, a2 = h1[active], h2[active]
            k1 = _rotl(k1 * _C1, 31) * _C2
            a1 = a1 ^ k1
            a1 = _rotl(a1, 27)
            a1 = a1 + a2
            a1 = a1 * _M5 + _A1
            k2 = _rotl(k2 * _C2, 33) * _C1
            a2 = a2 ^ k2
            a2 = _rotl(a2, 31)
            a2 = a2 + a1
            a2 = a2 * _M5 + _A2
            h1[active] = a1
            h2[active] = a2
        # zero-padded 16-byte tails
        rem = lengths - nblocks * 16
        tail_start = starts + nblocks * 16
        idx = tail_start[:, None] + cols
        valid = cols[None, :] < rem[:, None]
        np.clip(idx, 0, max(flat.size - 1, 0), out=idx)
        tail = np.where(valid, flat[idx] if flat.size else np.uint8(0), 0) \
            .astype(np.uint8)
        words = np.ascontiguousarray(tail).view("<u8")
        k1 = words[:, 0].astype(np.uint64)
        k2 = words[:, 1].astype(np.uint64)
        k1 = _rotl(k1 * _C1, 31) * _C2
        k2 = _rotl(k2 * _C2, 33) * _C1
        h1 = h1 ^ k1
        h2 = h2 ^ k2
        lu = lengths.astype(np.uint64)
        h1 = h1 ^ lu
        h2 = h2 ^ lu
        h1 = h1 + h2
        h2 = h2 + h1
        h1 = _fmix64(h1)
        h2 = _fmix64(h2)
        h1 = h1 + h2
        h2 = h2 + h1
    return h1, h2


# ---------------------------------------------------------------------------
# scalar bytes path (parity with hash(byte[], seed), hash/MurmurHash3.java:259)
# ---------------------------------------------------------------------------

def hash128_bytes(data: bytes, seed: int) -> tuple[int, int]:
    """Scalar MurmurHash3 x64-128 over bytes, little-endian tails.

    Bit-compatible with hash/MurmurHash3.java:259 ``hash(byte[], seed)``
    and the C++ MurmurHash3_x64_128.  Returns (h1, h2) as Python ints
    in [0, 2^64).
    """
    c1 = 0x87C37B91114253D5
    c2 = 0x4CF5AD432745937F
    h1 = seed & _MASK64
    h2 = seed & _MASK64
    length = len(data)
    nblocks = length // 16

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (64 - r))) & _MASK64

    def fmix(h: int) -> int:
        h ^= h >> 33
        h = (h * 0xFF51AFD7ED558CCD) & _MASK64
        h ^= h >> 33
        h = (h * 0xC4CEB9FE1A85EC53) & _MASK64
        h ^= h >> 33
        return h

    for i in range(nblocks):
        k1 = int.from_bytes(data[i * 16 : i * 16 + 8], "little")
        k2 = int.from_bytes(data[i * 16 + 8 : i * 16 + 16], "little")
        k1 = (k1 * c1) & _MASK64
        k1 = rotl(k1, 31)
        k1 = (k1 * c2) & _MASK64
        h1 ^= k1
        h1 = rotl(h1, 27)
        h1 = (h1 + h2) & _MASK64
        h1 = (h1 * 5 + 0x52DCE729) & _MASK64
        k2 = (k2 * c2) & _MASK64
        k2 = rotl(k2, 33)
        k2 = (k2 * c1) & _MASK64
        h2 ^= k2
        h2 = rotl(h2, 31)
        h2 = (h2 + h1) & _MASK64
        h2 = (h2 * 5 + 0x38495AB5) & _MASK64

    tail = data[nblocks * 16 :]
    k1 = int.from_bytes(tail[:8], "little") if tail[:8] else 0
    k2 = int.from_bytes(tail[8:16], "little") if tail[8:16] else 0
    if k1:
        k1 = (k1 * c1) & _MASK64
        k1 = rotl(k1, 31)
        k1 = (k1 * c2) & _MASK64
    if k2:
        k2 = (k2 * c2) & _MASK64
        k2 = rotl(k2, 33)
        k2 = (k2 * c1) & _MASK64
    h1 ^= k1
    h2 ^= k2
    h1 ^= length
    h2 ^= length
    h1 = (h1 + h2) & _MASK64
    h2 = (h2 + h1) & _MASK64
    h1 = fmix(h1)
    h2 = fmix(h2)
    h1 = (h1 + h2) & _MASK64
    h2 = (h2 + h1) & _MASK64
    return h1, h2


def theta_hash_str(s: str, seed: int) -> int:
    """Parity path: theta update hash of a String (UTF-8), >>> 1."""
    h1, _ = hash128_bytes(s.encode("utf-8"), seed)
    return h1 >> 1
