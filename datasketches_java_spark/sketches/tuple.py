"""Tuple sketch — theta-distinct keys with attributed summaries.

Re-expresses the reference's tuple family (tuple/Sketch.java:32,
tuple/UpdatableSketch.java:40, tuple/Union.java:33,
tuple/Intersection.java:43, tuple/AnotB.java:69, tuple/Filter.java:31,
tuple/JaccardSimilarity.java:41, summary modes
tuple/aninteger/IntegerSummary.java:40-46, fixed-width values
tuple/arrayofdoubles/ArrayOfDoublesSketch.java:36) as a numpy
struct-of-arrays: a sorted retained-hash array (the same theta-KMV
substrate as sketches/theta.py — shared hash space enables the
theta-interop ops, tuple/Union.java:124) plus parallel float64 value
columns, one per summary dimension.

Summary algebra on key collision / union is a configurable mode per
the reference: Sum / Min / Max / AlwaysOne (IntegerSummary.Mode).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

from ..config import DEFAULT_LG_K, DEFAULT_UPDATE_SEED
from .murmur3 import theta_hash_u64
from .theta import MAX_THETA, ThetaSketch, compute_seed_hash

_FAMILY_TUPLE = 9
_SER_VER = 1
# fam, ver, flags, lgK, seedHash, nDims, theta, count, mode, dtypeCode
# (dtypeCode occupies what was a pad byte in round-1 images: 0 = float64,
#  1 = int64 — old images decode as float64 unchanged)
_HDR = struct.Struct("<BBBBHHQIHBx")
_MODES = {"Sum": 0, "Min": 1, "Max": 2, "AlwaysOne": 3}
_MODES_INV = {v: k for k, v in _MODES.items()}
_DTYPE_CODES = {np.dtype(np.float64): 0, np.dtype(np.int64): 1}
_DTYPE_FMT = {0: "<f8", 1: "<i8"}


def _combine(mode: str, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    if mode == "Sum":
        return a + b
    if mode == "Min":
        return np.minimum(a, b)
    if mode == "Max":
        return np.maximum(a, b)
    return np.ones_like(a)  # AlwaysOne


@dataclass(frozen=True)
class TupleSketch:
    lg_k: int
    seed_hash: int
    theta: np.uint64
    hashes: np.ndarray      # sorted uint64
    values: np.ndarray      # (count x n_dims) float64, row-aligned with hashes
    mode: str = "Sum"

    @property
    def count(self) -> int:
        return int(self.hashes.shape[0])

    def estimate(self) -> float:
        return self.count / (float(self.theta) / float(MAX_THETA))

    def sum_values(self) -> np.ndarray:
        """Σ summaries over retained keys, scaled by 1/theta-fraction —
        the unbiased total over ALL distinct keys.

        Exact mode with int64 summaries sums in int64 end-to-end (no
        float path), so integer-valued totals are deterministic
        regardless of partition/merge order."""
        if self.theta == MAX_THETA:
            return self.values.sum(axis=0)  # exact; preserves dtype
        scale = 1.0 / (float(self.theta) / float(MAX_THETA))
        return self.values.sum(axis=0) * scale

    def as_theta(self) -> ThetaSketch:
        """Drop summaries (tuple→theta interop, tuple/Union.java:124)."""
        return ThetaSketch(self.lg_k, self.seed_hash, self.theta, self.hashes)

    def filter(self, predicate) -> "TupleSketch":
        """Predicate over summary rows → sub-sketch (tuple/Filter.java:51
        — the reference's only relational filter)."""
        mask = np.asarray([bool(predicate(v)) for v in self.values])
        return TupleSketch(self.lg_k, self.seed_hash, self.theta,
                           self.hashes[mask], self.values[mask], self.mode)

    # -- serde --------------------------------------------------------------
    def to_bytes(self) -> bytes:
        n_dims = self.values.shape[1] if self.values.size else (
            self.values.shape[1] if self.values.ndim == 2 else 0)
        dcode = _DTYPE_CODES[self.values.dtype]
        hdr = _HDR.pack(_FAMILY_TUPLE, _SER_VER, 0, self.lg_k, self.seed_hash,
                        n_dims, int(self.theta), self.count, _MODES[self.mode],
                        dcode)
        return (hdr + self.hashes.astype("<u8").tobytes()
                + self.values.astype(_DTYPE_FMT[dcode]).tobytes())

    @staticmethod
    def from_bytes(buf: bytes) -> "TupleSketch":
        fam, ver, _f, lg_k, sh, n_dims, theta, count, mode, dcode = \
            _HDR.unpack_from(buf)
        if fam != _FAMILY_TUPLE or ver != _SER_VER:
            raise ValueError("bad tuple sketch image")
        off = _HDR.size
        hashes = np.frombuffer(buf, dtype="<u8", count=count, offset=off).copy()
        off += count * 8
        values = np.frombuffer(buf, dtype=_DTYPE_FMT[dcode],
                               count=count * n_dims,
                               offset=off).reshape(count, n_dims).copy()
        return TupleSketch(lg_k, sh, np.uint64(theta), hashes, values,
                           _MODES_INV[mode])


def empty(lg_k: int = DEFAULT_LG_K, seed: int = DEFAULT_UPDATE_SEED,
          n_dims: int = 1, mode: str = "Sum",
          values_dtype=np.float64) -> TupleSketch:
    return TupleSketch(lg_k, compute_seed_hash(seed), MAX_THETA,
                       np.empty(0, np.uint64),
                       np.empty((0, n_dims), dtype=values_dtype), mode)


def sketch_keyed_values(keys: np.ndarray, values: np.ndarray,
                        lg_k: int = DEFAULT_LG_K,
                        seed: int = DEFAULT_UPDATE_SEED,
                        mode: str = "Sum",
                        values_dtype=np.float64) -> TupleSketch:
    """Batch build: update(long key_i, values_i) for every row
    (tuple/UpdatableSketch.java:100-157, vectorized)."""
    return from_update_hashes(
        theta_hash_u64(np.asarray(keys, dtype=np.int64), seed), values,
        lg_k, seed, mode, values_dtype)


def from_update_hashes(h: np.ndarray, values: np.ndarray,
                       lg_k: int = DEFAULT_LG_K,
                       seed: int = DEFAULT_UPDATE_SEED,
                       mode: str = "Sum",
                       values_dtype=np.float64) -> TupleSketch:
    """Batch build from each row's 63-bit update hash (murmur3 h1 >>> 1
    of its key) and its values.

    Duplicate keys combine by ``mode`` BEFORE the k-cut — the
    reference applies the summary combiner on every colliding update.
    ``values_dtype=np.int64`` keeps integer summaries (e.g. cents)
    exact end-to-end — no float path anywhere.
    """
    values = np.asarray(values, dtype=values_dtype)
    if values.ndim == 1:
        values = values[:, None]
    order = np.argsort(h, kind="stable")
    h, values = h[order], values[order]
    uniq, start = np.unique(h, return_index=True)
    # combine duplicates per mode (segment-reduce)
    if mode == "Sum":
        combined = np.add.reduceat(values, start, axis=0)
    elif mode == "Min":
        combined = np.minimum.reduceat(values, start, axis=0)
    elif mode == "Max":
        combined = np.maximum.reduceat(values, start, axis=0)
    else:
        combined = np.ones((uniq.shape[0], values.shape[1]),
                           dtype=values.dtype)
    k = 1 << lg_k
    theta = MAX_THETA
    if uniq.shape[0] > k:
        theta = uniq[k]          # (k+1)-th smallest (already sorted)
        combined = combined[:k]
        uniq = uniq[:k]
    return TupleSketch(lg_k, compute_seed_hash(seed), theta, uniq,
                       combined, mode)


def _check(a: TupleSketch, b: TupleSketch) -> None:
    if a.seed_hash != b.seed_hash:
        raise ValueError("seed hash mismatch (tuple merge)")
    if a.mode != b.mode:
        raise ValueError("summary mode mismatch")


def union(a: TupleSketch, b: TupleSketch) -> TupleSketch:
    """theta-rule union with summary algebra on shared keys
    (tuple/Union.java:71,106)."""
    _check(a, b)
    theta = min(a.theta, b.theta)
    ah = a.hashes[a.hashes < theta]
    av = a.values[a.hashes < theta]
    bh = b.hashes[b.hashes < theta]
    bv = b.values[b.hashes < theta]
    both, ai, bi = np.intersect1d(ah, bh, return_indices=True)
    only_a = np.setdiff1d(ah, bh, assume_unique=True)
    only_b = np.setdiff1d(bh, ah, assume_unique=True)
    h = np.concatenate([both, only_a, only_b])
    v = np.concatenate([
        _combine(a.mode, av[ai], bv[bi]),
        av[np.isin(ah, only_a, assume_unique=True)],
        bv[np.isin(bh, only_b, assume_unique=True)]])
    order = np.argsort(h)
    h, v = h[order], v[order]
    k = 1 << min(a.lg_k, b.lg_k)
    if h.shape[0] > k:
        theta = min(theta, h[k])
        h, v = h[:k], v[:k]
    return TupleSketch(min(a.lg_k, b.lg_k), a.seed_hash, np.uint64(theta),
                       h, v, a.mode)


def union_many(sketches: list[TupleSketch]) -> TupleSketch:
    out = sketches[0]
    for s in sketches[1:]:
        out = union(out, s)
    return out


def intersect(a: TupleSketch, b: TupleSketch) -> TupleSketch:
    """Keys in both, summaries combined (tuple/Intersection.java:106)."""
    _check(a, b)
    theta = min(a.theta, b.theta)
    ah, bh = a.hashes[a.hashes < theta], b.hashes[b.hashes < theta]
    av, bv = a.values[a.hashes < theta], b.values[b.hashes < theta]
    both, ai, bi = np.intersect1d(ah, bh, return_indices=True)
    return TupleSketch(min(a.lg_k, b.lg_k), a.seed_hash, np.uint64(theta),
                       both, _combine(a.mode, av[ai], bv[bi]), a.mode)


def a_not_b(a: TupleSketch, b: TupleSketch) -> TupleSketch:
    """Keys in A not B, A's summaries (tuple/AnotB.java:112)."""
    _check(a, b)
    theta = min(a.theta, b.theta)
    ah = a.hashes[a.hashes < theta]
    av = a.values[a.hashes < theta]
    keep = ~np.isin(ah, b.hashes[b.hashes < theta], assume_unique=True)
    return TupleSketch(min(a.lg_k, b.lg_k), a.seed_hash, np.uint64(theta),
                       ah[keep], av[keep], a.mode)


def _theta_view(s) -> ThetaSketch:
    """TupleSketch or ThetaSketch → theta view of the shared hash space."""
    return s.as_theta() if isinstance(s, TupleSketch) else s


def jaccard(a, b, num_std_dev: int = 2) -> tuple[float, float, float]:
    """(lower, estimate, upper) Jaccard over tuple and/or theta sketches.

    Direct counterpart of tuple/JaccardSimilarity.java:41 (tuple×tuple)
    and :62,126 (tuple×theta mixed forms): summaries are irrelevant to
    set similarity, so both operands project to the shared theta hash
    space and reuse the theta estimator + CI.
    """
    from . import theta as _theta
    return _theta.jaccard(_theta_view(a), _theta_view(b), num_std_dev)


def exactly_equal(a, b) -> bool:
    """Identity test on retained keys (tuple/JaccardSimilarity.java:106
    analogue for tuple operands)."""
    from . import theta as _theta
    return _theta.exactly_equal(_theta_view(a), _theta_view(b))


def similarity_test(a, b, threshold: float) -> bool:
    """True iff the Jaccard lower bound ≥ threshold
    (tuple/JaccardSimilarity.java:148 analogue)."""
    lb, _, _ = jaccard(a, b)
    return lb >= threshold


def dissimilarity_test(a, b, threshold: float) -> bool:
    """True iff the Jaccard upper bound ≤ threshold
    (tuple/JaccardSimilarity.java:170 analogue)."""
    _, _, ub = jaccard(a, b)
    return ub <= threshold
