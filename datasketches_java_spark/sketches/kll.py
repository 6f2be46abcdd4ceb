"""KLL quantiles sketch — the numpy level-buffer engine, shared by
every item type, and its doubles sketch.

Re-expresses the reference's KLL (kll/KllSketch.java:76,
kll/KllDoublesSketch.java:295, kll/KllDoublesHelper.java:38,215,
kll/KllHelper.java:142,870) with batch ingestion:

  - level buffers with weight 2^level; level capacity
    ceil(k * (2/3)^(depth-1-level)), floor 8 — kll/KllHelper.java
    capacity rule;
  - compaction: sort the level, keep every other item from a random
    offset, promote to level+1 (kll/KllDoublesHelper.java "randomly
    halve");
  - merge: concatenate level-wise then compact while over capacity
    (kll/KllDoublesHelper.java:38 mergeDoubleImpl);
  - queries via the cumulative-weight sorted view of
    sketches/quantiles_common.py;
  - normalized rank error 2.296/k^0.9723 single-sided
    (kll/KllHelper.java:104-107) — exported for test tolerances.

:class:`KllLevels` holds these rules once; an item type
(:class:`KllDoublesSketch` here, sketches/kll_items.py for longs and
strings) supplies only its empty level, its input cleaning, how it
tracks the extremes, and its image format.

While n <= the retained capacity no compaction happens and every query
is EXACT (the oracle-comparison mode used by __spark_entry__).
Randomness is a deterministic seeded PCG64 so runs are reproducible.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

from ..config import KLL_DEFAULT_K
from .quantiles_common import QuantileQueries, SortedView

_FAMILY_KLL = 15
_SER_VER = 1
_HDR = struct.Struct("<BBBxHHQddI")  # family, serVer, flags, k, numLevels, n, min, max, rsvd
_RNG_SEED = 137


def rank_error(k: int) -> float:
    """Single-sided normalized rank error (kll/KllHelper.java:104-107)."""
    return 2.296 / (k ** 0.9723)


def _cap(k: int, num_levels: int, level: int) -> int:
    depth = num_levels - 1 - level
    return max(8, int(np.ceil(k * (2.0 / 3.0) ** depth)))


class KllLevels(QuantileQueries):
    """The KLL level engine over ``self.k``, ``self.n`` and
    ``self.levels`` (levels[i] = items with weight 2^i).  An item type
    defines ``_empty_level()``, ``_clean(xs)`` (the items to insert),
    ``_extremes()`` and ``_widen(lo, hi)``."""

    def _total_retained(self) -> int:
        return sum(lv.shape[0] for lv in self.levels)

    def _capacity(self) -> int:
        return sum(_cap(self.k, len(self.levels), i) for i in range(len(self.levels)))

    def update_batch(self, xs):
        """Batch insert (kll/KllDoublesSketch.java:295 scalar loop,
        vectorized)."""
        xs = self._clean(xs)
        if xs.size == 0:
            return self
        self.n += int(xs.size)
        self._widen(xs.min(), xs.max())
        self.levels[0] = np.concatenate([self.levels[0], xs])
        self._compress()
        return self

    def _compress(self) -> None:
        """Compact lowest over-capacity level while over total capacity
        (kll/KllHelper.java:142 compressWhileUpdatingSketch,
        findLevelToCompact :870)."""
        rng = np.random.default_rng(_RNG_SEED + self.n)
        while self._total_retained() > self._capacity():
            num = len(self.levels)
            target = None
            for lvl in range(num):
                if self.levels[lvl].shape[0] > _cap(self.k, num, lvl):
                    target = lvl
                    break
            if target is None:
                target = int(np.argmax([lv.shape[0] for lv in self.levels]))
            buf = np.sort(self.levels[target])
            off = int(rng.integers(0, 2))
            promoted = buf[off::2]
            self.levels[target] = self._empty_level()
            if target + 1 == len(self.levels):
                self.levels.append(self._empty_level())
            self.levels[target + 1] = np.concatenate(
                [self.levels[target + 1], promoted])

    def merge(self, other):
        """Level-wise merge + recompact (kll/KllDoublesHelper.java:38)."""
        if other.n == 0:
            return self
        self.k = min(self.k, other.k)
        while len(self.levels) < len(other.levels):
            self.levels.append(self._empty_level())
        for i, lv in enumerate(other.levels):
            self.levels[i] = np.concatenate([self.levels[i], lv])
        self.n += other.n
        self._widen(*other._extremes())
        self._compress()
        return self

    def _sorted_view(self) -> SortedView:
        return SortedView(self.levels, range(len(self.levels)), self.n)


@dataclass
class KllDoublesSketch(KllLevels):
    k: int
    n: int
    min_value: float
    max_value: float
    levels: list[np.ndarray]  # levels[i] = float64 items with weight 2^i

    @staticmethod
    def new(k: int = KLL_DEFAULT_K) -> "KllDoublesSketch":
        return KllDoublesSketch(k, 0, np.inf, -np.inf, [np.empty(0, np.float64)])

    def _empty_level(self) -> np.ndarray:
        return np.empty(0, np.float64)

    def _clean(self, xs) -> np.ndarray:
        xs = np.asarray(xs, dtype=np.float64)
        return xs[~np.isnan(xs)]

    def _extremes(self) -> tuple[float, float]:
        return self.min_value, self.max_value

    def _widen(self, lo, hi) -> None:
        self.min_value = min(self.min_value, float(lo))
        self.max_value = max(self.max_value, float(hi))

    # -- serde ------------------------------------------------------------
    def to_bytes(self) -> bytes:
        hdr = _HDR.pack(_FAMILY_KLL, _SER_VER, 0, self.k, len(self.levels),
                        self.n, self.min_value, self.max_value, 0)
        parts = [hdr]
        for lv in self.levels:
            parts.append(struct.pack("<I", lv.shape[0]))
            parts.append(lv.astype("<f8").tobytes())
        return b"".join(parts)

    @staticmethod
    def from_bytes(buf: bytes) -> "KllDoublesSketch":
        fam, ver, _f, k, num_levels, n, mn, mx, _r = _HDR.unpack_from(buf)
        if fam != _FAMILY_KLL or ver != _SER_VER:
            raise ValueError(f"bad KLL image family={fam} ver={ver}")
        off = _HDR.size
        levels = []
        for _ in range(num_levels):
            (cnt,) = struct.unpack_from("<I", buf, off)
            off += 4
            levels.append(np.frombuffer(buf, dtype="<f8", count=cnt,
                                        offset=off).astype(np.float64))
            off += cnt * 8
        return KllDoublesSketch(k, n, mn, mx, levels)


def ks_statistic(a: KllDoublesSketch, b: KllDoublesSketch) -> float:
    """Kolmogorov-Smirnov D statistic between two sketched distributions
    (quantiles/KolmogorovSmirnov.java:38 computeKSDelta): the largest
    rank gap over every retained item of either sketch."""
    va, vb = a._sorted_view(), b._sorted_view()
    pts = np.union1d(va.items, vb.items)
    return float(np.max(np.abs(va.ranks(pts) - vb.ranks(pts)), initial=0.0))


def ks_test(a: KllDoublesSketch, b: KllDoublesSketch, p_value: float = 0.01) -> bool:
    """True iff the two distributions differ significantly
    (quantiles/KolmogorovSmirnov.java:105)."""
    d = ks_statistic(a, b)
    eps_a, eps_b = rank_error(a.k), rank_error(b.k)
    c = np.sqrt(-0.5 * np.log(p_value / 2.0))
    thresh = c * np.sqrt((a.n + b.n) / (a.n * b.n)) + eps_a + eps_b
    return d > thresh
