"""REQ sketch — Relative Error Quantiles (req/ReqSketch.java:82).

Re-expresses the reference's REQ family (Cormode-Karnin-Liberty-
Thaler-Veselý, arXiv:2004.01668) as a numpy level-list with the same
semantic contract:

  - a stack of relative compactors; level h items carry weight 2^h
    (req/ReqCompactor.java:38);
  - HRA (high-rank accuracy) protects the TOP of each sorted buffer
    from compaction, LRA the bottom — the protected region is
    nomCap/2 + (numSections - secsToCompact)·sectionSize items
    (ReqCompactor.computeCompactionRange:253-262);
  - the deterministic compaction schedule: secsToCompact =
    min(trailingOnes(state) + 1, numSections); when state reaches
    2^(numSections-1), numSections doubles and sectionSize shrinks by
    √2 floored to the nearest even ≥ 4
    (ReqCompactor.ensureEnoughSections:231-246);
  - evens-or-odds promotion with the coin flipped deterministically
    when state is odd (ReqCompactor.compact:131-132).  Where the
    reference uses Random for the even-state coin we derive it from
    murmur3(lgWeight, state) — deterministic, so the sketch is
    reproducible and partition-order independent in Spark (the
    merge-safety discipline of SURVEY.md §4); the distributional
    guarantee is unchanged because the coin only needs to be unbiased
    w.r.t. the data, not unpredictable;
  - rank LB/UB model: max(relative, fixed) with
    relRse = sqrt(0.0512/3)/k·(hra ? 1-rank : rank), fixRse = 0.084/k,
    exact below the single-level threshold
    (req/BaseReqSketch.java:41-42,200-226);
  - merge: level-wise buffer merge then compress — identical to
    ReqSketch.merge:375-399 (no "special compactions", same as the
    reference's deviation from the paper);
  - queries (quantile / rank / cdf / pmf) via the cumulative-weight
    sorted view shared with KLL (sketches/quantiles_common.py).

k must be even in [4, 1024]; default 12 (~1 % relative rank error at
95 % confidence, ReqSketch.java javadoc).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

from .murmur3 import hash128_u64
from .quantiles_common import QuantileQueries, SortedView

MIN_K = 4
NOM_CAP_MULT = 2
INIT_NUM_SECTIONS = 3
_SQRT2 = float(np.sqrt(2.0))
_REL_RSE_FACTOR = float(np.sqrt(0.0512 / INIT_NUM_SECTIONS))
_FIX_RSE_FACTOR = 0.084

_FAMILY_REQ = 17
_SER_VER = 1
_HDR = struct.Struct("<BBBBHHQddI")  # fam, ver, flags(hra), pad, k, nlevels, n, min, max, pad2


def _nearest_even(x: float) -> int:
    return int(round(x / 2.0)) << 1


def _trailing_ones(state: int) -> int:
    t = 0
    while state & 1:
        t += 1
        state >>= 1
    return t


def _coin(lg_weight: int, state: int) -> bool:
    """Deterministic unbiased coin for even-state compactions (stands
    in for ReqCompactor's Random; see module docstring)."""
    h1, _ = hash128_u64(np.asarray([(lg_weight << 56) ^ state],
                                   dtype=np.int64), 71)
    return bool(int(h1[0]) & 1)


@dataclass
class _Compactor:
    lg_weight: int
    hra: bool
    section_size: int                 # nearest-even working size
    section_size_flt: float = 0.0
    num_sections: int = INIT_NUM_SECTIONS
    state: int = 0
    coin: bool = False
    buf: np.ndarray = field(default_factory=lambda: np.empty(0, np.float64))
    sorted_: bool = True

    def __post_init__(self):
        if self.section_size_flt == 0.0:
            self.section_size_flt = float(self.section_size)

    def nom_capacity(self) -> int:
        return NOM_CAP_MULT * self.num_sections * self.section_size

    def count(self) -> int:
        return int(self.buf.shape[0])

    def sort(self) -> None:
        if not self.sorted_:
            self.buf = np.sort(self.buf)
            self.sorted_ = True

    def extend(self, items: np.ndarray) -> None:
        if items.size:
            self.buf = np.concatenate([self.buf, items])
            self.sorted_ = False

    def _ensure_enough_sections(self) -> bool:
        if (self.state >= (1 << (self.num_sections - 1))
                and self.section_size > MIN_K):
            szf = self.section_size_flt / _SQRT2
            ne = _nearest_even(szf)
            if ne >= MIN_K:
                self.section_size_flt = szf
                self.section_size = ne
                self.num_sections <<= 1
                return True
        return False

    def compact(self) -> np.ndarray:
        """One compaction; returns promoted items (weight doubles).
        Mirrors ReqCompactor.compact:120-148."""
        self.sort()
        buf_len = self.count()
        secs = min(_trailing_ones(self.state) + 1, self.num_sections)
        non_compact = (self.nom_capacity() // 2
                       + (self.num_sections - secs) * self.section_size)
        if (buf_len - non_compact) & 1:
            non_compact += 1
        lo = 0 if self.hra else non_compact
        hi = buf_len - non_compact if self.hra else buf_len
        if hi - lo < 2:   # nothing sensible to compact
            self.state += 1
            self._ensure_enough_sections()
            return np.empty(0, np.float64)
        if self.state & 1:
            self.coin = not self.coin
        else:
            self.coin = _coin(self.lg_weight, self.state)
        region = self.buf[lo:hi]
        promote = region[1::2] if self.coin else region[0::2]
        self.buf = np.concatenate([self.buf[:lo], self.buf[hi:]])
        self.state += 1
        self._ensure_enough_sections()
        return promote

    def merge(self, other: "_Compactor") -> None:
        """ReqCompactor.merge:211-225: state ← state | other.state
        (never exceeds the true compaction count, which is all the
        guarantee needs — ReqSketch.java javadoc note), re-run section
        adjustment to convergence, then merge the sorted buffers."""
        self.state |= other.state
        while self._ensure_enough_sections():
            pass
        self.extend(other.buf)
        self.sort()


@dataclass
class ReqSketch(QuantileQueries):
    k: int = 12
    hra: bool = True
    n: int = 0
    min_value: float = np.nan
    max_value: float = np.nan
    compactors: list = field(default_factory=list)

    def __post_init__(self):
        if (self.k & 1) or not (MIN_K <= self.k <= 1024):
            raise ValueError(f"k must be even in [4, 1024]: {self.k}")
        if not self.compactors:
            self._grow()

    # -- structure ------------------------------------------------------
    def _grow(self) -> None:
        self.compactors.append(
            _Compactor(len(self.compactors), self.hra, self.k))

    @property
    def num_levels(self) -> int:
        return len(self.compactors)

    def retained(self) -> int:
        return sum(c.count() for c in self.compactors)

    def _max_nom_size(self) -> int:
        return sum(c.nom_capacity() for c in self.compactors)

    @property
    def is_estimation_mode(self) -> bool:
        return self.num_levels > 1

    # -- update / merge -------------------------------------------------
    def update_batch(self, values: np.ndarray) -> "ReqSketch":
        values = np.asarray(values, dtype=np.float64)
        values = values[~np.isnan(values)]
        if values.size == 0:
            return self
        self.n += int(values.size)
        mn, mx = float(values.min()), float(values.max())
        if np.isnan(self.min_value) or mn < self.min_value:
            self.min_value = mn
        if np.isnan(self.max_value) or mx > self.max_value:
            self.max_value = mx
        self.compactors[0].extend(values)
        if self.retained() >= self._max_nom_size():
            self._compress()
        return self

    def _compress(self) -> None:
        """ReqSketch.compress:522-541: promote every full compactor."""
        h = 0
        while h < self.num_levels:
            c = self.compactors[h]
            if c.count() >= c.nom_capacity():
                if h + 1 >= self.num_levels:
                    self._grow()
                promoted = c.compact()
                self.compactors[h + 1].extend(promoted)
                self.compactors[h + 1].sort()
            h += 1

    def merge(self, other: "ReqSketch") -> "ReqSketch":
        """ReqSketch.merge:375-399 (level-wise merge, then compress)."""
        if other.n == 0:
            return self
        if other.hra != self.hra:
            raise ValueError("both sketches must have the same HRA setting")
        self.n += other.n
        if np.isnan(self.min_value) or other.min_value < self.min_value:
            self.min_value = other.min_value
        if np.isnan(self.max_value) or other.max_value > self.max_value:
            self.max_value = other.max_value
        while self.num_levels < other.num_levels:
            self._grow()
        for i in range(other.num_levels):
            self.compactors[i].merge(other.compactors[i])
        if self.retained() >= self._max_nom_size():
            self._compress()
        return self

    def _sorted_view(self) -> SortedView:
        for c in self.compactors:
            c.sort()
        return SortedView([c.buf for c in self.compactors],
                          [c.lg_weight for c in self.compactors], self.n)

    # -- error model (BaseReqSketch.java:200-226) -------------------------
    def _exact_rank(self, rank: float) -> bool:
        base_cap = self.k * INIT_NUM_SECTIONS
        if self.num_levels == 1 or self.n <= base_cap:
            return True
        thresh = base_cap / self.n
        return (self.hra and rank >= 1.0 - thresh) or \
               (not self.hra and rank <= thresh)

    def rank_lower_bound(self, rank: float, num_std_dev: int = 2) -> float:
        if self._exact_rank(rank):
            return rank
        relative = _REL_RSE_FACTOR / self.k * \
            ((1.0 - rank) if self.hra else rank)
        fixed = _FIX_RSE_FACTOR / self.k
        return max(rank - num_std_dev * relative, rank - num_std_dev * fixed)

    def rank_upper_bound(self, rank: float, num_std_dev: int = 2) -> float:
        if self._exact_rank(rank):
            return rank
        relative = _REL_RSE_FACTOR / self.k * \
            ((1.0 - rank) if self.hra else rank)
        fixed = _FIX_RSE_FACTOR / self.k
        return min(rank + num_std_dev * relative, rank + num_std_dev * fixed)

    # -- serde ------------------------------------------------------------
    def to_bytes(self) -> bytes:
        hdr = _HDR.pack(_FAMILY_REQ, _SER_VER, 1 if self.hra else 0, 0,
                        self.k, self.num_levels, self.n,
                        self.min_value, self.max_value, 0)
        parts = [hdr]
        for c in self.compactors:
            c.sort()
            parts.append(struct.pack("<QdiiI", c.state, c.section_size_flt,
                                     c.section_size, c.num_sections,
                                     c.count()))
            parts.append(c.buf.astype("<f8").tobytes())
        return b"".join(parts)

    @staticmethod
    def from_bytes(buf: bytes) -> "ReqSketch":
        fam, ver, hra, _p, k, nlev, n, mn, mx, _p2 = _HDR.unpack_from(buf)
        if fam != _FAMILY_REQ or ver != _SER_VER:
            raise ValueError("bad REQ sketch image")
        off = _HDR.size
        comps = []
        chdr = struct.Struct("<QdiiI")
        for lg in range(nlev):
            state, ssf, ss, ns, cnt = chdr.unpack_from(buf, off)
            off += chdr.size
            arr = np.frombuffer(buf, dtype="<f8", count=cnt,
                                offset=off).copy()
            off += cnt * 8
            comps.append(_Compactor(lg, bool(hra), ss, ssf, ns, state,
                                    False, arr, True))
        return ReqSketch(k, bool(hra), n, mn, mx, comps)
