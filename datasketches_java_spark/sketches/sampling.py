"""Sampling sketches: fixed-k reservoir + weighted priority sampling.

Counterparts in the reference:
  - ReservoirItemsSketch (sampling/ReservoirItemsSketch.java:59,
    update :306, getSamples :358) and ReservoirItemsUnion with weight
    correction (sampling/ReservoirItemsUnion.java:63,148);
  - VarOptItemsSketch (sampling/VarOptItemsSketch.java:72, weighted
    update :469, estimateSubsetSum :636) and VarOptItemsUnion
    (sampling/VarOptItemsUnion.java:52,205).

Design note (SURVEY.md §2.6): for the weighted case we implement
*priority sampling* (Duffield-Lund-Thorup, "Priority sampling for
estimation of arbitrary subset sums", JACM 2007) instead of a literal
VarOpt port: priority q_i = w_i / u_i with u_i a deterministic
per-item uniform derived from murmur3(item), keep the k largest
priorities, tau = (k+1)-th priority.  Subset-sum estimator
sum(max(w_i, tau)) over sampled items in the predicate is unbiased,
and the deterministic u_i makes the sketch order-insensitive and
mergeable (same item -> same priority on every partition), which is
exactly the merge-safety discipline SURVEY.md §4 requires.  In exact
mode (n <= k) subset sums are exact — the oracle-comparison mode.
"""

from __future__ import annotations

import pickle
from dataclasses import dataclass, field

import numpy as np

from .image_pickle import load_image
from .murmur3 import hash128_u64

# ---------------------------------------------------------------------------
# uniform reservoir (unweighted)
# ---------------------------------------------------------------------------


@dataclass
class ReservoirSketch:
    """Fixed-k uniform sample; Spark's df.sample is Bernoulli so this is
    real work (SURVEY.md §2.6)."""

    k: int
    n: int = 0
    samples: list = field(default_factory=list)
    _seed: int = 42

    def update_batch(self, items) -> "ReservoirSketch":
        """Vectorized Algorithm-R over a batch
        (sampling/ReservoirItemsSketch.java:306): acceptance draws for
        the whole batch happen in one numpy call; only the expected
        O(k·log(n/k)) accepted items are touched, with last-writer-wins
        per slot resolved by a reversed np.unique — no per-item Python
        in the common (rejected) path."""
        items = list(items)
        rng = np.random.default_rng(self._seed + self.n)
        fill = min(self.k - len(self.samples), len(items))
        if fill > 0:
            self.samples.extend(items[:fill])
            self.n += fill
            items = items[fill:]
        m = len(items)
        if m == 0:
            return self
        positions = self.n + np.arange(1, m + 1)     # stream size at each item
        draws = (rng.random(m) * positions).astype(np.int64)
        accept = np.nonzero(draws < self.k)[0]
        if accept.size:
            slots = draws[accept]
            # last write per slot wins: first occurrence in the reversed
            # order is the last chronological writer
            rev_slots = slots[::-1]
            uniq, first_rev = np.unique(rev_slots, return_index=True)
            winners = accept[slots.size - 1 - first_rev]
            for slot, widx in zip(uniq, winners):
                self.samples[int(slot)] = items[int(widx)]
        self.n += m
        return self

    def merge(self, other: "ReservoirSketch") -> "ReservoirSketch":
        """Weight-corrected union
        (sampling/ReservoirItemsUnion.java:148): draw how many survivors
        come from each side ~ proportional to stream sizes."""
        if other.n == 0:
            return self
        if self.n == 0:
            self.n, self.samples = other.n, list(other.samples)
            return self
        rng = np.random.default_rng(self._seed + self.n + other.n)
        total = self.n + other.n
        k = self.k
        take_self = int(np.round(k * self.n / total))
        take_self = min(take_self, len(self.samples))
        take_other = min(k - take_self, len(other.samples))
        mine = [self.samples[i] for i in
                rng.choice(len(self.samples), size=take_self, replace=False)]
        theirs = [other.samples[i] for i in
                  rng.choice(len(other.samples), size=take_other, replace=False)]
        self.samples = mine + theirs
        self.n = total
        return self

    def to_bytes(self) -> bytes:
        return b"RS01" + pickle.dumps((self.k, self.n, self.samples), protocol=4)

    @staticmethod
    def from_bytes(buf: bytes) -> "ReservoirSketch":
        if buf[:4] != b"RS01":
            raise ValueError("bad reservoir image")
        k, n, samples = load_image(buf[4:])
        return ReservoirSketch(k, n, samples)


# ---------------------------------------------------------------------------
# weighted priority sampling (VarOpt counterpart)
# ---------------------------------------------------------------------------


def _uniforms(keys: np.ndarray, seed: int = 777) -> np.ndarray:
    """Deterministic per-item uniform in (0,1] from murmur3."""
    h1, _ = hash128_u64(np.asarray(keys, dtype=np.int64), seed)
    return (h1.astype(np.float64) + 1.0) / 2.0**64


@dataclass
class PrioritySample:
    """Weighted sample of <= k items with unbiased subset-sum estimation
    (VarOptItemsSketch counterpart, sampling/VarOptItemsSketch.java:72)."""

    k: int
    n: int = 0
    total_weight: float = 0.0
    items: np.ndarray = field(default_factory=lambda: np.empty(0, np.int64))
    weights: np.ndarray = field(default_factory=lambda: np.empty(0, np.float64))
    priorities: np.ndarray = field(default_factory=lambda: np.empty(0, np.float64))
    tau: float = 0.0  # (k+1)-th largest priority seen; 0 while exact

    def update_batch(self, items: np.ndarray, weights: np.ndarray) -> "PrioritySample":
        items = np.asarray(items, dtype=np.int64)
        weights = np.asarray(weights, dtype=np.float64)
        pos = weights > 0
        items, weights = items[pos], weights[pos]
        self.n += int(items.size)
        self.total_weight += float(weights.sum())
        prios = weights / _uniforms(items)
        self.items = np.concatenate([self.items, items])
        self.weights = np.concatenate([self.weights, weights])
        self.priorities = np.concatenate([self.priorities, prios])
        self._trim()
        return self

    def _trim(self) -> None:
        if self.items.size <= self.k:
            return
        order = np.argsort(-self.priorities, kind="stable")
        cut = order[: self.k]
        new_tau = float(self.priorities[order[self.k]])
        self.tau = max(self.tau, new_tau)
        self.items = self.items[cut]
        self.weights = self.weights[cut]
        self.priorities = self.priorities[cut]

    def merge(self, other: "PrioritySample") -> "PrioritySample":
        """Union (sampling/VarOptItemsUnion.java:52): priorities are
        deterministic per item, so concatenation + re-trim is exact."""
        self.k = min(self.k, other.k) if self.n and other.n else max(self.k, other.k)
        self.n += other.n
        self.total_weight += other.total_weight
        self.tau = max(self.tau, other.tau)
        self.items = np.concatenate([self.items, other.items])
        self.weights = np.concatenate([self.weights, other.weights])
        self.priorities = np.concatenate([self.priorities, other.priorities])
        # same item may appear from both sides (same priority); dedup
        _, idx = np.unique(self.items, return_index=True)
        if idx.size < self.items.size:
            self.items = self.items[idx]
            self.weights = self.weights[idx]
            self.priorities = self.priorities[idx]
        self._trim()
        return self

    def estimate_subset_sum(self, predicate) -> dict:
        """Unbiased subset-sum estimate over sampled items
        (sampling/VarOptItemsSketch.java:636 estimateSubsetSum;
        Horvitz-Thompson with weight_hat = max(w, tau)).

        Bounds follow the reference's structure: the heavy region
        (w ≥ tau, inclusion probability 1) is exact; the light region's
        true fraction gets the pseudo-hypergeometric interval
        (sampling/SamplingUtil.java:71-79 — approximate Clopper-Pearson
        on p with kappa = 2·sqrt(1 − samplingRate)) — not a Gaussian or
        Bennett stand-in.
        """
        if self.items.size == 0:
            return {"estimate": 0.0, "lower_bound": 0.0,
                    "upper_bound": 0.0, "total_weight": self.total_weight}
        mask = predicate(self.items)
        if self.tau == 0.0:  # exact mode
            est = float(self.weights[mask].sum())
            return {"estimate": est, "lower_bound": est, "upper_bound": est,
                    "total_weight": self.total_weight}
        from .bounds import (approximate_lower_bound_on_p,
                             approximate_upper_bound_on_p)
        heavy = self.weights >= self.tau
        h_true = float(self.weights[heavy & mask].sum())
        r = int(np.count_nonzero(~heavy))          # light items retained
        r_true = int(np.count_nonzero(~heavy & mask))
        light_total_est = self.tau * r             # HT estimate of light mass
        est = h_true + self.tau * r_true
        if r == 0:
            return {"estimate": est, "lower_bound": est, "upper_bound": est,
                    "total_weight": self.total_weight}
        n_light = max(self.n - int(np.count_nonzero(heavy)), r)
        eff_rate = min(r / n_light, 1.0)
        kappa = 2.0 * np.sqrt(1.0 - eff_rate)
        lb_frac = approximate_lower_bound_on_p(r, r_true, kappa)
        ub_frac = approximate_upper_bound_on_p(r, r_true, kappa)
        return {"estimate": est,
                "lower_bound": h_true + light_total_est * lb_frac,
                "upper_bound": h_true + light_total_est * ub_frac,
                "total_weight": self.total_weight}

    def to_bytes(self) -> bytes:
        return b"VO01" + pickle.dumps(
            (self.k, self.n, self.total_weight, self.tau,
             self.items, self.weights, self.priorities), protocol=4)

    @staticmethod
    def from_bytes(buf: bytes) -> "PrioritySample":
        if buf[:4] != b"VO01":
            raise ValueError("bad priority-sample image")
        k, n, tw, tau, items, weights, prios = load_image(buf[4:])
        return PrioritySample(k, n, tw, items, weights, prios, tau)
