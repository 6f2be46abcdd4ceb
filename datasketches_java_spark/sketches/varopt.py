"""True VarOpt weighted sampling — the heavy/light two-region
algorithm (sampling/VarOptItemsSketch.java:72, update paths
:822-1000, candidate growth/downsampling :1135-1262) and the
marked-item union (sampling/VarOptItemsUnion.java:205,365-414,
getResult coercers :242-260,490-640).

State (same three regions as the reference):
  H — "heavy" items kept with EXACT weights, a min-heap by weight;
  R — "reservoir" region: items whose individual weights were
      discarded; each represents weight tau = total_wt_r / r;
  M — transient middle region that exists only inside one update.

Invariant in estimation mode: h + r == k, and every H weight >= tau —
the reference's VarOptItemsSketchTest exact-heavy-region behaviors
(heavy items under skewed weights stay exact) hold by construction
and are mirrored in tests/test_varopt.py.

Randomness: the reference draws from a global Random
(SamplingUtil.rand()); we use a per-sketch deterministic numpy
Generator seeded from k, so identical call sequences reproduce
identical sketches (Spark task-retry safety).  This is the
"deterministic-uniform trick" deviation documented in SURVEY §2.6 —
the sampling DISTRIBUTION is the reference's, only the stream of
random numbers is pinned.

The vectorized PrioritySample in sketches/sampling.py remains the
default 100-TB scale path (order-insensitive, batch-vectorized); this
class is the reference-parity path and the basis of varopt_sketch_agg.
"""

from __future__ import annotations

import heapq
import pickle

import numpy as np

from .image_pickle import load_image


class VarOptSketch:
    """Variance-optimal weighted sample of at most k items."""

    def __init__(self, k: int, seed: int = 371):
        if k < 1:
            raise ValueError("k must be at least 1")
        self.k = int(k)
        self.n = 0
        # H region: heapq of [weight, tiebreak, item, mark]
        self.heap: list[list] = []
        # R region: list of (item, mark); weights collapsed to tau
        self.r_items: list = []
        self.total_wt_r = 0.0
        self.num_marks_in_h = 0
        self._tie = 0
        self._rng = np.random.default_rng((seed, k))

    # -- getters ----------------------------------------------------------
    @property
    def h_count(self) -> int:
        return len(self.heap)

    @property
    def r_count(self) -> int:
        return len(self.r_items)

    def num_samples(self) -> int:
        return self.h_count + self.r_count

    def tau(self) -> float:
        """getTau (VarOptItemsSketch.java): 0 while exact."""
        return 0.0 if not self.r_items else self.total_wt_r / len(self.r_items)

    def samples(self) -> tuple[list, np.ndarray]:
        """(items, weights): H in heap-array order with exact weights,
        then R items each at weight tau (VarOptItemsSamples layout)."""
        items = [e[2] for e in self.heap] + [it for it, _ in self.r_items]
        weights = np.concatenate([
            np.asarray([e[0] for e in self.heap], dtype=np.float64),
            np.full(len(self.r_items), self.tau(), dtype=np.float64)])
        return items, weights

    def total_weight(self) -> float:
        return float(sum(e[0] for e in self.heap)) + self.total_wt_r

    # -- update (VarOptItemsSketch.java:822) --------------------------------
    def update(self, item, weight: float, mark: bool = False) -> "VarOptSketch":
        if item is None:
            return self
        if weight <= 0.0:
            raise ValueError(f"Item weights must be strictly positive: {weight}")
        self.n += 1
        if not self.r_items:
            self._update_warmup(item, weight, mark)
        else:
            r = len(self.r_items)
            # tau if deletion candidates were R plus the new item
            hypothetical_tau = (weight + self.total_wt_r) / r  # (r+1)-1
            peek = self.heap[0][0] if self.heap else None
            cond1 = peek is None or weight <= peek
            cond2 = weight < hypothetical_tau
            if cond1 and cond2:
                self._update_light(item, weight, mark)
            elif r == 1:
                self._update_heavy_r_eq_1(item, weight, mark)
            else:
                self._update_heavy_general(item, weight, mark)
        return self

    def update_batch(self, items, weights, marks=None) -> "VarOptSketch":
        ws = np.asarray(weights, dtype=np.float64)
        if marks is None:
            for it, w in zip(items, ws):
                self.update(it, float(w))
        else:
            for it, w, mk in zip(items, ws, marks):
                self.update(it, float(w), bool(mk))
        return self

    def _push(self, item, weight, mark) -> None:
        self._tie += 1
        heapq.heappush(self.heap, [float(weight), self._tie, item, mark])
        if mark:
            self.num_marks_in_h += 1

    def _pop_min(self) -> tuple:
        w, _t, item, mark = heapq.heappop(self.heap)
        if mark:
            self.num_marks_in_h -= 1
        return item, w, mark

    def _update_warmup(self, item, weight, mark) -> None:
        self._push(item, weight, mark)
        if len(self.heap) > self.k:
            self._transition_from_warmup()

    def _transition_from_warmup(self) -> None:
        """Move the lightest item to R, second lightest to the candidate
        set (VarOptItemsSketch.transitionFromWarmup)."""
        i1, w1, m1 = self._pop_min()       # lightest -> R
        self.r_items = [(i1, m1)]
        self.total_wt_r = w1
        i2, w2, m2 = self._pop_min()       # second lightest -> M
        m_region = [(i2, w2, m2)]
        self._grow_candidate_set(w2 + self.total_wt_r, 2, m_region)

    def _update_light(self, item, weight, mark) -> None:
        m_region = [(item, weight, mark)]
        self._grow_candidate_set(self.total_wt_r + weight,
                                 len(self.r_items) + 1, m_region)

    def _update_heavy_general(self, item, weight, mark) -> None:
        self._push(item, weight, mark)  # may come right back out
        self._grow_candidate_set(self.total_wt_r, len(self.r_items), [])

    def _update_heavy_r_eq_1(self, item, weight, mark) -> None:
        self._push(item, weight, mark)
        i, w, m = self._pop_min()       # lightest back out into M
        self._grow_candidate_set(w + self.total_wt_r, 2, [(i, w, m)])

    def _grow_candidate_set(self, wt_cands: float, num_cands: int,
                            m_region: list) -> None:
        """Pull sufficiently light H items into the candidate set
        (VarOptItemsSketch.growCandidateSet)."""
        while self.heap:
            next_wt = self.heap[0][0]
            next_tot = wt_cands + next_wt
            if next_wt * num_cands < next_tot:
                i, w, m = self._pop_min()
                m_region.append((i, w, m))
                wt_cands = next_tot
                num_cands += 1
            else:
                break
        self._downsample_candidate_set(wt_cands, num_cands, m_region)

    def _downsample_candidate_set(self, wt_cands: float, num_cands: int,
                                  m_region: list) -> None:
        """Delete ONE candidate (an M item with prob 1-(num-1)w/wt each,
        else a uniformly random R item), then collapse all survivors
        into R (VarOptItemsSketch.downsampleCandidateSet +
        chooseDeleteSlot/chooseWeightedDeleteSlot)."""
        assert num_cands >= 2
        delete_m_idx = None  # None -> delete from R
        m = len(m_region)
        if m == 1:
            wt_m = m_region[0][1]
            u = self._rng_exclude_zero()
            if not (wt_cands * u < (num_cands - 1) * wt_m):
                delete_m_idx = 0
        elif m > 1:
            num_to_keep = num_cands - 1
            left = 0.0
            right = -wt_cands * self._rng_exclude_zero()
            for i in range(m):
                left += num_to_keep * m_region[i][1]
                right += wt_cands
                if left < right:
                    delete_m_idx = i
                    break
        # m == 0 -> delete from R
        if delete_m_idx is None and self.r_items:
            del_r = (0 if len(self.r_items) == 1
                     else int(self._rng.integers(0, len(self.r_items))))
            del self.r_items[del_r]
        survivors = [(it, mk) for j, (it, _w, mk) in enumerate(m_region)
                     if j != delete_m_idx]
        self.r_items.extend(survivors)
        assert len(self.r_items) == num_cands - 1
        self.total_wt_r = wt_cands

    def _rng_exclude_zero(self) -> float:
        while True:
            u = float(self._rng.random())
            if u > 0.0:
                return u

    # -- k reduction (union machinery; VarOptItemsSketch.decreaseKBy1) -----
    def decrease_k_by_1(self) -> None:
        if self.k <= 1:
            raise ValueError("Cannot decrease k below 1 in union")
        h, r = self.h_count, self.r_count
        if h == 0 and r == 0:
            self.k -= 1
        elif h > 0 and r == 0:
            self.k -= 1
            if h > self.k:
                self._transition_from_warmup()
        elif h > 0 and r > 0:
            # pull an item out of H (any is valid), reduce k, re-insert
            item, w, mark = self._pop_min()
            self.k -= 1
            self.n -= 1  # re-incremented by the update
            self.update(item, w, mark)
        else:  # h == 0, r > 0: eject a random reservoir sample
            assert r >= 2
            idx = int(self._rng.integers(0, r))
            del self.r_items[idx]
            self.k -= 1

    def strip_marks(self) -> None:
        for e in self.heap:
            e[3] = False
        self.r_items = [(it, False) for it, _ in self.r_items]
        self.num_marks_in_h = 0

    def copy(self) -> "VarOptSketch":
        out = VarOptSketch(self.k)
        out.n = self.n
        out.heap = [list(e) for e in self.heap]
        out.r_items = list(self.r_items)
        out.total_wt_r = self.total_wt_r
        out.num_marks_in_h = self.num_marks_in_h
        out._tie = self._tie
        out._rng = self._rng  # continue the deterministic stream
        return out

    # -- subset sums (VarOptItemsSketch.estimateSubsetSum:636) -------------
    def estimate_subset_sum(self, predicate) -> dict:
        if self.num_samples() == 0:
            return {"estimate": 0.0, "lower_bound": 0.0, "upper_bound": 0.0,
                    "total_weight": 0.0}
        h_true = float(sum(e[0] for e in self.heap if predicate(e[2])))
        if not self.r_items:  # exact mode
            return {"estimate": h_true, "lower_bound": h_true,
                    "upper_bound": h_true, "total_weight": self.total_weight()}
        from .bounds import (approximate_lower_bound_on_p,
                             approximate_upper_bound_on_p)
        r = len(self.r_items)
        r_true = sum(1 for it, _ in self.r_items if predicate(it))
        tau = self.tau()
        est = h_true + tau * r_true
        n_light = max(self.n - self.h_count, r)
        eff_rate = min(r / n_light, 1.0)
        kappa = 2.0 * np.sqrt(1.0 - eff_rate)
        lb = h_true + self.total_wt_r * approximate_lower_bound_on_p(
            r, r_true, kappa)
        ub = h_true + self.total_wt_r * approximate_upper_bound_on_p(
            r, r_true, kappa)
        return {"estimate": est, "lower_bound": lb, "upper_bound": ub,
                "total_weight": self.total_weight()}

    # -- serde (engine image) ----------------------------------------------
    def to_bytes(self) -> bytes:
        return b"VO02" + pickle.dumps(
            (self.k, self.n, self.heap, self.r_items, self.total_wt_r,
             self.num_marks_in_h, self._tie), protocol=4)

    @staticmethod
    def from_bytes(buf: bytes) -> "VarOptSketch":
        if buf[:4] != b"VO02":
            raise ValueError("bad varopt image")
        k, n, heap, r_items, twr, marks, tie = load_image(buf[4:])
        out = VarOptSketch(k)
        out.n, out.heap, out.r_items = n, heap, r_items
        out.total_wt_r, out.num_marks_in_h, out._tie = twr, marks, tie
        return out


class VarOptUnion:
    """Marked-item union (sampling/VarOptItemsUnion.java).  H items of
    input sketches re-enter the gadget unmarked (their weights are
    data); R items enter MARKED at their weight-corrected tau (their
    individual weights are already gone, so they must end up in the
    result's R region — getResult enforces that by decreasing k until
    every mark is absorbed, :205,590-640)."""

    def __init__(self, max_k: int):
        self.max_k = int(max_k)
        self.gadget = VarOptSketch(max_k)
        self.n = 0
        self.outer_tau_numer = 0.0
        self.outer_tau_denom = 0

    def outer_tau(self) -> float:
        return (0.0 if self.outer_tau_denom == 0
                else self.outer_tau_numer / self.outer_tau_denom)

    def update(self, sketch: VarOptSketch) -> "VarOptUnion":
        """mergeInto (VarOptItemsUnion.java:365)."""
        if sketch.n == 0:
            return self
        self.n += sketch.n
        for w, _t, item, _m in sketch.heap:      # H: unmarked, exact weight
            self.gadget.update(item, w, False)
        tau = sketch.tau()
        for item, _m in sketch.r_items:          # R: marked, at tau
            self.gadget.update(item, tau, True)
        if sketch.r_count > 0:
            if self.outer_tau_denom == 0 or tau > self.outer_tau():
                self.outer_tau_numer = sketch.total_wt_r
                self.outer_tau_denom = sketch.r_count
            elif tau == self.outer_tau():
                self.outer_tau_numer += sketch.total_wt_r
                self.outer_tau_denom += sketch.r_count
        return self

    def get_result(self) -> VarOptSketch:
        g = self.gadget
        if g.num_marks_in_h == 0:
            out = g.copy()
            out.n = self.n
            out.strip_marks()
            return out
        pseudo = self._pseudo_exact_coerce()
        if pseudo is not None:
            return pseudo
        return self._migrate_marked_by_decreasing_k()

    def _pseudo_exact_coerce(self) -> VarOptSketch | None:
        """detectAndHandleSubcaseOfPseudoExact + markMovingGadgetCoercer."""
        g = self.gadget
        if not (g.r_count == 0 and g.num_marks_in_h > 0
                and g.num_marks_in_h == self.outer_tau_denom):
            return None
        thresh = g.tau()
        if any(e[0] < thresh and not e[3] for e in g.heap):
            return None
        out = VarOptSketch(g.h_count + g.r_count)
        out.n = self.n
        transferred = 0.0
        for w, _t, item, mark in g.heap:
            if mark:
                out.r_items.append((item, False))
                transferred += w
            else:
                out._push(item, w, False)
        out.total_wt_r = g.total_wt_r + transferred
        return out

    def _migrate_marked_by_decreasing_k(self) -> VarOptSketch:
        g = self.gadget.copy()
        g.n = self.n
        if g.r_count == 0 and g.h_count < g.k:
            g.k = g.h_count
        assert g.k >= 2
        g.decrease_k_by_1()
        while g.num_marks_in_h > 0:
            assert g.k >= 2
            g.decrease_k_by_1()
        g.strip_marks()
        return g
