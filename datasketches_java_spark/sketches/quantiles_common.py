"""The weighted sorted view and the quantile query rules shared by the
quantile families (KLL doubles, KLL items, REQ) — the role of the
reference's quantilescommon/ package.

A sketch's retained items sit in buffers whose items each carry
weight 2^lg_weight.  The view sorts all of them once (stable argsort,
so equal items keep buffer order) with their cumulative weights
(kll/KllDoublesSketchSortedView.java:37, req/ReqSketchSortedView) and
answers with the INCLUSIVE / EXCLUSIVE search criteria of
quantilescommon/QuantileSearchCriteria.java:41,44:

  - quantile, INCLUSIVE: the smallest item whose cumulative weight is
    >= rank·n — the exact order statistic while nothing was compacted
    (matches DuckDB quantile_disc); EXCLUSIVE: the smallest item whose
    cumulative weight is > rank·n;
  - rank, INCLUSIVE: the weight of items <= x over n; EXCLUSIVE: < x.

n is the sketch's stream length, not the view's total weight: a
compaction of an odd-sized buffer does not conserve weight.
"""

from __future__ import annotations

import numpy as np


class SortedView:
    """Retained items ascending, with their cumulative weights."""

    def __init__(self, buffers, lg_weights, n: int):
        items = np.concatenate(buffers)
        weights = np.concatenate([np.full(b.shape[0], 1 << lg, dtype=np.int64)
                                  for b, lg in zip(buffers, lg_weights)])
        order = np.argsort(items, kind="stable")
        self.items = items[order]
        self.cum_weights = np.cumsum(weights[order])
        self.n = n

    def quantile(self, rank: float, inclusive: bool = True):
        """The item at normalized ``rank``, as a Python scalar."""
        if self.n == 0:
            raise ValueError("empty sketch")
        pos = rank * self.n
        if inclusive:
            idx = int(np.searchsorted(self.cum_weights, pos - 1e-9, side="left"))
        else:
            idx = int(np.searchsorted(self.cum_weights, pos, side="right"))
        return self.items.item(min(max(idx, 0), self.items.shape[0] - 1))

    def ranks(self, xs, inclusive: bool = True) -> np.ndarray:
        """Normalized rank of each of ``xs`` (a scalar gives a 0-d array)."""
        idx = np.searchsorted(self.items, xs,
                              side="right" if inclusive else "left")
        if self.n == 0 and idx.size:
            raise ValueError("empty sketch")
        return np.where(idx == 0, 0.0, self.cum_weights[idx - 1] / self.n)


class QuantileQueries:
    """quantile / quantiles / rank / cdf / pmf of a sketch, answered by
    the :class:`SortedView` its ``_sorted_view()`` builds."""

    def quantile(self, rank: float, inclusive: bool = True):
        """Quantile at normalized rank (kll/KllDoublesSketch.java:197)."""
        return self._sorted_view().quantile(rank, inclusive)

    def quantiles(self, ranks: list[float], inclusive: bool = True) -> list:
        view = self._sorted_view()
        return [view.quantile(r, inclusive) for r in ranks]

    def rank(self, x, inclusive: bool = True) -> float:
        """Normalized rank of x (kll/KllDoublesSketch.java:245)."""
        return float(self._sorted_view().ranks(x, inclusive))

    def cdf(self, split_points: list) -> list[float]:
        return self._sorted_view().ranks(split_points).tolist() + [1.0]

    def pmf(self, split_points: list) -> list[float]:
        """Probability mass between split points
        (kll/KllDoublesSketch.java:190)."""
        cdf = self.cdf(split_points)
        return [cdf[0]] + [cdf[i] - cdf[i - 1] for i in range(1, len(cdf))]
