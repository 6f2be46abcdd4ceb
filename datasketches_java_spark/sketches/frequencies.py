"""Frequent items (heavy hitters) sketch — Misra-Gries style, numpy/dict core.

Re-expresses frequencies/LongsSketch.java:145 and ItemsSketch.java:150:
  - max_map_size M; a-priori error epsilon = 3.5/M over total stream
    weight (frequencies/LongsSketch.java:363-367);
  - deterministic median purge when over capacity
    (frequencies/ReversePurgeLongHashMap.java): subtract the median
    count, drop <= 0, accumulate the subtracted amount into ``offset``
    (the max over-count of any absent item);
  - estimates: lower bound = stored count, upper = stored + offset;
    getFrequentItems with NO_FALSE_POSITIVES (lb >= threshold) and
    NO_FALSE_NEGATIVES (ub >= threshold) error types
    (frequencies/ErrorType.java:35,43, LongsSketch.java:422,435);
  - merge adds counts and offsets (LongsSketch.java:512).

In exact mode (distinct items never exceeded capacity; offset == 0)
all counts are exact — the oracle-comparison mode.
"""

from __future__ import annotations

import pickle
from dataclasses import dataclass, field

import numpy as np

from ..config import FREQ_DEFAULT_MAX_MAP_SIZE
from .image_pickle import load_image

NO_FALSE_POSITIVES = "NO_FALSE_POSITIVES"
NO_FALSE_NEGATIVES = "NO_FALSE_NEGATIVES"


def a_priori_error(max_map_size: int, stream_weight: int) -> float:
    """epsilon * streamWeight (frequencies/LongsSketch.java:344,363-367)."""
    return 3.5 / max_map_size * stream_weight


@dataclass
class ItemsSketch:
    max_map_size: int = FREQ_DEFAULT_MAX_MAP_SIZE
    counts: dict = field(default_factory=dict)
    offset: int = 0  # max undercount of purged items
    stream_weight: int = 0

    # purge down to 3/4 capacity like the reference load factor
    @property
    def _purge_at(self) -> int:
        return self.max_map_size

    def update_batch(self, items, weights=None) -> "ItemsSketch":
        """Weighted batch update (LongsSketch.java:643,654)."""
        import pandas as pd

        s = pd.Series(weights if weights is not None else np.ones(len(items), np.int64),
                      index=items, dtype=np.int64)
        agg = s.groupby(level=0).sum()
        self.stream_weight += int(agg.sum())
        for item, w in agg.items():
            self.counts[item] = self.counts.get(item, 0) + int(w)
        self._maybe_purge()
        return self

    def _maybe_purge(self) -> None:
        while len(self.counts) > self._purge_at:
            vals = np.fromiter(self.counts.values(), dtype=np.int64)
            med = int(np.median(vals))
            med = max(med, 1)
            self.offset += med
            self.counts = {k: v - med for k, v in self.counts.items() if v > med}

    def merge(self, other: "ItemsSketch") -> "ItemsSketch":
        """LongsSketch.java:512."""
        for item, c in other.counts.items():
            self.counts[item] = self.counts.get(item, 0) + c
        self.offset += other.offset
        self.stream_weight += other.stream_weight
        self._maybe_purge()
        return self

    # -- queries ----------------------------------------------------------
    def estimate(self, item) -> int:
        """LongsSketch.java:378 (here: lower-bound form + offset/2 split
        avoided; we return the upper estimate like the reference's
        getEstimate = stored + offset when present)."""
        return self.counts.get(item, 0) + (self.offset if item in self.counts else 0)

    def lower_bound(self, item) -> int:
        return self.counts.get(item, 0)

    def upper_bound(self, item) -> int:
        return self.counts.get(item, 0) + self.offset

    def frequent_items(self, threshold: int | None = None,
                       error_type: str = NO_FALSE_POSITIVES) -> list[tuple]:
        """(item, estimate, lb, ub) rows, descending estimate
        (LongsSketch.java:422,435)."""
        t = threshold if threshold is not None else self.offset
        rows = []
        for item, c in self.counts.items():
            lb, ub = c, c + self.offset
            keep = lb >= t if error_type == NO_FALSE_POSITIVES else ub >= t
            if keep:
                rows.append((item, ub, lb, ub))
        rows.sort(key=lambda r: (-r[1], str(r[0])))
        return rows

    @property
    def is_exact(self) -> bool:
        return self.offset == 0

    # -- serde --------------------------------------------------------------
    def to_bytes(self) -> bytes:
        return b"FQ01" + pickle.dumps(
            (self.max_map_size, self.offset, self.stream_weight, self.counts),
            protocol=4)

    @staticmethod
    def from_bytes(buf: bytes) -> "ItemsSketch":
        if buf[:4] != b"FQ01":
            raise ValueError("bad frequent-items image")
        m, off, sw, counts = load_image(buf[4:])
        return ItemsSketch(m, counts, off, sw)
