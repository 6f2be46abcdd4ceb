"""Generic-item KLL quantiles — the level-list core parameterized by
item type (longs and strings).

Counterparts: kll/KllLongsSketch.java (longs are a direct dtype
parameterization of the doubles core), quantiles/ItemsSketch.java:70
with the pluggable-comparator contract and common/ArrayOfItemsSerDe
.java:30 (generic items; modern form kll/KllItemsSketch.java).  The
level/capacity/compaction/merge rules are the shared KLL level engine
(sketches/kll.KllLevels) and the queries its sorted view
(sketches/quantiles_common.py); this module supplies only the item
dtype, the comparator, and the per-item serde:

  - longs: numpy int64 arrays, natural order; 8-byte LE items.
  - strings: numpy object arrays of Python str, code-point order.
    DuckDB/Spark binary UTF-8 collation equals code-point order, so
    oracle comparisons line up.  NOTE (documented deviation): Java's
    Comparable<String> natural order is UTF-16 code-unit order, which
    differs from code-point order only for items containing
    supplementary-plane characters; the reference's ItemsSketch would
    accept any comparator, and ours is the one consistent with the
    SQL engines we verify against.  Items serialize length-prefixed
    UTF-8 (common/ArrayOfStringsSerDe.java layout: int32 length +
    bytes per item).

``pack_items`` / ``unpack_items`` are that per-item serde, shared with
the classic ItemsSketch wire format of sketches/kll_serde.py.

Exactness contract matches sketches/kll.py: while n <= retained
capacity no compaction happens and every INCLUSIVE quantile is the
exact order statistic.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

from ..config import KLL_DEFAULT_K
from .kll import KllLevels, rank_error

_FAMILY_KLL = 15
_SER_VER_ITEMS = 2
_HDR = struct.Struct("<BBBxHHQ")  # family, serVer, dtypeCode, k, numLevels, n
_DTYPE_LONG = 0
_DTYPE_STRING = 1

__all__ = ["KllItemsSketch", "rank_error"]


def empty_items(dtype_code: int) -> np.ndarray:
    return (np.empty(0, np.int64) if dtype_code == _DTYPE_LONG
            else np.empty(0, dtype=object))


def pack_items(arr, dtype_code: int) -> bytes:
    """common/ArrayOfLongsSerDe (8-byte LE longs) or
    common/ArrayOfStringsSerDe (int32 length + UTF-8 bytes)."""
    if dtype_code == _DTYPE_LONG:
        return np.asarray(arr, dtype="<i8").tobytes()
    out = []
    for s in arr:
        b = s.encode("utf-8")
        out.append(struct.pack("<i", len(b)))
        out.append(b)
    return b"".join(out)


def unpack_items(buf: bytes, off: int, count: int,
                 dtype_code: int) -> tuple[np.ndarray, int]:
    """``count`` items written by :func:`pack_items` at ``off`` → (items,
    offset past them).  Raises ``ValueError`` when a string's length
    prefix is negative or runs past the end of ``buf`` (a truncated or
    corrupt image)."""
    if dtype_code == _DTYPE_LONG:
        arr = np.frombuffer(buf, dtype="<i8", count=count,
                            offset=off).astype(np.int64)
        return arr, off + count * 8
    items = np.empty(count, dtype=object)
    for i in range(count):
        (ln,) = struct.unpack_from("<i", buf, off)
        off += 4
        if ln < 0 or off + ln > len(buf):
            raise ValueError(f"string item {i} of {count}: length {ln} at "
                             f"offset {off} exceeds the {len(buf)}-byte image")
        items[i] = buf[off:off + ln].decode("utf-8")
        off += ln
    return items, off


@dataclass
class KllItemsSketch(KllLevels):
    k: int
    dtype_code: int
    n: int
    min_item: object  # None when empty
    max_item: object
    levels: list[np.ndarray]

    @staticmethod
    def new(k: int = KLL_DEFAULT_K, dtype: str = "long") -> "KllItemsSketch":
        code = _DTYPE_LONG if dtype == "long" else _DTYPE_STRING
        return KllItemsSketch(k, code, 0, None, None, [empty_items(code)])

    def _empty_level(self) -> np.ndarray:
        return empty_items(self.dtype_code)

    def _clean(self, xs) -> np.ndarray:
        if self.dtype_code == _DTYPE_LONG:
            return np.asarray(xs, dtype=np.int64)
        return np.asarray([x for x in xs if x is not None], dtype=object)

    def _extremes(self) -> tuple:
        return self.min_item, self.max_item

    def _widen(self, lo, hi) -> None:
        self.min_item = lo if self.min_item is None else min(self.min_item, lo)
        self.max_item = hi if self.max_item is None else max(self.max_item, hi)

    def merge(self, other: "KllItemsSketch") -> "KllItemsSketch":
        if other.dtype_code != self.dtype_code:
            raise ValueError("item dtype mismatch in KLL merge")
        return super().merge(other)

    # -- serde ------------------------------------------------------------
    def to_bytes(self) -> bytes:
        parts = [_HDR.pack(_FAMILY_KLL, _SER_VER_ITEMS, self.dtype_code,
                           self.k, len(self.levels), self.n)]
        # min/max as a 0/2-item payload (absent when empty)
        extremes = ([] if self.min_item is None
                    else [self.min_item, self.max_item])
        parts.append(struct.pack("<B", len(extremes)))
        parts.append(pack_items(extremes, self.dtype_code))
        for lv in self.levels:
            parts.append(struct.pack("<I", lv.shape[0]))
            parts.append(pack_items(lv, self.dtype_code))
        return b"".join(parts)

    @staticmethod
    def from_bytes(buf: bytes) -> "KllItemsSketch":
        fam, ver, code, k, num_levels, n = _HDR.unpack_from(buf)
        if fam != _FAMILY_KLL or ver != _SER_VER_ITEMS:
            raise ValueError(f"bad KLL-items image family={fam} ver={ver}")
        off = _HDR.size
        n_ext = buf[off]
        off += 1
        ext, off = unpack_items(buf, off, n_ext, code)
        levels = []
        for _ in range(num_levels):
            (cnt,) = struct.unpack_from("<I", buf, off)
            off += 4
            lv, off = unpack_items(buf, off, cnt, code)
            levels.append(lv)
        mn, mx = ext.tolist() if n_ext else (None, None)
        return KllItemsSketch(k, code, n, mn, mx, levels)
