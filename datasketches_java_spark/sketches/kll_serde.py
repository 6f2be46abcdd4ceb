"""Reference-binary KLL doubles serde — compact images.

Byte layout per kll/KllPreambleUtil.java:30-161 and the writer
kll/KllHelper.java:562-639 (little-endian):

  empty  (8B) : {preInts=2, serVer=1, famID=15, flags=EMPTY|DOUBLES,
                 k:short, m=8, 0}
  single (16B): {preInts=2, serVer=2, famID=15, flags=SINGLE|DOUBLES,
                 k:short, m=8, 0} + item:double @8
  full        : {preInts=5, serVer=1, famID=15,
                 flags=DOUBLES|LEVEL_ZERO_SORTED, k:short, m=8, 0}
                n:long @8, minK:short @16, numLevels:byte @18, 0 @19,
                levels int[numLevels] @20 (start offsets into the item
                array; the final boundary = retained count is implied
                and NOT serialized), minItem:double, maxItem:double,
                then the retained items level by level (level h items
                carry weight 2^h; levels ≥ 1 sorted by construction,
                level 0 sorted here and flagged LEVEL_ZERO_SORTED).

Flags: 1=empty, 2=levelZeroSorted, 4=singleItem, 8=doublesSketch,
16=updatable (KllPreambleUtil.java:157-161).  We write compact doubles
images only and read compact doubles images (the updatable-memory form
and float sketches are out of scope; rejected explicitly).  minK is
our fixed k — the engine never folds k down on merge (merge keeps the
caller's k), so minK == k is the truthful value for the reference's
error-reporting use of the field.
"""

from __future__ import annotations

import struct

import numpy as np

from .kll import KllDoublesSketch
from .kll_items import (_DTYPE_LONG, _DTYPE_STRING, KllItemsSketch,
                        empty_items, pack_items, unpack_items)

_PRE_INTS_EMPTY_SINGLE = 2
_PRE_INTS_FULL = 5
_SER_VER_FULL = 1
_SER_VER_SINGLE = 2
_FAMILY_KLL = 15
_M = 8
_FLAG_EMPTY = 1
_FLAG_L0_SORTED = 2
_FLAG_SINGLE = 4
_FLAG_DOUBLES = 8
_FLAG_UPDATABLE = 16


def to_java_bytes(sk: KllDoublesSketch) -> bytes:
    """Serialize to the reference's compact doubles image
    (KllHelper.toCompactByteArrayImpl:562)."""
    if sk.n == 0:
        return struct.pack("<BBBBHBB", _PRE_INTS_EMPTY_SINGLE, _SER_VER_FULL,
                           _FAMILY_KLL, _FLAG_EMPTY | _FLAG_DOUBLES,
                           sk.k, _M, 0)
    if sk.n == 1:
        item = next(float(lv[0]) for lv in sk.levels if lv.shape[0])
        return struct.pack("<BBBBHBB", _PRE_INTS_EMPTY_SINGLE,
                           _SER_VER_SINGLE, _FAMILY_KLL,
                           _FLAG_SINGLE | _FLAG_DOUBLES, sk.k, _M, 0) \
            + struct.pack("<d", item)
    levels = [np.sort(lv) for lv in sk.levels]
    while len(levels) > 1 and levels[-1].shape[0] == 0:
        levels.pop()
    num_levels = len(levels)
    sizes = [lv.shape[0] for lv in levels]
    starts = np.cumsum([0] + sizes[:-1]).astype("<i4")
    hdr = struct.pack("<BBBBHBB", _PRE_INTS_FULL, _SER_VER_FULL, _FAMILY_KLL,
                      _FLAG_DOUBLES | _FLAG_L0_SORTED, sk.k, _M, 0)
    body = struct.pack("<qHBB", sk.n, sk.k, num_levels, 0)
    items = np.concatenate(levels) if levels else np.empty(0, np.float64)
    return (hdr + body + starts.tobytes()
            + struct.pack("<dd", sk.min_value, sk.max_value)
            + items.astype("<f8").tobytes())


def from_java_bytes(buf: bytes) -> KllDoublesSketch:
    """Heapify a compact KLL image — doubles OR floats — into the
    engine's doubles sketch (KllDoublesSketch/KllFloatsSketch.heapify
    counterparts for the compact forms; float items widen losslessly
    to float64, validated on the reference's own
    kll_sketch_float_one_item_v1.sk golden)."""
    if len(buf) < 8:
        raise ValueError("KLL image too short")
    pre_ints, ser_ver, fam, flags, k, m, _u = struct.unpack_from(
        "<BBBBHBB", buf, 0)
    if fam != _FAMILY_KLL:
        raise ValueError(f"family {fam} is not a KLL image (need 15)")
    is_double = bool(flags & _FLAG_DOUBLES)
    fmt, width = ("<f8", 8) if is_double else ("<f4", 4)
    if flags & _FLAG_UPDATABLE or ser_ver == 3:
        raise ValueError("updatable-memory KLL format not supported")
    if flags & _FLAG_EMPTY:
        return KllDoublesSketch.new(k)
    if flags & _FLAG_SINGLE or ser_ver == _SER_VER_SINGLE:
        item = float(np.frombuffer(buf, dtype=fmt, count=1, offset=8)[0])
        return KllDoublesSketch(k, 1, item, item,
                                [np.array([item], np.float64)])
    if pre_ints != _PRE_INTS_FULL:
        raise ValueError(f"full KLL preInts must be 5, got {pre_ints}")
    n = struct.unpack_from("<q", buf, 8)[0]
    num_levels = buf[18]
    off = 20
    starts = np.frombuffer(buf, dtype="<i4", count=num_levels,
                           offset=off).astype(np.int64)
    off += num_levels * 4
    mn, mx = (float(v) for v in
              np.frombuffer(buf, dtype=fmt, count=2, offset=off))
    off += 2 * width
    retained = (len(buf) - off) // width
    items = np.frombuffer(buf, dtype=fmt, count=retained,
                          offset=off).astype(np.float64)
    # levels may carry a non-zero base offset (the reference serializes
    # raw in-memory offsets; items start at starts[0])
    rel = starts - starts[0]
    bounds = np.append(rel, retained)
    levels = [items[bounds[i]:bounds[i + 1]].copy()
              for i in range(num_levels)]
    if not flags & _FLAG_L0_SORTED and levels:
        levels[0] = np.sort(levels[0])
    return KllDoublesSketch(k, n, mn, mx, levels)


# ---------------------------------------------------------------------------
# classic quantiles (DoublesSketch) images — read path
# ---------------------------------------------------------------------------

_FAMILY_QUANTILES = 8
_Q_FLAG_EMPTY = 4
_Q_FLAG_COMPACT = 8


def classic_doubles_from_java_bytes(buf: bytes) -> KllDoublesSketch:
    """Heapify a CLASSIC quantiles DoublesSketch image (any serVer
    1/2/3 — quantiles/PreambleUtil.java layout,
    HeapUpdateDoublesSketch.heapifyInstance:126 +
    srcMemoryToCombinedBuffer:280) into the engine's KLL form.

    The classic sketch is a base buffer (weight-1 items) plus k-sized
    levels where classic level i carries weight 2^(i+1) — exactly a
    KLL level i+1 — so the state maps losslessly: KLL level 0 = base
    buffer, KLL level i+1 = classic level i (present iff bit i of
    n/(2k) is set).  This makes SURVEY §2.4's "classic subsumed by
    KLL" concrete: legacy images from v0.3.0 on heapify and answer
    quantile queries (validated on the reference's 8 in-tree
    Qk128_n{50,1000}_v0.{3,6,8}*.sk goldens with its own expected
    medians)."""
    if len(buf) < 8:
        raise ValueError("quantiles image too short")
    _pre, ser_ver, fam, flags, k = struct.unpack_from("<BBBBH", buf, 0)
    if fam != _FAMILY_QUANTILES:
        raise ValueError(f"family {fam} is not a classic quantiles "
                         f"image (need 8)")
    if ser_ver not in (1, 2, 3):
        raise ValueError(f"unsupported quantiles serVer {ser_ver}")
    if flags & _Q_FLAG_EMPTY:
        return KllDoublesSketch.new(k)
    n = struct.unpack_from("<q", buf, 8)[0]
    mn, mx = struct.unpack_from("<dd", buf, 16)
    # serVer 1 carries an extra buffer-alloc long before the data
    data_off = 40 if ser_ver == 1 else 32
    compact = (ser_ver == 2) or bool(flags & _Q_FLAG_COMPACT)
    bb_cnt = int(n % (2 * k))
    bit_pattern = n // (2 * k)
    base = np.frombuffer(buf, dtype="<f8", count=bb_cnt,
                         offset=data_off).astype(np.float64)
    levels = [np.sort(base)]
    if compact:
        off = data_off + bb_cnt * 8
        bp, i = bit_pattern, 0
        while bp:
            if bp & 1:
                lv = np.frombuffer(buf, dtype="<f8", count=k,
                                   offset=off).astype(np.float64)
                off += k * 8
            else:
                lv = np.empty(0, np.float64)
            levels.append(lv)
            bp >>= 1
            i += 1
    else:  # full combined buffer: levels at fixed offsets (2+i)*k
        bp, i = bit_pattern, 0
        while bp:
            if bp & 1:
                off = data_off + (2 + i) * k * 8
                lv = np.frombuffer(buf, dtype="<f8", count=k,
                                   offset=off).astype(np.float64)
            else:
                lv = np.empty(0, np.float64)
            levels.append(lv)
            bp >>= 1
            i += 1
    return KllDoublesSketch(k, n, float(mn), float(mx), levels)


# ---------------------------------------------------------------------------
# classic quantiles GENERIC-ITEMS images (quantiles/ItemsSketch.java with
# common/ArrayOfItemsSerDe payloads) — the reference's wire format for
# string/long quantile sketches
# ---------------------------------------------------------------------------

_Q_FLAG_ORDERED = 16
_ITEMS_SER_VER = 3        # quantiles/ItemsUtil.java:43
_PRIOR_ITEMS_SER_VER = 2


def _next_pow2(x: int) -> int:
    return 1 << max(x - 1, 1).bit_length()


def classic_items_to_java_bytes(sk, classic_k: int | None = None) -> bytes:
    """Serialize an engine KllItemsSketch to the reference's classic
    generic ItemsSketch image (quantiles/ItemsByteArrayImpl.toByteArray
    :49-81 with ArrayOfLongsSerDe / ArrayOfStringsSerDe payloads).

    EXACT-mode only: a classic image's level structure is fully
    determined by (k, n) — baseBufferCount = n mod 2k, each set bit of
    n/(2k) is a level of exactly k items — so an estimation-mode KLL
    state (variable-size levels, different weights) has no valid
    classic representation without resampling the stream.  When all n
    items are retained they form a legal base-buffer-only image with
    any power-of-two classic k > n/2 (chosen automatically), which a
    datasketches-java `ItemsSketch.getInstance(mem, comparator, serDe)`
    consumer accepts and may keep updating.  Estimation-mode states
    raise ValueError.
    """
    retained = sum(lv.shape[0] for lv in sk.levels)
    if sk.n == 0:
        k = classic_k or 128
        return struct.pack("<BBBBHxx", 1, _ITEMS_SER_VER, _FAMILY_QUANTILES,
                           _Q_FLAG_EMPTY | _Q_FLAG_COMPACT, k)
    if retained != sk.n:
        raise ValueError(
            "classic items image requires exact mode (all items "
            f"retained): n={sk.n}, retained={retained}")
    if classic_k is None:
        classic_k = max(4, _next_pow2(sk.n // 2 + 1))
    if not (2 < classic_k < 65536 and classic_k & (classic_k - 1) == 0):
        raise ValueError(f"classic k must be a power of 2 in (2, 65536): "
                         f"{classic_k} (n={sk.n} too large for exact write)")
    if sk.n >= 2 * classic_k:
        raise ValueError(f"n={sk.n} needs classic k > n/2, got {classic_k}")
    items = np.sort(np.concatenate(sk.levels), kind="stable")
    data = np.empty(items.shape[0] + 2, dtype=object)
    data[0], data[1] = sk.min_item, sk.max_item
    data[2:] = items
    payload = pack_items(data, sk.dtype_code)
    pre0 = struct.pack("<BBBBHxx", 2, _ITEMS_SER_VER, _FAMILY_QUANTILES,
                       _Q_FLAG_COMPACT | _Q_FLAG_ORDERED, classic_k)
    return pre0 + struct.pack("<q", sk.n) + payload


def classic_items_from_java_bytes(buf: bytes, dtype: str = "long"):
    """Heapify a classic generic ItemsSketch image (serVer 2/3,
    quantiles/ItemsSketch.getInstance:192 + ItemsByteArrayImpl layout)
    into the engine's KllItemsSketch via the same lossless
    level-weight mapping as classic_doubles_from_java_bytes: KLL level
    0 = base buffer (weight 1), KLL level i+1 = classic level i
    (weight 2^(i+1)), present iff bit i of n/(2k) is set.  The payload
    is the serde-encoded array [min, max, baseBuffer..., levels...]
    (ItemsByteArrayImpl.combinedBufferToItemsArray:92-124)."""
    dtype_code = _DTYPE_LONG if dtype == "long" else _DTYPE_STRING
    if len(buf) < 8:
        raise ValueError("classic items image too short")
    pre_longs, ser_ver, fam, flags, k = struct.unpack_from("<BBBBH", buf, 0)
    if fam != _FAMILY_QUANTILES:
        raise ValueError(f"family {fam} is not a classic quantiles image "
                         f"(need 8)")
    if ser_ver not in (_ITEMS_SER_VER, _PRIOR_ITEMS_SER_VER):
        raise ValueError(f"unsupported items serVer {ser_ver}")
    if flags & _Q_FLAG_EMPTY:
        return KllItemsSketch.new(k, dtype)
    (n,) = struct.unpack_from("<q", buf, 8)
    bb_cnt = int(n % (2 * k))
    bit_pattern = n // (2 * k)
    total = 2 + bb_cnt + k * int(bin(bit_pattern).count("1"))
    data, _ = unpack_items(buf, pre_longs << 3, total, dtype_code)
    mn, mx = data[:2].tolist()
    levels = [np.sort(data[2:2 + bb_cnt], kind="stable")]
    off = 2 + bb_cnt
    bp = bit_pattern
    while bp:
        if bp & 1:
            lv = data[off:off + k]
            off += k
        else:
            lv = empty_items(dtype_code)
        levels.append(lv)
        bp >>= 1
    return KllItemsSketch(k, dtype_code, int(n), mn, mx, levels)
