"""Classic generic ItemsSketch wire format for the engine's KLL-items
(quantiles/ItemsByteArrayImpl.java + common/ArrayOf{Longs,Strings}SerDe).

No in-tree .sk golden exists for generic items, so the bar is
layout-literal self-goldens hand-assembled from the
quantiles/PreambleUtil layout + the serde codecs, roundtrips, and the
estimation-mode read path exercised against a hand-built multi-level
classic image.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from datasketches_java_spark.sketches import kll_serde as ks
from datasketches_java_spark.sketches.kll_items import _HDR, KllItemsSketch


def _sk(values, dtype="long", k=2048):
    s = KllItemsSketch.new(k=k, dtype=dtype)
    s.update_batch(values)
    return s


# -- layout-literal self-goldens -------------------------------------------

def test_longs_image_layout():
    sk = _sk([5, 1, 9])
    img = ks.classic_items_to_java_bytes(sk)
    pre_longs, ser_ver, fam, flags, k = struct.unpack_from("<BBBBH", img)
    assert (pre_longs, ser_ver, fam) == (2, 3, 8)
    assert flags & 8 and flags & 16          # COMPACT | ORDERED
    assert k == 4                             # next pow2 > n/2
    (n,) = struct.unpack_from("<q", img, 8)
    assert n == 3
    # payload: [min, max, base buffer sorted] as LE int64
    vals = np.frombuffer(img, dtype="<i8", offset=16)
    assert vals.tolist() == [1, 9, 1, 5, 9]


def test_strings_image_layout():
    sk = _sk(["bb", "a", "ccc"], dtype="string")
    img = ks.classic_items_to_java_bytes(sk)
    # ArrayOfStringsSerDe: int32 length + UTF-8 per item
    off = 16
    decoded = []
    while off < len(img):
        (ln,) = struct.unpack_from("<i", img, off)
        off += 4
        decoded.append(img[off:off + ln].decode())
        off += ln
    assert decoded == ["a", "ccc", "a", "bb", "ccc"]


def test_empty_image_is_8_bytes():
    sk = KllItemsSketch.new(dtype="long")
    img = ks.classic_items_to_java_bytes(sk)
    assert len(img) == 8
    assert img[0] == 1 and img[3] & 4        # preLongs=1, EMPTY flag
    back = ks.classic_items_from_java_bytes(img, "long")
    assert back.n == 0


# -- roundtrips -------------------------------------------------------------

@pytest.mark.parametrize("n", [1, 2, 100, 1500])
def test_roundtrip_longs(n):
    rng = np.random.default_rng(n)
    vals = rng.integers(-(1 << 40), 1 << 40, n)
    sk = _sk(vals, k=4096)
    back = ks.classic_items_from_java_bytes(
        ks.classic_items_to_java_bytes(sk), "long")
    assert back.n == n
    assert back.min_item == sk.min_item and back.max_item == sk.max_item
    for q in (0.1, 0.5, 0.9):
        assert back.quantile(q) == sk.quantile(q)


@pytest.mark.parametrize("n", [1, 7, 800])
def test_roundtrip_strings(n):
    vals = [f"cust#{i:09d}" for i in np.random.default_rng(n).permutation(n)]
    sk = _sk(vals, dtype="string", k=2048)
    back = ks.classic_items_from_java_bytes(
        ks.classic_items_to_java_bytes(sk), "string")
    assert back.n == n
    for q in (0.25, 0.5, 0.75):
        assert back.quantile(q) == sk.quantile(q)


def test_estimation_mode_write_refuses():
    sk = _sk(np.arange(100000), k=200)   # forces compaction
    with pytest.raises(ValueError, match="exact mode"):
        ks.classic_items_to_java_bytes(sk)


def test_explicit_k_validation():
    sk = _sk([1, 2, 3])
    with pytest.raises(ValueError, match="power of 2"):
        ks.classic_items_to_java_bytes(sk, classic_k=100)
    with pytest.raises(ValueError, match="classic k"):
        ks.classic_items_to_java_bytes(_sk(list(range(50))), classic_k=16)


# -- estimation-mode READ: hand-built multi-level classic image -------------

def test_reads_estimation_mode_classic_image():
    """Assemble the classic image a datasketches-java producer would
    emit at n = 2k + bb (one level set + base buffer), and check the
    level-weight mapping: level items carry weight 2^(i+1), base
    buffer weight 1 (the classic_doubles golden-validated mapping,
    applied to the longs codec)."""
    k = 4
    base = [100, 50]                       # bb_cnt = n % 2k = 2
    level0 = [10, 20, 30, 40]              # k items, weight 2
    n = 2 * k + len(base)                  # bitPattern = 1
    data = [min(base + level0), max(base + level0)] + base + level0
    img = (struct.pack("<BBBBHxx", 2, 3, 8, 8 | 16, k)
           + struct.pack("<q", n)
           + np.asarray(data, dtype="<i8").tobytes())
    sk = ks.classic_items_from_java_bytes(img, "long")
    assert sk.n == n
    assert sk.min_item == 10 and sk.max_item == 100
    assert sk.levels[0].tolist() == [50, 100]
    assert sk.levels[1].tolist() == [10, 20, 30, 40]
    # total weight == n
    assert sk.levels[0].shape[0] + 2 * sk.levels[1].shape[0] == n


def test_rejects_wrong_family_and_server():
    img = ks.classic_items_to_java_bytes(_sk([1, 2, 3]))
    with pytest.raises(ValueError, match="family"):
        ks.classic_items_from_java_bytes(b"\x02\x03\x0f" + img[3:], "long")
    with pytest.raises(ValueError, match="serVer"):
        ks.classic_items_from_java_bytes(img[:1] + b"\x07" + img[2:], "long")


# (write, read, offset of the first string's int32 length prefix)
_STRING_READERS = {
    "native": (KllItemsSketch.to_bytes, KllItemsSketch.from_bytes,
               _HDR.size + 1),
    "classic": (ks.classic_items_to_java_bytes,
                lambda b: ks.classic_items_from_java_bytes(b, "string"), 16),
}


@pytest.mark.parametrize("reader", sorted(_STRING_READERS))
def test_string_length_past_image_or_negative_rejected(reader):
    write, read, first_len_at = _STRING_READERS[reader]
    img = write(_sk(["alpha", "beta", "gamma"], dtype="string"))
    with pytest.raises(ValueError, match="exceeds"):
        read(img[:-3])   # used to read back 'gamma' clipped to 'ga'
    bad = bytearray(img)
    struct.pack_into("<i", bad, first_len_at, -1)
    with pytest.raises(ValueError, match="length -1"):
        read(bytes(bad))
