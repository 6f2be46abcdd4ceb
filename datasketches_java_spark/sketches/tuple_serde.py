"""Reference-binary tuple-family serde.

Reads and writes the Apache DataSketches tuple wire formats so sketch
columns interoperate with datasketches-java/-cpp producers and
consumers.  Validated against the reference's own in-tree golden
images (src/test/resources/tuple-int-{empty,single,two,est-trim}-cpp.sk,
TupleWithTestIntegerSummary4kTrimmedSerVer2.sk,
CompactSketchWithDoubleSummary4K_serialVersion1.sk,
ArrayOfDoublesUnion_v0.9.1.sk) in tests/test_tuple_serde.py.

Generic tuple CompactSketch layout (tuple/CompactSketch.java):

  serVer 3 (current, CompactSketch.java:126-152, toByteArray:199-249):
    byte 0  preambleLongs   1 = empty or single-item, 2 = exact,
                            3 = estimating (theta present)
    byte 1  serVer = 3
    byte 2  familyID = 9 (TUPLE, common/Family.java)
    byte 3  sketchType      SerializerDeserializer.SketchType ordinal:
                            0 QuickSelectSketch, 1 CompactSketch,
                            2 AoDQuickSelectSketch, 3 AoDCompactSketch,
                            4 AoDUnion
    byte 4  unused
    byte 5  flags           1 bigEndian, 2 readOnly, 4 empty,
                            8 compact, 16 ordered
    byte 6-7 seed hash      writer hardcodes 37836 "for compatibility
                            with C++" (CompactSketch.java:46); the
                            reader skips it entirely
    [preLongs>=2] int32 count + 4 unused bytes
    [preLongs==3] int64 thetaLong
    then count x (hash int64 || summary bytes)   -- INTERLEAVED

  serVer 2 (legacy, CompactSketch.java:88-121): byte 4 is the flags
    byte {1 bigEndian, 2 empty, 4 hasEntries, 8 thetaIncluded}; then
    optional thetaLong, int32 count, ALL hashes, then ALL summaries.

  serVer 1: like serVer 2 plus a one-byte summary-class-name length
    before the count and the UTF-8 class name after it.

Summary codecs (fixed width, so numpy strided views decode a whole
image in one pass):
    int_cpp     4B int32 LE   -- datasketches-cpp / the reference test
                               package's IntegerSummary
                               (src/test/.../tuple/IntegerSummary.java:58)
    int_java    5B int32 LE + mode byte (tuple/aninteger/
                               IntegerSummary.java:125-140)
    double_java 9B float64 LE + mode byte (tuple/adouble/
                               DoubleSummary.java:130-151)

ArrayOfDoubles (tuple/arrayofdoubles/*):
    CompactSketch serVer 1 (HeapArrayOfDoublesCompactSketch.java:165):
      16B preamble {preLongs=1, serVer=1, famID=9, type=3, flags
      {1 bigEndian, 2 samplingMode, 4 empty, 8 hasEntries}, numValues,
      seedHash(real, checked), thetaLong@8}; if entries: int32 count
      @16, 4 pad, keys int64[count] @24, values float64[count*nv].
    Union serVer 1 (ArrayOfDoublesUnion.java:194-206): 16B preamble
      {1, 1, 9, type=4, 0, 0, 0, unionThetaLong@8} + embedded
      QuickSelectSketch image.
    QuickSelectSketch serVer 1 (HeapArrayOfDoublesQuickSelectSketch
      .java:85-116): bytes 16-18 lgNom/lgCurCap/lgRF, float p @20,
      int32 count @24, open-address key table int64[curCap] @32 then
      value table float64[curCap*nv] (zero key = empty slot).
    Pre-1.0 images (ArrayOfDoublesUnion_v0.9.1.sk) serialized the
      union as its bare gadget (type byte 2); the reference rejects
      them (ArrayOfDoublesUnionTest.noSupportHeapifyV0_9_1) and so do
      we, with the same type-mismatch error.
"""

from __future__ import annotations

import struct

import numpy as np

from ..config import DEFAULT_UPDATE_SEED
from .theta import MAX_THETA, compute_seed_hash
from .theta_serde import _lg_k_for_count
from .tuple import TupleSketch, _MODES_INV

_FAMILY_TUPLE = 9
_TYPE_COMPACT = 1
_TYPE_AOD_QS = 2
_TYPE_AOD_COMPACT = 3
_TYPE_AOD_UNION = 4
_TYPE_NAMES = ["QuickSelectSketch", "CompactSketch",
               "ArrayOfDoublesQuickSelectSketch",
               "ArrayOfDoublesCompactSketch", "ArrayOfDoublesUnion"]

# serVer-3 flags (tuple/CompactSketch.java Flags enum)
_F3_BIG_ENDIAN, _F3_READ_ONLY, _F3_EMPTY, _F3_COMPACT, _F3_ORDERED = \
    1, 2, 4, 8, 16
# legacy flags (FlagsLegacy enum)
_FL_BIG_ENDIAN, _FL_EMPTY, _FL_HAS_ENTRIES, _FL_THETA = 1, 2, 4, 8
# AoD flags (arrayofdoubles/ArrayOfDoublesSketch.java:42)
_FA_BIG_ENDIAN, _FA_SAMPLING, _FA_EMPTY, _FA_HAS_ENTRIES = 1, 2, 4, 8

# the constant the reference writes as the tuple compact seed hash
# "for compatibility with C++" (CompactSketch.java:46); its reader
# never checks it, and neither does ours.
_DEFAULT_TUPLE_SEED_HASH = 37836

# summary codec: name -> (entry bytes, numpy value dtype, has mode byte)
_SUMMARY_CODECS = {
    "int_cpp": (4, "<i4", False),
    "int_java": (5, "<i4", True),
    "double_java": (9, "<f8", True),
}


def _codec(name: str):
    try:
        return _SUMMARY_CODECS[name]
    except KeyError:
        raise ValueError(f"unknown tuple summary codec: {name!r} "
                         f"(have {sorted(_SUMMARY_CODECS)})") from None


def _decode_entries(buf: bytes, offset: int, count: int,
                    summary: str) -> tuple[np.ndarray, np.ndarray, int]:
    """Interleaved (hash || summary) entries -> (hashes, values, mode).

    One strided numpy pass over the raw bytes — no per-entry loop."""
    size, vfmt, has_mode = _codec(summary)
    entry = 8 + size
    raw = np.frombuffer(buf, dtype=np.uint8, count=count * entry,
                        offset=offset).reshape(count, entry)
    hashes = raw[:, :8].copy().view("<u8").ravel()
    vwidth = int(np.dtype(vfmt).itemsize)
    values = raw[:, 8:8 + vwidth].copy().view(vfmt).ravel().astype(
        np.int64 if vfmt == "<i4" else np.float64)
    mode = int(raw[0, 8 + vwidth]) if has_mode and count else 0
    return hashes, values, mode


def _decode_split(buf: bytes, offset: int, count: int,
                  summary: str) -> tuple[np.ndarray, np.ndarray, int]:
    """Legacy layout: all hashes first, then all summaries."""
    size, vfmt, has_mode = _codec(summary)
    hashes = np.frombuffer(buf, dtype="<u8", count=count,
                           offset=offset).copy()
    soff = offset + count * 8
    raw = np.frombuffer(buf, dtype=np.uint8, count=count * size,
                        offset=soff).reshape(count, size)
    vwidth = int(np.dtype(vfmt).itemsize)
    values = raw[:, :vwidth].copy().view(vfmt).ravel().astype(
        np.int64 if vfmt == "<i4" else np.float64)
    mode = int(raw[0, vwidth]) if has_mode and count else 0
    return hashes, values, mode


def to_java_bytes(sk: TupleSketch, summary: str = "int_java") -> bytes:
    """Serialize to the reference's serVer-3 tuple CompactSketch image
    (tuple/CompactSketch.java toByteArray:199-249)."""
    size, vfmt, has_mode = _codec(summary)
    if sk.values.size and sk.values.shape[1] != 1:
        raise ValueError("generic tuple wire format carries exactly one "
                         "summary per key; use aod_to_java_bytes for "
                         "multi-dim values")
    count = sk.count
    estimating = sk.theta != MAX_THETA
    empty = count == 0 and not estimating
    single = count == 1 and not estimating
    pre_longs = 1 if (empty or single) else (3 if estimating else 2)
    flags = _F3_READ_ONLY | _F3_COMPACT | (_F3_EMPTY if empty else 0)
    out = [struct.pack("<BBBBBBH", pre_longs, 3, _FAMILY_TUPLE,
                       _TYPE_COMPACT, 0, flags, _DEFAULT_TUPLE_SEED_HASH)]
    if not empty and not single:
        out.append(struct.pack("<i4x", count))
        if estimating:
            out.append(struct.pack("<q", int(np.int64(np.uint64(sk.theta)))))
    if count:
        entry = np.zeros((count, 8 + size), dtype=np.uint8)
        entry[:, :8] = sk.hashes.astype("<u8")[:, None].view(np.uint8)
        vals = sk.values[:, 0].astype(vfmt)
        vwidth = int(np.dtype(vfmt).itemsize)
        entry[:, 8:8 + vwidth] = vals[:, None].view(np.uint8)
        if has_mode:
            from .tuple import _MODES
            entry[:, 8 + vwidth] = _MODES[sk.mode]
        out.append(entry.tobytes())
    return b"".join(out)


def from_java_bytes(buf: bytes, summary: str = "int_java",
                    seed: int = DEFAULT_UPDATE_SEED) -> TupleSketch:
    """Heapify a serVer 1/2/3 tuple CompactSketch image
    (tuple/CompactSketch.java:73-152; Sketches.heapifySketch).

    ``summary`` names the summary codec for serVer 2/3 images (the
    wire format does not identify it — the reference requires a
    SummaryDeserializer the same way).  serVer-1 images embed the
    summary class name; it overrides ``summary`` when recognized.
    """
    pre_longs, ser_ver, fam, typ = struct.unpack_from("<BBBB", buf)
    if fam != _FAMILY_TUPLE:
        raise ValueError(f"Invalid Family: expected TUPLE(9), got {fam}")
    if typ != _TYPE_COMPACT:
        got = _TYPE_NAMES[typ] if typ < len(_TYPE_NAMES) else typ
        raise ValueError(f"Sketch Type mismatch. Expected CompactSketch, "
                         f"got {got}")
    if ser_ver > 3:
        raise ValueError(f"Unsupported serial version: {ser_ver}")

    theta = MAX_THETA
    mode_code = 0
    if ser_ver <= 2:  # legacy formats
        flags = buf[4]
        off = 5
        empty = bool(flags & _FL_EMPTY)
        if flags & _FL_THETA:
            theta = np.uint64(struct.unpack_from("<Q", buf, off)[0])
            off += 8
        hashes = np.empty(0, np.uint64)
        values = np.empty((0, 1), np.float64)
        if flags & _FL_HAS_ENTRIES:
            name_len = 0
            if ser_ver == 1:
                name_len = buf[off]
                off += 1
            count = struct.unpack_from("<i", buf, off)[0]
            off += 4
            if ser_ver == 1:
                cls = buf[off:off + name_len].decode("utf-8", "replace")
                off += name_len
                if cls.endswith("DoubleSummary"):
                    summary = "double_java"
                elif cls.endswith("IntegerSummary"):
                    summary = "int_java"
            hashes, values, mode_code = _decode_split(buf, off, count,
                                                      summary)
            values = values[:, None]
    else:  # current serVer 3
        flags = buf[5]
        empty = bool(flags & _F3_EMPTY)
        off = 8
        count = 0
        if not empty:
            if pre_longs == 1:
                count = 1
            else:
                count = struct.unpack_from("<i", buf, off)[0]
                off += 8  # count + 4 unused
                if pre_longs > 2:
                    theta = np.uint64(struct.unpack_from("<Q", buf, off)[0])
                    off += 8
        hashes, values, mode_code = _decode_entries(buf, off, count, summary)
        values = values[:, None]

    return TupleSketch(_lg_k_for_count(len(hashes)),
                       compute_seed_hash(seed), theta, hashes, values,
                       _MODES_INV.get(mode_code, "Sum"))


# ---------------------------------------------------------------------------
# ArrayOfDoubles
# ---------------------------------------------------------------------------

def aod_to_java_bytes(sk: TupleSketch,
                      seed: int = DEFAULT_UPDATE_SEED) -> bytes:
    """Serialize to the AoD CompactSketch serVer-1 image
    (HeapArrayOfDoublesCompactSketch.java:165-195)."""
    count = sk.count
    n_values = sk.values.shape[1] if sk.values.ndim == 2 else 1
    flags = ((_FA_EMPTY if count == 0 and sk.theta == MAX_THETA else 0)
             | (_FA_HAS_ENTRIES if count else 0))
    out = [struct.pack("<BBBBBBHq", 1, 1, _FAMILY_TUPLE, _TYPE_AOD_COMPACT,
                       flags, n_values, compute_seed_hash(seed),
                       int(np.int64(np.uint64(sk.theta))))]
    if count:
        out.append(struct.pack("<i4x", count))
        out.append(sk.hashes.astype("<u8").tobytes())
        out.append(sk.values.astype("<f8").tobytes())
    return b"".join(out)


def _check_aod_header(buf: bytes, expected_type: int,
                      seed: int | None) -> tuple[int, int, int]:
    _pre, ser_ver, fam, typ, flags, n_values, seed_hash = \
        struct.unpack_from("<BBBBBBH", buf)
    if fam != _FAMILY_TUPLE:
        raise ValueError(f"Invalid Family: expected TUPLE(9), got {fam}")
    if typ != expected_type:
        got = _TYPE_NAMES[typ] if typ < len(_TYPE_NAMES) else typ
        raise ValueError(
            f"Sketch Type mismatch. Expected {_TYPE_NAMES[expected_type]}, "
            f"got {got}")
    if ser_ver != 1:
        raise ValueError(f"Serial version mismatch. Expected 1, "
                         f"actual: {ser_ver}")
    if seed is not None and seed_hash != compute_seed_hash(seed):
        raise ValueError("seed hash mismatch")
    return flags, n_values, seed_hash


def aod_from_java_bytes(buf: bytes,
                        seed: int | None = DEFAULT_UPDATE_SEED
                        ) -> TupleSketch:
    """Heapify an AoD CompactSketch serVer-1 image
    (HeapArrayOfDoublesCompactSketch.java:104-146)."""
    flags, n_values, _ = _check_aod_header(buf, _TYPE_AOD_COMPACT, seed)
    theta = np.uint64(struct.unpack_from("<Q", buf, 8)[0])
    hashes = np.empty(0, np.uint64)
    values = np.empty((0, n_values), np.float64)
    if flags & _FA_HAS_ENTRIES:
        count = struct.unpack_from("<i", buf, 16)[0]
        hashes = np.frombuffer(buf, "<u8", count=count, offset=24).copy()
        values = np.frombuffer(buf, "<f8", count=count * n_values,
                               offset=24 + count * 8
                               ).reshape(count, n_values).copy()
    return TupleSketch(_lg_k_for_count(len(hashes)),
                       compute_seed_hash(seed or DEFAULT_UPDATE_SEED),
                       theta, hashes, values, "Sum")


def _aod_qs_from_java_bytes(buf: bytes, seed: int | None) -> TupleSketch:
    """Heapify an AoD QuickSelectSketch (hash-table) image
    (HeapArrayOfDoublesQuickSelectSketch.java:85-116).  Zero keys are
    empty table slots and are dropped; retained entries come out
    sorted (our canonical compact order)."""
    flags, n_values, _ = _check_aod_header(buf, _TYPE_AOD_QS, seed)
    theta = np.uint64(struct.unpack_from("<Q", buf, 8)[0])
    lg_nom = buf[16]
    lg_cur_cap = buf[17]
    cap = 1 << lg_cur_cap
    count = struct.unpack_from("<i", buf, 24)[0]
    hashes = np.empty(0, np.uint64)
    values = np.empty((0, n_values), np.float64)
    if count:
        keys = np.frombuffer(buf, "<u8", count=cap, offset=32)
        vals = np.frombuffer(buf, "<f8", count=cap * n_values,
                             offset=32 + cap * 8).reshape(cap, n_values)
        live = keys != 0
        order = np.argsort(keys[live])
        hashes = keys[live][order].copy()
        values = vals[live][order].copy()
    return TupleSketch(int(lg_nom),
                       compute_seed_hash(seed or DEFAULT_UPDATE_SEED),
                       theta, hashes, values, "Sum")


def aod_union_from_java_bytes(buf: bytes,
                              seed: int | None = DEFAULT_UPDATE_SEED
                              ) -> tuple[TupleSketch, np.uint64]:
    """Heapify an AoD Union image -> (gadget sketch, union theta)
    (HeapArrayOfDoublesUnion.heapifyUnion).  Pre-1.0 images that
    serialized the bare gadget (type byte 2, e.g. the reference's
    ArrayOfDoublesUnion_v0.9.1.sk golden) raise the same
    type-mismatch error the reference raises."""
    _check_aod_header(buf, _TYPE_AOD_UNION, None)
    union_theta = np.uint64(struct.unpack_from("<Q", buf, 8)[0])
    gadget = _aod_qs_from_java_bytes(buf[16:], seed)
    return gadget, union_theta


def aod_union_to_java_bytes(sk: TupleSketch, union_theta: np.uint64 | None
                            = None, seed: int = DEFAULT_UPDATE_SEED,
                            lg_resize_factor: int = 3,
                            sampling_p: float = 1.0) -> bytes:
    """Serialize (gadget, union theta) to the AoD Union serVer-1 image
    (ArrayOfDoublesUnion.java:194-206).  The gadget is written as a
    minimal open-address table image whose capacity is the next power
    of two >= count (the reference accepts any lgCurCapacity)."""
    if union_theta is None:
        union_theta = sk.theta
    count = sk.count
    n_values = sk.values.shape[1] if sk.values.ndim == 2 else 1
    lg_cap = max(int(np.ceil(np.log2(max(count, 1) / 0.9375))), 5) \
        if count else 5
    cap = 1 << lg_cap
    keys = np.zeros(cap, dtype="<u8")
    vals = np.zeros((cap, n_values), dtype="<f8")
    if count:
        # Keys MUST sit at their open-address probe positions, not
        # densely at the front: the reference's
        # HeapArrayOfDoublesQuickSelectSketch(Memory) copies the table
        # verbatim and a resumed Union then probes from the key-derived
        # slot (HashOperations.hashInsertOnly: start = hash & mask,
        # odd stride from the next 7 hash bits — HashOperations.java:50,
        # 100-113).  A densely-packed image would make resumed unions
        # miss existing keys and silently insert duplicates.
        mask = cap - 1
        src_keys = sk.hashes.astype(np.uint64)
        src_vals = np.asarray(sk.values, dtype=np.float64).reshape(
            count, n_values)
        # vectorized fast path: every key whose home slot (h & mask) is
        # unique lands there in one scatter; only colliding keys walk
        # the probe sequence in Python (a handful at sane load factors)
        home = (src_keys & np.uint64(mask)).astype(np.int64)
        order = np.argsort(home, kind="stable")
        first_of_slot = np.ones(count, dtype=bool)
        first_of_slot[order[1:]] = home[order[1:]] != home[order[:-1]]
        keys[home[first_of_slot]] = src_keys[first_of_slot]
        vals[home[first_of_slot]] = src_vals[first_of_slot]
        for i in np.nonzero(~first_of_slot)[0]:
            h = int(src_keys[i])
            idx = h & mask
            stride = 2 * ((h >> lg_cap) & 0x7F) + 1
            while keys[idx] != 0:
                idx = (idx + stride) & mask
            keys[idx] = h
            vals[idx] = src_vals[i]
    gadget = [struct.pack("<BBBBBBHq", 1, 1, _FAMILY_TUPLE, _TYPE_AOD_QS,
                          (_FA_HAS_ENTRIES if count else 0)
                          | (0 if count else _FA_EMPTY),
                          n_values, compute_seed_hash(seed),
                          int(np.int64(np.uint64(sk.theta)))),
              struct.pack("<BBBxf", sk.lg_k, lg_cap, lg_resize_factor,
                          sampling_p),
              struct.pack("<i4x", count),
              keys.tobytes(), vals.tobytes()]
    pre = struct.pack("<BBBBBBHq", 1, 1, _FAMILY_TUPLE, _TYPE_AOD_UNION,
                      0, 0, 0, int(np.int64(np.uint64(union_theta))))
    return pre + b"".join(gadget)
