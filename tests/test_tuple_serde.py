"""Cross-language tuple-serde proof: heapify the reference's OWN
golden .sk binaries (src/test/resources) and assert the same facts its
tests assert (tuple/SerialVersion3Test.java,
tuple/CompactSketchWithDoubleSummaryTest.java:192-206,
tuple/arrayofdoubles/ArrayOfDoublesUnionTest.java:204-215), plus
round-trips through our writers."""

from __future__ import annotations

import os

import numpy as np
import pytest

from datasketches_java_spark.sketches import tuple as tp
from datasketches_java_spark.sketches import tuple_serde as ts
from datasketches_java_spark.sketches.theta import MAX_THETA

RES = "/root/reference/src/test/resources"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(RES), reason="reference resources not available")


def _golden(name: str) -> bytes:
    with open(os.path.join(RES, name), "rb") as f:
        return f.read()


# -- the reference's serVer-3 C++ goldens (SerialVersion3Test.java) --------

def test_empty_from_cpp():
    sk = ts.from_java_bytes(_golden("tuple-int-empty-cpp.sk"),
                            summary="int_cpp")
    assert sk.count == 0
    assert sk.theta == MAX_THETA          # not estimation mode
    assert sk.estimate() == 0.0


def test_single_item_from_cpp():
    sk = ts.from_java_bytes(_golden("tuple-int-single-cpp.sk"),
                            summary="int_cpp")
    assert sk.count == 1
    assert sk.theta == MAX_THETA
    assert sk.estimate() == 1.0
    assert sk.values.shape == (1, 1)
    assert sk.values[0, 0] == 1


def test_exact_mode_from_cpp():
    sk = ts.from_java_bytes(_golden("tuple-int-two-cpp.sk"),
                            summary="int_cpp")
    assert sk.count == 2
    assert sk.theta == MAX_THETA
    assert sk.values.dtype == np.int64
    assert list(sk.values[:, 0]) == [1, 1]


def test_estimation_mode_from_cpp():
    sk = ts.from_java_bytes(_golden("tuple-int-est-trim-cpp.sk"),
                            summary="int_cpp")
    assert sk.count == 4096
    assert sk.theta < MAX_THETA           # estimation mode
    # built from 2**13 distinct keys then trimmed to k=4096:
    # the theta estimate must recover ~8192 within the 2sigma envelope
    est = sk.estimate()
    assert abs(est - 8192) / 8192 < 0.05
    assert (sk.values[:, 0] == 1).all()
    # retained hashes are a compact image: sorted, unique, below theta
    assert (np.diff(sk.hashes.astype(np.uint64)) > 0).all()
    assert (sk.hashes < sk.theta).all()


# -- serVer-2 legacy golden (SerialVersion3Test.version2Compatibility) -----

def test_ser_ver2_legacy_golden():
    sk = ts.from_java_bytes(
        _golden("TupleWithTestIntegerSummary4kTrimmedSerVer2.sk"),
        summary="int_cpp")
    ref = ts.from_java_bytes(_golden("tuple-int-est-trim-cpp.sk"),
                             summary="int_cpp")
    # the reference test builds the identical sketch and compares
    # retained entries / theta / flags — the cpp serVer-3 golden is
    # that same construction, so the two images must agree exactly
    assert sk.count == ref.count == 4096
    assert sk.theta == ref.theta
    assert sk.theta < MAX_THETA


# -- serVer-1 golden with embedded summary class name ----------------------

def test_ser_ver1_double_summary_golden():
    sk = ts.from_java_bytes(
        _golden("CompactSketchWithDoubleSummary4K_serialVersion1.sk"))
    # CompactSketchWithDoubleSummaryTest.serialVersion1Compatibility
    assert sk.count == 4096
    assert sk.theta < MAX_THETA
    assert abs(sk.estimate() - 8192) / 8192 < 0.05
    assert sk.values.dtype == np.float64
    assert (sk.values[:, 0] == 1.0).all()     # every summary value 1.0


# -- ArrayOfDoubles v0.9.1: reference rejects it, so do we ----------------

def test_aod_union_v091_rejected():
    buf = _golden("ArrayOfDoublesUnion_v0.9.1.sk")
    with pytest.raises(ValueError, match="Sketch Type mismatch"):
        ts.aod_union_from_java_bytes(buf)


# -- round-trips through our writers ---------------------------------------

def _build(n: int, mode: str = "Sum", dtype=np.int64, dims: int = 1,
           lg_k: int = 12) -> tp.TupleSketch:
    keys = np.arange(n, dtype=np.int64)
    vals = np.ones((n, dims), dtype=dtype)
    return tp.sketch_keyed_values(keys, vals if dims > 1 else vals[:, 0],
                                  lg_k=lg_k, mode=mode, values_dtype=dtype)


@pytest.mark.parametrize("n", [0, 1, 2, 100, 10000])
@pytest.mark.parametrize("summary", ["int_cpp", "int_java"])
def test_roundtrip_int(n, summary):
    sk = _build(n)
    back = ts.from_java_bytes(ts.to_java_bytes(sk, summary), summary)
    assert back.count == sk.count
    assert back.theta == sk.theta
    assert (back.hashes == sk.hashes).all()
    assert (back.values == sk.values).all()
    if summary == "int_java":
        assert back.mode == sk.mode


@pytest.mark.parametrize("n", [0, 1, 3, 9000])
def test_roundtrip_double(n):
    sk = _build(n, dtype=np.float64)
    back = ts.from_java_bytes(ts.to_java_bytes(sk, "double_java"),
                              "double_java")
    assert back.count == sk.count
    assert back.theta == sk.theta
    assert (back.hashes == sk.hashes).all()
    assert (back.values == sk.values).all()


@pytest.mark.parametrize("n,dims", [(0, 1), (1, 1), (100, 3), (9000, 2)])
def test_roundtrip_aod_compact(n, dims):
    sk = _build(n, dtype=np.float64, dims=dims)
    back = ts.aod_from_java_bytes(ts.aod_to_java_bytes(sk))
    assert back.count == sk.count
    assert back.theta == sk.theta
    assert back.values.shape == sk.values.shape
    assert (back.hashes == sk.hashes).all()
    assert (back.values == sk.values).all()


@pytest.mark.parametrize("n,dims", [(0, 1), (5, 2), (9000, 1)])
def test_roundtrip_aod_union(n, dims):
    sk = _build(n, dtype=np.float64, dims=dims)
    img = ts.aod_union_to_java_bytes(sk)
    gadget, union_theta = ts.aod_union_from_java_bytes(img)
    assert union_theta == sk.theta
    assert gadget.count == sk.count
    assert (gadget.hashes == sk.hashes).all()
    assert (gadget.values == sk.values).all()


@pytest.mark.parametrize("n,dims", [(5, 2), (100, 1), (9000, 1)])
def test_aod_union_keys_at_probe_positions(n, dims):
    """A datasketches-java consumer resuming a Union probes the gadget
    table with HashOperations.hashSearch (start = hash & mask, odd
    stride from the next 7 hash bits; HashOperations.java:50,65-84).
    Every serialized key must therefore be reachable from its probe
    sequence WITHOUT crossing an empty slot — otherwise the resumed
    union treats it as absent and silently inserts a duplicate."""
    import struct as _struct

    sk = _build(n, dtype=np.float64, dims=dims)
    img = ts.aod_union_to_java_bytes(sk)
    gadget = img[16:]
    n_values = gadget[5]
    lg_cap = gadget[17]
    cap = 1 << lg_cap
    count = _struct.unpack_from("<i", gadget, 24)[0]
    keys = np.frombuffer(gadget, "<u8", count=cap, offset=32)
    assert count == sk.count
    mask = cap - 1
    for h in keys[keys != 0]:
        h = int(h)
        idx = h & mask
        stride = 2 * ((h >> lg_cap) & 0x7F) + 1
        loop = idx
        while True:
            assert keys[idx] != 0, f"empty slot hit before key {h:#x}"
            if int(keys[idx]) == h:
                break
            idx = (idx + stride) & mask
            assert idx != loop, "probe wrapped without finding key"
    # values stay aligned with their keys
    vals = np.frombuffer(gadget, "<f8", count=cap * n_values,
                         offset=32 + cap * 8).reshape(cap, n_values)
    live = keys != 0
    order = np.argsort(keys[live])
    assert (keys[live][order] == sk.hashes).all()
    assert (vals[live][order] == sk.values).all()


def test_seed_hash_checked_on_aod():
    sk = _build(10, dtype=np.float64)
    img = ts.aod_to_java_bytes(sk, seed=9001)
    with pytest.raises(ValueError, match="seed hash"):
        ts.aod_from_java_bytes(img, seed=1234)
    # and skippable, like the reference's explicit-seed overloads
    ts.aod_from_java_bytes(img, seed=None)


def test_heapified_golden_merges_with_engine_sketch():
    """Through-the-wire algebra: union a heapified C++ golden with an
    engine-built sketch over the theta hash space (tuple/Union.java)."""
    golden = ts.from_java_bytes(_golden("tuple-int-est-trim-cpp.sk"),
                                summary="int_cpp")
    ours = _build(1000)
    merged = tp.union(golden, ours)
    assert merged.count > 0
    assert merged.theta <= golden.theta
    # estimate must cover the disjoint-union cardinality loosely
    assert merged.estimate() > golden.estimate() * 0.9


def test_spark_udf_wire_roundtrip(spark):
    """tuple_sketch_agg → to-java → from-java → same totals (the
    interop path a datasketches-java consumer would hit)."""
    from pyspark.sql import functions as F

    from datasketches_java_spark.functions.sketch_aggs import (
        aod_from_java, aod_to_java, tuple_from_java, tuple_sketch_agg,
        tuple_sum_value_long, tuple_to_java)

    df = spark.createDataFrame(
        [(i % 97, (i % 7) + 1) for i in range(3000)], ["k", "v"])
    sk = tuple_sketch_agg(df, "k", ["v"], lg_k=12, values_dtype="long")
    wire = sk.select(
        tuple_from_java("int_java")(tuple_to_java("int_java")("tuple_sketch"))
        .alias("tuple_sketch"))
    total = wire.select(
        tuple_sum_value_long(0)("tuple_sketch").alias("t")).head()[0]
    exact = df.groupBy("k").agg(F.max("v")).count()  # sanity: 97 keys
    assert exact == 97
    # sum over distinct keys of summed v
    expected = (df.groupBy("k").agg(F.sum("v").alias("s"))
                .agg(F.sum("s")).head()[0])
    assert total == expected

    skd = tuple_sketch_agg(df.withColumn("v", F.col("v").cast("double")),
                           "k", ["v"], lg_k=12)
    wired = skd.select(aod_from_java(aod_to_java("tuple_sketch"))
                       .alias("tuple_sketch"))
    totald = wired.select(
        tuple_sum_value_long(0)("tuple_sketch").alias("t")).head()[0]
    assert totald == expected
