"""Differential test of the two sketch surfaces: the DataFrame two-phase
aggs (functions/sketch_aggs), the SQL ``*_build`` aggregates
(functions/sql_registry) and the numpy cores must agree.

Theta, HLL and CPC images must be byte-identical across all three for
every input type the reference's ``update`` overloads take: BIGINT
(NULLs, values above 2^53), INT, DOUBLE (−0.0 = 0.0, NaN), STRING
(with ''), BINARY (non-UTF-8 payloads, b'') and an all-NULL group.
The numpy side hashes strings and bytes with the scalar murmur3, not
the batch kernel the surfaces use.  KLL and frequent items must agree
on n, min, max, quantiles and item estimates.

Byte identity across surfaces holds for theta, HLL and CPC, and for
KLL only in exact mode.  Once a key holds more than level 0's capacity
(k = 200), the DataFrame agg merges per-batch partials while the SQL
aggregate updates one sketch, so they compact in a different order and
their images differ; both must still answer within KLL's rank error.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pytest

from datasketches_java_spark.config import DEFAULT_UPDATE_SEED as SEED
from datasketches_java_spark.functions import sketch_aggs as A
from datasketches_java_spark.functions.sql_registry import (
    register_sql_functions)
from datasketches_java_spark.sketches import cpc, hll, kll, theta
from datasketches_java_spark.sketches.frequencies import ItemsSketch
from datasketches_java_spark.sketches.hash_adaptors import canonical_double_bits
from datasketches_java_spark.sketches.kll import KllDoublesSketch
from datasketches_java_spark.sketches.murmur3 import hash128_bytes

BIG = 2 ** 60
# a NaN with sign bit and payload set: not the canonical NaN
NAN_ODD = struct.unpack("<d", struct.pack("<Q", 0xFFF8000000000001))[0]
ROWS = [
    # g, l (BIGINT), i (INT), d (DOUBLE), s (STRING), b (BINARY)
    (0, BIG + 1, 1, 0.0, "a", b"\xff\xfe"),
    (0, BIG + 3, 2, -0.0, "", b""),
    (0, None, 1, float("nan"), "wörd", b"\x00"),
    (0, BIG + 1, None, NAN_ODD, None, None),
    (0, -5, -7, 1.5, "a", b"\xff\xfe"),
    (0, 2 ** 53 + 1, 3, None, "x" * 40, bytes(range(200, 256))),
    (1, 7, 7, 2.5, "b", b"\x80"),
    (1, None, None, -2.5, "b", b"\x80\x81"),
    (2, None, None, None, None, None),           # all-NULL group
]
SCHEMA = "g int, l bigint, i int, d double, s string, b binary"
COLS = ("l", "i", "d", "s", "b")
AGG = {"theta": A.theta_sketch_agg, "hll": A.hll_sketch_agg,
       "cpc": A.cpc_sketch_agg}


def _core_image(fam: str, col: str, values: list) -> bytes:
    """The numpy core's image of one group's values."""
    vals = [v for v in values if v is not None]
    if col in ("s", "b"):
        raw = [v.encode("utf-8") if col == "s" else v for v in vals]
        pairs = [hash128_bytes(r, SEED) for r in raw if r]
        h1 = np.array([p[0] for p in pairs], dtype=np.uint64)
        h2 = np.array([p[1] for p in pairs], dtype=np.uint64)
        return {"theta": lambda: theta.from_update_hashes(h1 >> np.uint64(1)),
                "hll": lambda: hll.from_hash_pair(h1, h2, 12),
                "cpc": lambda: cpc.from_hash_pair(h1, h2, 11)}[fam]().to_bytes()
    if col == "d":
        if fam == "theta":
            return theta.sketch_doubles(np.array(vals, np.float64)).to_bytes()
        longs = canonical_double_bits(np.array(vals, np.float64))
    else:
        longs = np.array(vals, dtype=np.int64)
    return {"theta": theta.sketch_longs, "hll": hll.sketch_longs,
            "cpc": cpc.sketch_longs}[fam](longs).to_bytes()


@pytest.fixture(scope="module")
def typed(spark):
    register_sql_functions(spark)
    # one partition, so NULLs share an Arrow batch with the other values
    df = spark.createDataFrame(ROWS, SCHEMA).coalesce(1)
    df.createOrReplaceTempView("typed_parity")
    return df


@pytest.mark.parametrize("fam", sorted(AGG))
def test_distinct_images_identical_across_surfaces(spark, typed, fam):
    sql = ", ".join(f"{fam}_sketch_build({c}) AS {c}" for c in COLS)
    sql_rows = {r["g"]: r for r in spark.sql(
        f"SELECT g, {sql} FROM typed_parity GROUP BY g").collect()}
    for col in COLS:
        df_rows = {r["g"]: bytes(r[1]) for r in AGG[fam](
            typed, col, by=["g"]).collect()}
        assert set(df_rows) == set(sql_rows) == {0, 1, 2}
        for g in df_rows:
            want = _core_image(fam, col, [r[COLS.index(col) + 1]
                                          for r in ROWS if r[0] == g])
            assert df_rows[g] == want, (fam, col, g, "DataFrame")
            assert bytes(sql_rows[g][col]) == want, (fam, col, g, "SQL")


def test_distinct_counts_follow_reference_overloads(spark, typed):
    """Group 0 by hand: BIGINT above 2^53 keeps full precision, −0.0
    and 0.0 are one value, both NaNs are one value, '' and b'' are
    rejected."""
    est = {c: theta.ThetaSketch.from_bytes(bytes(
        A.theta_sketch_agg(typed.filter("g = 0"), c).first()[0])).estimate()
        for c in COLS}
    assert est == {"l": 4.0, "i": 4.0, "d": 3.0, "s": 3.0, "b": 3.0}


def test_prehashed_bigint_with_nulls(spark):
    """63-bit update hashes in a BIGINT column holding a NULL reach the
    builder as int64, not float64."""
    df = spark.createDataFrame([(BIG + 1,), (BIG + 3,), (None,)],
                               "h bigint").coalesce(1)
    img = bytes(A.theta_sketch_agg(df, "h", prehashed=True).first()[0])
    want = theta.from_update_hashes(np.array([BIG + 1, BIG + 3], np.uint64))
    assert img == want.to_bytes()


def test_kll_and_frequent_items_agree_across_surfaces(spark, typed):
    ranks = (0.0, 0.25, 0.5, 0.75, 1.0)
    sql_rows = {r["g"]: r for r in spark.sql(
        "SELECT g, kll_sketch_build(d) AS kll, kll_sketch_build(l) AS kll_l, "
        "frequent_strings_sketch_build(s) AS freq "
        "FROM typed_parity GROUP BY g").collect()}
    for col, sql_col in (("d", "kll"), ("l", "kll_l")):
        for r in A.kll_sketch_agg(typed, col, by=["g"]).collect():
            a = KllDoublesSketch.from_bytes(bytes(r[1]))
            b = KllDoublesSketch.from_bytes(bytes(sql_rows[r[0]][sql_col]))
            vals = [float(x[COLS.index(col) + 1]) for x in ROWS
                    if x[0] == r[0] and x[COLS.index(col) + 1] is not None]
            vals = [v for v in vals if v == v]          # NaN skipped
            assert a.n == b.n == len(vals)
            if vals:
                assert a.min_value == b.min_value == min(vals)
                assert a.max_value == b.max_value == max(vals)
                assert a.quantiles(list(ranks)) == b.quantiles(list(ranks))
    for r in A.freq_sketch_agg(typed, "s", by=["g"]).collect():
        a = ItemsSketch.from_bytes(bytes(r[1]))
        b = ItemsSketch.from_bytes(bytes(sql_rows[r[0]]["freq"]))
        items = [x[4] for x in ROWS if x[0] == r[0] and x[4] is not None]
        for it in set(items) | {"zzz"}:
            assert a.estimate(it) == b.estimate(it) == items.count(it)


def test_kll_estimation_mode_within_rank_error(spark):
    """A 5,000-value group, spread over four partitions: both surfaces'
    quantiles at 0.01..0.99 lie within rank_error(200) of exact ranks."""
    register_sql_functions(spark)
    vals = np.random.default_rng(17).normal(size=5000)
    df = spark.createDataFrame([(1, float(v)) for v in vals],
                               "g int, d double").repartition(4)
    df.createOrReplaceTempView("kll_estimation")
    sql_img = spark.sql("SELECT kll_sketch_build(d) FROM kll_estimation "
                        "GROUP BY g").first()[0]
    df_img = A.kll_sketch_agg(df, "d", by=["g"]).first()[1]
    ranks = [i / 100 for i in range(1, 100)]
    exact = np.sort(vals)
    eps = kll.rank_error(200)
    for img in (df_img, sql_img):
        sk = KllDoublesSketch.from_bytes(bytes(img))
        assert sk.n == 5000 and sk._total_retained() < 5000
        true = np.searchsorted(exact, sk.quantiles(ranks), side="right") / 5000
        assert np.abs(true - np.array(ranks)).max() <= eps


def test_unsupported_type_raises_naming_it():
    from datasketches_java_spark.functions.sketch_spec import hash_pairs
    with pytest.raises(TypeError, match="bool"):
        hash_pairs(pa.array([True, False]), SEED)
    with pytest.raises(TypeError, match="date32"):
        hash_pairs(pa.array([0], pa.date32()), SEED)


def test_unsupported_type_fails_the_spark_job(spark):
    df = spark.createDataFrame([(True,), (False,)], "f boolean")
    with pytest.raises(Exception, match="cannot sketch values of type bool"):
        A.hll_sketch_agg(df, "f").collect()
