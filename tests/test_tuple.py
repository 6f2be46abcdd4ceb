"""Tuple sketch tests — mirrors the reference's tuple family tests
(tuple/UpdatableSketchTest, tuple/UnionTest, tuple/FilterTest,
tuple/aninteger summary modes)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from datasketches_java_spark.sketches import tuple as tpl


def test_exact_mode_estimate_and_sum():
    keys = np.arange(1000)
    vals = np.ones(1000) * 2.0
    sk = tpl.sketch_keyed_values(keys, vals, lg_k=12)
    assert sk.estimate() == pytest.approx(1000)
    assert sk.sum_values()[0] == pytest.approx(2000)


def test_duplicate_keys_combine_by_mode():
    keys = np.array([1, 1, 2, 2, 3])
    vals = np.array([5.0, 7.0, 1.0, 3.0, 9.0])
    assert tpl.sketch_keyed_values(keys, vals, mode="Sum").sum_values()[0] == 25
    assert tpl.sketch_keyed_values(keys, vals, mode="Min").sum_values()[0] == 5 + 1 + 9
    assert tpl.sketch_keyed_values(keys, vals, mode="Max").sum_values()[0] == 7 + 3 + 9
    assert tpl.sketch_keyed_values(keys, vals, mode="AlwaysOne").sum_values()[0] == 3


def test_union_sums_shared_keys():
    a = tpl.sketch_keyed_values(np.array([1, 2, 3]), np.array([1.0, 1.0, 1.0]))
    b = tpl.sketch_keyed_values(np.array([2, 3, 4]), np.array([10.0, 10.0, 10.0]))
    u = tpl.union(a, b)
    assert u.estimate() == pytest.approx(4)
    assert u.sum_values()[0] == pytest.approx(1 + 11 + 11 + 10)


def test_intersect_and_anotb():
    a = tpl.sketch_keyed_values(np.arange(100), np.ones(100))
    b = tpl.sketch_keyed_values(np.arange(50, 150), np.ones(100) * 2)
    i = tpl.intersect(a, b)
    d = tpl.a_not_b(a, b)
    assert i.estimate() == pytest.approx(50)
    assert i.sum_values()[0] == pytest.approx(150)  # 50 keys x (1+2)
    assert d.estimate() == pytest.approx(50)
    assert d.sum_values()[0] == pytest.approx(50)


def test_filter_on_summaries():
    sk = tpl.sketch_keyed_values(np.arange(10), np.arange(10).astype(float))
    f = sk.filter(lambda v: v[0] >= 5.0)
    assert f.count == 5
    assert f.sum_values()[0] == pytest.approx(5 + 6 + 7 + 8 + 9)


def test_estimation_mode_union_bounds():
    rng = np.random.default_rng(3)
    a_keys = rng.choice(200_000, 60_000, replace=False)
    b_keys = rng.choice(200_000, 60_000, replace=False)
    a = tpl.sketch_keyed_values(a_keys, np.ones(len(a_keys)), lg_k=12)
    b = tpl.sketch_keyed_values(b_keys, np.ones(len(b_keys)), lg_k=12)
    u = tpl.union(a, b)
    exact = len(set(a_keys) | set(b_keys))
    assert abs(u.estimate() - exact) / exact < 0.05
    # Sum-mode total ≈ total update rows (each key's value = its
    # multiplicity across the two sets)
    total = len(a_keys) + len(b_keys)
    assert abs(u.sum_values()[0] - total) / total < 0.05


def test_serde_roundtrip():
    sk = tpl.sketch_keyed_values(np.arange(500), np.arange(500).astype(float),
                                 mode="Max")
    rt = tpl.TupleSketch.from_bytes(sk.to_bytes())
    assert rt.mode == "Max" and rt.count == sk.count
    assert np.array_equal(rt.hashes, sk.hashes)
    assert np.array_equal(rt.values, sk.values)
    assert rt.estimate() == sk.estimate()


def test_theta_interop():
    from datasketches_java_spark.sketches import theta
    keys = np.arange(300)
    t_sk = theta.sketch_longs(keys, 12)
    tup = tpl.sketch_keyed_values(keys, np.ones(300), lg_k=12)
    assert np.array_equal(tup.as_theta().hashes, t_sk.hashes)


def test_tuple_agg_spark(spark):
    """Distributed tuple agg: distinct customers + Σ per-customer spend
    (exact mode) vs exact SQL semantics computed in pandas."""
    from datasketches_java_spark.functions.sketch_aggs import (
        tuple_estimate, tuple_sketch_agg, tuple_sum_value)
    rows = [(i % 7, i % 500, float(i % 13)) for i in range(5000)]
    df = spark.createDataFrame(rows, "g int, cust long, spend double")
    sk = tuple_sketch_agg(df, "cust", ["spend"], by=["g"], lg_k=12)
    got = {r["g"]: (int(round(r["d"])), round(r["s"], 6)) for r in sk.select(
        "g", tuple_estimate("tuple_sketch").alias("d"),
        tuple_sum_value(0)("tuple_sketch").alias("s")).collect()}
    import collections
    want_d = collections.defaultdict(set)
    want_s = collections.defaultdict(float)
    for g, c, s in rows:
        want_d[g].add(c)
        want_s[g] += s
    for g in want_d:
        assert got[g][0] == len(want_d[g])
        assert got[g][1] == pytest.approx(want_s[g])


def test_fdt_topk_spark(spark):
    from datasketches_java_spark.functions.sketch_aggs import fdt_topk
    rows = [("a", i) for i in range(50)] + [("b", i) for i in range(20)] + \
           [("c", 1)] * 30
    df = spark.createDataFrame(rows, "p string, r long")
    got = [(r["p"], r["distinct_rest"]) for r in
           fdt_topk(df, ["p"], "r", k=3).collect()]
    assert got == [("a", 50), ("b", 20), ("c", 1)]


def test_int64_summaries_exact_and_order_insensitive():
    """int64 Sum-mode summaries stay integer end-to-end (the driver's
    tuple_spend_by_nation contract): any chunking/merge order yields
    the bit-identical int64 total."""
    rng = np.random.default_rng(7)
    keys = rng.integers(0, 2000, 10_000)
    cents = rng.integers(1, 10_000_000, 10_000)
    want = {}
    for k, c in zip(keys, cents):
        want[k] = want.get(k, 0) + int(c)
    total = sum(want.values())
    chunks = [tpl.sketch_keyed_values(keys[i::5], cents[i::5], lg_k=12,
                                      values_dtype=np.int64)
              for i in range(5)]
    for order in ([0, 1, 2, 3, 4], [4, 2, 0, 3, 1]):
        u = tpl.union_many([chunks[i] for i in order])
        assert u.values.dtype == np.int64
        assert int(u.sum_values()[0]) == total
    rt = tpl.TupleSketch.from_bytes(tpl.union_many(chunks).to_bytes())
    assert rt.values.dtype == np.int64
    assert int(rt.sum_values()[0]) == total


def test_tuple_jaccard_api():
    """Direct tuple Jaccard + tuple×theta mixed forms
    (tuple/JaccardSimilarity.java:41,62,126 thresholds)."""
    from datasketches_java_spark.sketches import theta
    k = 1 << 12
    a = tpl.sketch_keyed_values(np.arange(k), np.ones(k), lg_k=12)
    b = tpl.sketch_keyed_values(np.arange(k), np.ones(k) * 7, lg_k=12)
    lb, est, ub = tpl.jaccard(a, b)
    assert est > 0.9999 and tpl.exactly_equal(a, b)
    assert tpl.similarity_test(a, b, 0.9999)
    # one-element difference is detected at k=4096 (reference test shape)
    c = tpl.sketch_keyed_values(np.arange(1, k + 1), np.ones(k), lg_k=12)
    assert not tpl.exactly_equal(a, c)
    _, est_ac, _ = tpl.jaccard(a, c)
    assert est_ac < 1.0
    # tuple × theta mixed operands share the hash space
    th = theta.sketch_longs(np.arange(k), 12)
    _, est_mixed, _ = tpl.jaccard(a, th)
    assert est_mixed > 0.9999
    assert tpl.dissimilarity_test(
        a, tpl.sketch_keyed_values(np.arange(k, 2 * k), np.ones(k), lg_k=12),
        0.05)


def _tuple_agg(spark, rows, key_type):
    from datasketches_java_spark.functions.sketch_aggs import (
        tuple_estimate, tuple_sketch_agg, tuple_sum_value)
    df = spark.createDataFrame(rows, f"k {key_type}, v double")
    sk = tuple_sketch_agg(df, "k", ["v"], lg_k=12)
    return sk.select("tuple_sketch",
                     tuple_estimate("tuple_sketch").alias("d"),
                     tuple_sum_value(0)("tuple_sketch").alias("s")).head()


def test_tuple_agg_skips_null_keys_with_their_values(spark):
    r = _tuple_agg(spark, [(1, 1.0), (None, 2.0)], "long")
    assert (r.d, r.s) == (1.0, 1.0)


def test_tuple_agg_double_keys_stay_distinct(spark):
    r = _tuple_agg(spark, [(0.25, 1.0), (0.5, 2.0), (0.75, 4.0)], "double")
    assert (r.d, r.s) == (3.0, 7.0)


def test_tuple_agg_string_keys(spark):
    r = _tuple_agg(spark, [("a", 1.0), ("b", 2.0), ("a", 4.0), ("", 8.0),
                           (None, 16.0)], "string")
    assert (r.d, r.s) == (2.0, 7.0)


def test_tuple_agg_bigint_image_equals_numpy_build(spark):
    rows = [(i % 97, float(i % 7)) for i in range(3000)]
    r = _tuple_agg(spark, rows, "long")
    keys, vals = np.array(rows).T
    want = tpl.sketch_keyed_values(keys.astype(np.int64), vals, lg_k=12)
    assert bytes(r.tuple_sketch) == want.to_bytes()
