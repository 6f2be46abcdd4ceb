"""Pure-SQL surface (functions/sql_registry.py): the Hive-adaptor-style
entry point — every family reachable from spark.sql() text."""

from __future__ import annotations

import pytest

from datasketches_java_spark.functions.sql_registry import (
    register_sql_functions)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def sql(spark):
    register_sql_functions(spark)
    for t in ("customer", "orders", "lineitem"):
        spark.read.parquet(f"{SF}/{t}.parquet").createOrReplaceTempView(t)
    return spark.sql


def test_theta_build_estimate_exact_mode(sql):
    got = sql("""
        SELECT c_nationkey,
               CAST(theta_sketch_estimate(theta_sketch_build(c_custkey))
                    AS BIGINT) d
        FROM customer GROUP BY 1 ORDER BY 1""").collect()
    exact = sql("""
        SELECT c_nationkey, COUNT(DISTINCT c_custkey) d
        FROM customer GROUP BY 1 ORDER BY 1""").collect()
    assert [(r[0], r[1]) for r in got] == [(r[0], r[1]) for r in exact]


def test_theta_union_agg_rollup(sql):
    """Two-level SQL rollup: per-nation sketches union to the global
    distinct count — the re-aggregation the sketch exists for."""
    total = sql("""
        SELECT CAST(theta_sketch_estimate(theta_sketch_union(sk))
                    AS BIGINT) d
        FROM (SELECT c_nationkey, theta_sketch_build(c_custkey) sk
              FROM customer GROUP BY 1)""").collect()[0][0]
    exact = sql("SELECT COUNT(DISTINCT c_custkey) FROM customer"
                ).collect()[0][0]
    assert total == exact


def test_theta_set_ops_and_bounds(sql):
    row = sql("""
        WITH h AS (SELECT theta_sketch_build(o_custkey) sk,
                          o_orderkey % 2 half
                   FROM orders GROUP BY 2)
        SELECT CAST(theta_sketch_estimate(
                   theta_sketch_union_pair(a.sk, b.sk)) AS BIGINT) u,
               theta_sketch_estimate(theta_sketch_intersect(a.sk, b.sk)) i,
               theta_sketch_jaccard(a.sk, b.sk) j,
               theta_sketch_lower_bound(a.sk) lb,
               theta_sketch_upper_bound(a.sk) ub
        FROM h a JOIN h b ON a.half = 0 AND b.half = 1""").collect()[0]
    exact_u = sql("SELECT COUNT(DISTINCT o_custkey) FROM orders"
                  ).collect()[0][0]
    assert row["u"] == exact_u
    assert 0.0 <= row["j"] <= 1.0
    assert row["lb"] <= row["ub"]


def test_hll_cpc_estimates(sql):
    row = sql("""
        SELECT hll_sketch_estimate(hll_sketch_build(o_custkey)) h,
               cpc_sketch_estimate(cpc_sketch_build(o_custkey)) c
        FROM orders""").collect()[0]
    exact = sql("SELECT COUNT(DISTINCT o_custkey) FROM orders"
                ).collect()[0][0]
    assert abs(row["h"] - exact) / exact < 0.05
    assert abs(row["c"] - exact) / exact < 0.05


def test_kll_quantile_rank_minmax(sql):
    row = sql("""
        WITH s AS (SELECT kll_sketch_build(c_acctbal) sk FROM customer)
        SELECT kll_sketch_quantile(sk, 0.5) med,
               kll_sketch_rank(sk, kll_sketch_quantile(sk, 0.5)) r,
               kll_sketch_min(sk) lo, kll_sketch_max(sk) hi,
               kll_sketch_n(sk) n
        FROM s""").collect()[0]
    assert row["lo"] <= row["med"] <= row["hi"]
    assert abs(row["r"] - 0.5) < 0.05
    exact_n = sql("SELECT COUNT(c_acctbal) FROM customer").collect()[0][0]
    assert row["n"] == exact_n


def test_kll_merge_images(sql):
    """kll_sketch_merge re-aggregates per-group images; n is exact."""
    row = sql("""
        SELECT kll_sketch_n(kll_sketch_merge(sk)) n
        FROM (SELECT c_nationkey, kll_sketch_build(c_acctbal) sk
              FROM customer GROUP BY 1)""").collect()[0]
    exact_n = sql("SELECT COUNT(c_acctbal) FROM customer").collect()[0][0]
    assert row["n"] == exact_n


def test_frequent_strings_roundtrip(sql):
    rows = sql("""
        WITH s AS (SELECT frequent_strings_sketch_build(o_orderpriority) sk
                   FROM orders)
        SELECT explode(frequent_strings_sketch_result(sk, 0)) it FROM s
    """).collect()
    got = {r["it"]["item"]: r["it"]["estimate"] for r in rows}
    exact = {r[0]: r[1] for r in sql(
        "SELECT o_orderpriority, COUNT(*) FROM orders GROUP BY 1"
    ).collect()}
    # exact-mode map (5 priorities << map size): estimates are counts
    assert got == exact


def test_registry_returns_names(spark):
    names = register_sql_functions(spark)
    assert "theta_sketch_build" in names and len(names) == 25


def test_union_aggs_survive_all_null_groups(sql, spark):
    """Outer-join shape: a group whose sketch column is entirely NULL
    must union to an empty sketch (estimate 0), not crash."""
    spark.createDataFrame(
        [(1, None), (2, None)], "g int, sk binary"
    ).createOrReplaceTempView("null_partials")
    row = sql("""
        SELECT theta_sketch_estimate(theta_sketch_union(sk)) t,
               hll_sketch_estimate(hll_sketch_union(sk)) h
        FROM null_partials""").collect()[0]
    assert row["t"] == 0.0 and row["h"] == 0.0


def test_theta_build_on_binary_column(sql, spark):
    """BINARY columns hash raw bytes (update(byte[]) parity with the
    DataFrame agg), including non-UTF8 payloads; empties rejected."""
    rows = [(i, bytes([0xFF, 0xFE, i % 5])) for i in range(40)]
    rows += [(99, b"")]
    spark.createDataFrame(rows, "id int, blob binary") \
        .createOrReplaceTempView("blobs")
    est = sql("""
        SELECT CAST(theta_sketch_estimate(theta_sketch_build(blob))
                    AS BIGINT) d FROM blobs""").collect()[0]["d"]
    assert est == 5   # 5 distinct non-empty payloads, b'' rejected


IMAGE_SCALARS = [
    "theta_sketch_estimate(sk)", "theta_sketch_lower_bound(sk)",
    "theta_sketch_upper_bound(sk)", "theta_sketch_union_pair(sk, sk)",
    "theta_sketch_intersect(sk, sk)", "theta_sketch_a_not_b(sk, sk)",
    "theta_sketch_jaccard(sk, sk)", "theta_sketch_to_java(sk)",
    "theta_sketch_from_java(sk)", "hll_sketch_estimate(sk)",
    "cpc_sketch_estimate(sk)", "kll_sketch_quantile(sk, 0.5)",
    "kll_sketch_rank(sk, 1.0)", "kll_sketch_n(sk)", "kll_sketch_min(sk)",
    "kll_sketch_max(sk)", "frequent_strings_sketch_result(sk, 0)"]


def test_scalars_return_null_for_null_images(sql, spark):
    """A NULL image (outer-join side, empty group) gives NULL from every
    scalar that reads an image, not an error in the Python worker."""
    spark.createDataFrame([(None,)] * 3, "sk binary") \
        .createOrReplaceTempView("null_images")
    rows = sql(f"SELECT {', '.join(IMAGE_SCALARS)} FROM null_images").collect()
    assert len(rows) == 3
    assert all(v is None for r in rows for v in r), rows


def test_null_images_beside_valid_ones(sql):
    rows = sql("""
        SELECT kll_sketch_quantile(sk, 0.5) q, kll_sketch_n(sk) n
        FROM (SELECT kll_sketch_build(c_acctbal) sk FROM customer
              UNION ALL SELECT CAST(NULL AS BINARY) sk)""").collect()
    exact_n = sql("SELECT COUNT(c_acctbal) FROM customer").collect()[0][0]
    got = {r["n"]: r["q"] for r in rows}
    assert set(got) == {exact_n, None}
    assert got[None] is None and got[exact_n] is not None
