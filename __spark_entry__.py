"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)          — flagship near-dup pipeline on sf0.001 documents.
queries()/oracle_sql()— operator-level correctness surface: each Spark
                        program is checked by the driver against the
                        DuckDB oracle at sf0.01 (row-count + schema +
                        order-insensitive value hash).

Design notes for oracle matching:
  - Sketch queries use exact-mode configs at this SF (distinct counts
    below k, KLL n below capacity, frequent-items below purge) so the
    sketch answer equals the exact SQL answer; estimation-mode accuracy
    is covered by pytest with analytic tolerances (SURVEY.md §5).
  - Ratios (Jaccard) are emitted as integer micros via integer
    division in BOTH engines — no float rounding divergence.
  - Quantile outputs are input values (exact order statistics), not
    interpolations, so doubles match byte-for-byte.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Tokenizer aligned with the engine's functions/text.tokens(): Unicode
# letter/digit classes (RE2 supports \\p{{L}}/\\p{{N}} like Spark's Java
# regex) and empty tokens filtered — no ASCII-only assumption.
SHINGLE_TOKENIZE_SQL = (
    "list_filter(string_split_regex(lower(text), "
    "'[^\\p{L}\\p{N}]+'), x -> x != '')")

# The engine's GPT-2-style pre-tokenizer pattern, SQL-quoted for the
# DuckDB oracle (same RE2-compatible regex both sides).
from datasketches_java_spark.functions.text import BPE_TOKEN_RE as _BPE_RE
_BPE_RE_SQL = _BPE_RE.replace("'", "''")

# DuckDB 5-word-shingle Jaccard pair list over `documents` — the exact
# oracle for the LSH pipeline (same tokenizer/shingler as
# datasketches_java_spark.functions.text).
_DOC_PAIRS_CTE = f"""
WITH t AS (SELECT doc_id, {SHINGLE_TOKENIZE_SQL} toks FROM documents),
sh AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 5 THEN
         list_transform(range(1, len(toks)-4+1), i -> array_to_string(toks[i:i+4], ' '))
         ELSE [array_to_string(toks, ' ')] END) s FROM t),
ds AS (SELECT DISTINCT doc_id, s FROM sh),
sz AS (SELECT doc_id, count(*) c FROM ds GROUP BY 1),
j AS (SELECT a.doc_id ia, b.doc_id ib, count(*) inter
      FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1,2),
pairs AS (SELECT ia, ib, inter, x.c + y.c - inter AS uni
          FROM j JOIN sz x ON x.doc_id = ia JOIN sz y ON y.doc_id = ib
          WHERE inter * 5 >= (x.c + y.c - inter) * 4)
"""


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _sf(sf_dir: str) -> float:
    """Scale factor parsed from the testdata dir name ('.../sf0.1' →
    0.1); 0.01 when unparseable."""
    tail = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(tail[2:]) if tail.startswith("sf") else 0.01
    except ValueError:
        return 0.01


def _exact_lg_k(n_upper: float, floor: int = 12) -> int:
    """Smallest lgK keeping a theta sketch in exact mode up to
    ``n_upper`` distinct items (retained ≤ k = 2^lgK), +30% headroom.

    The oracle gate's convention is EXACT-mode equality with SQL
    (README §Correctness), so queries derive their exactness budget
    from the SF they are run at — a fixed lgK silently crosses into
    estimation at 10× the SF it was tuned for (exactly what the sf0.1
    sweep surfaced: 149,893 vs 150,000 at lgK=17, a 0.07% error that
    is CORRECT estimation behavior but fails a hash gate).
    Estimation-mode accuracy at fixed lgK is separately bounds-gated
    in tests/test_estimation_at_scale.py over the same sf0.1 tables."""
    import math
    return max(floor, math.ceil(math.log2(max(n_upper, 1.0) * 1.3)))


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Near-dup detection + clustering over sf0.001 documents —
    signatures → LSH → verify → connected components."""
    from datasketches_java_spark.plans.dedup import dedup_pipeline

    docs = _read(spark, "/root/testdata/sf0.001", "documents")
    res = dedup_pipeline(spark, docs, id_col="doc_id", text_col="text")
    return res.clusters.orderBy("doc_id")


# ---------------------------------------------------------------------------
# query programs
# ---------------------------------------------------------------------------

def _q_theta_customers_by_nation(spark: SparkSession, sf: str) -> DataFrame:
    from datasketches_java_spark.functions.sketch_aggs import (
        theta_estimate, theta_sketch_agg)
    cust = _read(spark, sf, "customer")
    sk = theta_sketch_agg(cust, "c_custkey", by=["c_nationkey"], lg_k=12)
    return (sk.select("c_nationkey",
                      F.round(theta_estimate("theta_sketch")).cast("long")
                      .alias("distinct_customers"))
            .orderBy("c_nationkey"))


def _q_theta_orderkeys_global(spark: SparkSession, sf: str) -> DataFrame:
    from datasketches_java_spark.functions.sketch_aggs import (
        theta_estimate, theta_sketch_agg)
    orders = _read(spark, sf, "orders")
    sk = theta_sketch_agg(orders, "o_orderkey",
                          lg_k=_exact_lg_k(1_500_000 * _sf(sf)))
    return sk.select(F.round(theta_estimate("theta_sketch")).cast("long")
                     .alias("distinct_orderkeys"))


def _customer_halves(spark: SparkSession, sf: str):
    from datasketches_java_spark.functions.sketch_aggs import theta_sketch_agg
    orders = _read(spark, sf, "orders")
    lgk = _exact_lg_k(150_000 * _sf(sf))   # distinct custkeys <= |customer|
    a = theta_sketch_agg(
        orders.filter(F.col("o_orderdate") < F.lit("1998-01-01")),
        "o_custkey", lg_k=lgk).withColumnRenamed("theta_sketch", "sk_a")
    b = theta_sketch_agg(
        orders.filter(F.col("o_orderdate") >= F.lit("1998-01-01")),
        "o_custkey", lg_k=lgk).withColumnRenamed("theta_sketch", "sk_b")
    return a.crossJoin(b)


def _q_theta_distinct_names(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct count over a STRING column — the sketch hashes UTF-8
    bytes with the reference-parity batch murmur3
    (theta/UpdateSketch.java:255), not a pre-hash shortcut, so the
    image is hash-equal to a reference sketch of the same strings."""
    from datasketches_java_spark.functions.sketch_aggs import (
        theta_estimate, theta_sketch_agg)
    cust = _read(spark, sf, "customer")
    sk = theta_sketch_agg(cust, "c_name",
                          lg_k=_exact_lg_k(150_000 * _sf(sf)))
    return sk.select(F.round(theta_estimate("theta_sketch")).cast("long")
                     .alias("distinct_names"))


def _q_theta_serde_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct orderkeys with the sketch column exported to the
    reference's serVer-3 compact-ordered wire format and heapified
    back before estimating (theta/PreambleUtil.java:28-133 layout,
    theta/Sketch.java:70 heapify) — the interop path a
    datasketches-java/Hive/Pig producer or consumer would hit,
    exercised inside the oracle gate."""
    from datasketches_java_spark.functions.sketch_aggs import (
        theta_estimate, theta_from_java, theta_sketch_agg, theta_to_java)
    orders = _read(spark, sf, "orders")
    sk = theta_sketch_agg(orders, "o_orderkey",
                          lg_k=_exact_lg_k(1_500_000 * _sf(sf)))
    wire = sk.select(theta_from_java(theta_to_java("theta_sketch"))
                     .alias("theta_sketch"))
    return wire.select(F.round(theta_estimate("theta_sketch")).cast("long")
                       .alias("distinct_orderkeys"))


def _q_theta_setops(spark: SparkSession, sf: str) -> DataFrame:
    from datasketches_java_spark.functions.sketch_aggs import (
        theta_a_not_b_pair, theta_estimate, theta_intersect_pair,
        theta_union_pair)
    both = _customer_halves(spark, sf)
    return both.select(
        F.round(theta_estimate(theta_union_pair("sk_a", "sk_b")))
        .cast("long").alias("union_custkeys"),
        F.round(theta_estimate(theta_intersect_pair("sk_a", "sk_b")))
        .cast("long").alias("intersect_custkeys"),
        F.round(theta_estimate(theta_a_not_b_pair("sk_a", "sk_b")))
        .cast("long").alias("a_not_b_custkeys"))


def _q_theta_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    from datasketches_java_spark.functions.sketch_aggs import (
        theta_estimate, theta_intersect_pair, theta_union_pair)
    both = _customer_halves(spark, sf)
    inter = F.round(theta_estimate(theta_intersect_pair("sk_a", "sk_b"))).cast("long")
    uni = F.round(theta_estimate(theta_union_pair("sk_a", "sk_b"))).cast("long")
    return (both.select((inter * F.lit(1000000)).alias("i6"), uni.alias("u"))
            .select(F.expr("div(i6, u)").alias("jaccard_micros")))


def _q_hll_nations_by_region(spark: SparkSession, sf: str) -> DataFrame:
    """HLL-8 distinct count per region.  At small per-group cardinality
    the linear-counting range estimator is exact after rounding, so
    the oracle hash-matches; large-cardinality relative-error bounds
    are asserted in tests/test_hll.py."""
    from datasketches_java_spark.functions.sketch_aggs import (
        hll_estimate, hll_sketch_agg)
    nation = _read(spark, sf, "nation")
    sk = hll_sketch_agg(nation, "n_nationkey", by=["n_regionkey"])
    return (sk.select("n_regionkey",
                      F.round(hll_estimate("hll_sketch")).cast("long")
                      .alias("distinct_nations"))
            .orderBy("n_regionkey"))


def _q_cpc_distinct_nations(spark: SparkSession, sf: str) -> DataFrame:
    """CPC distinct count per region, with the sketch column exported
    to the reference's COMPRESSED wire format and heapified back
    before estimating (cpc/CpcSketch.java:64 + the CpcCompression
    codecs, validated on the in-tree C++ goldens).  Tiny per-group
    cardinalities keep the ICON collision correction below half an
    item, so round(estimate) hash-matches the exact oracle; the
    accuracy envelope at scale is asserted in tests/test_cpc.py."""
    from datasketches_java_spark.functions.sketch_aggs import (
        cpc_estimate, cpc_from_java, cpc_sketch_agg, cpc_to_java)
    nation = _read(spark, sf, "nation")
    sk = cpc_sketch_agg(nation, "n_nationkey", by=["n_regionkey"], lg_k=11)
    wire = sk.select("n_regionkey",
                     cpc_from_java(cpc_to_java("cpc_sketch"))
                     .alias("cpc_sketch"))
    return (wire.select("n_regionkey",
                        F.round(cpc_estimate("cpc_sketch")).cast("long")
                        .alias("distinct_nations"))
            .orderBy("n_regionkey"))


def _q_long_dup_substrings(spark: SparkSession, sf: str) -> DataFrame:
    """Suffix-array pass over every verified near-dup pair: does the
    pair share a duplicated substring of ≥ 256 chars?  The boolean is
    SQL-checkable (a ≥256-run exists iff a common 256-char substring
    exists, verifiable by enumerating stride-1 substrings in DuckDB),
    so this query IS oracle-checked; the exact lcs_len value — not
    SQL-expressible — is covered by the naive-oracle unit tests."""
    from datasketches_java_spark.plans.dedup import dedup_pipeline
    docs = _read(spark, sf, "documents")
    out = dedup_pipeline(spark, docs, id_col="doc_id", text_col="text",
                         with_lcs=True).dup_pairs
    return (out.select(F.col("id_a").alias("doc_a"),
                       F.col("id_b").alias("doc_b"),
                       "long_dup")
            .orderBy("doc_a", "doc_b"))


def _q_kll_acctbal_by_nation(spark: SparkSession, sf: str) -> DataFrame:
    from datasketches_java_spark.functions.sketch_aggs import (
        kll_quantiles, kll_sketch_agg)
    cust = _read(spark, sf, "customer")
    sk = kll_sketch_agg(cust, "c_acctbal", by=["c_nationkey"], k=4096)
    q = kll_quantiles([0.25, 0.5, 0.75])
    return (sk.select("c_nationkey", q("kll_sketch").alias("qs"))
            .select("c_nationkey",
                    F.col("qs")[0].alias("q25"),
                    F.col("qs")[1].alias("q50"),
                    F.col("qs")[2].alias("q75"))
            .orderBy("c_nationkey"))


def _q_req_quantiles_acctbal(spark: SparkSession, sf: str) -> DataFrame:
    """REQ relative-error quantiles per nation (req/ReqSketch.java:82)
    — exact mode at per-group n below the base capacity, so quantiles
    are exact order statistics and hash-match the cume_dist oracle;
    tail-accuracy envelopes are asserted in tests/test_req.py."""
    from datasketches_java_spark.functions.sketch_aggs import (
        req_quantiles, req_sketch_agg)
    cust = _read(spark, sf, "customer")
    sk = req_sketch_agg(cust, "c_acctbal", by=["c_nationkey"], k=1024)
    q = req_quantiles([0.25, 0.5, 0.75])
    return (sk.select("c_nationkey", q("req_sketch").alias("qs"))
            .select("c_nationkey",
                    F.col("qs")[0].alias("q25"),
                    F.col("qs")[1].alias("q50"),
                    F.col("qs")[2].alias("q75"))
            .orderBy("c_nationkey"))


def _q_req_serde_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Per-nation REQ quantiles of c_custkey with the sketch column
    exported to the reference's wire format and heapified back before
    querying (req/ReqSerDe.java:44-121 layouts) — the interop path a
    datasketches-java REQ producer/consumer would hit, inside the
    oracle gate.  Custkeys are float32-exact (< 2^24) so the narrowing
    to the reference's FLOAT item type is lossless here; per-group n
    stays below base capacity, so quantiles are exact order statistics
    and hash-match the cume_dist oracle."""
    from datasketches_java_spark.functions.sketch_aggs import (
        req_from_java, req_quantiles, req_sketch_agg, req_to_java)
    cust = _read(spark, sf, "customer")
    sk = req_sketch_agg(cust, "c_custkey", by=["c_nationkey"], k=1024)
    wire = sk.select("c_nationkey",
                     req_from_java(req_to_java("req_sketch"))
                     .alias("req_sketch"))
    q = req_quantiles([0.25, 0.5, 0.75])
    return (wire.select("c_nationkey", q("req_sketch").alias("qs"))
            .select("c_nationkey",
                    F.col("qs")[0].cast("long").alias("q25"),
                    F.col("qs")[1].cast("long").alias("q50"),
                    F.col("qs")[2].cast("long").alias("q75"))
            .orderBy("c_nationkey"))


def _q_kll_longs_orderdate(spark: SparkSession, sf: str) -> DataFrame:
    """Generic-item KLL over LONGS (kll/KllLongsSketch.java analogue):
    p25/p50/p75 of o_orderdate as epoch DAYS (timezone-free — the
    NTZ timestamp maps to a date identically in Spark and DuckDB).
    Exact mode at this SF (k above n), so the quantiles are exact
    order statistics and hash-match the cume_dist oracle."""
    from datasketches_java_spark.functions.sketch_aggs import (
        kll_items_quantiles, kll_items_sketch_agg)
    orders = _read(spark, sf, "orders").select(
        F.datediff(F.col("o_orderdate").cast("date"),
                   F.lit("1970-01-01").cast("date"))
        .cast("long").alias("epoch_d"))
    sk = kll_items_sketch_agg(orders, "epoch_d", k=16384, dtype="long")
    q = kll_items_quantiles([0.25, 0.5, 0.75], "long")
    return (sk.select(q("kll_items_sketch").alias("qs"))
            .select(F.col("qs")[0].alias("q25"),
                    F.col("qs")[1].alias("q50"),
                    F.col("qs")[2].alias("q75")))


def _q_kll_strings_custname(spark: SparkSession, sf: str) -> DataFrame:
    """Generic-item KLL over STRINGS (quantiles/ItemsSketch.java:70
    comparator contract): lexicographic p25/p50/p75 of c_name.
    Code-point order == DuckDB/Spark binary UTF-8 collation on this
    ASCII column, so exact-mode quantiles hash-match the oracle.
    (The classic-ItemsSketch wire interop is exercised by the
    scale-proof kll_items_serde_roundtrip_names query — the classic
    format cannot represent estimation-mode KLL states, so routing
    THIS unbounded aggregate through it would crash once n outgrows
    exact mode.)"""
    from datasketches_java_spark.functions.sketch_aggs import (
        kll_items_quantiles, kll_items_sketch_agg)
    cust = _read(spark, sf, "customer")
    # k is capped by the wire format's uint16, so the exactness budget
    # holds through sf~0.4 (65535/1.3 names); past that the gate for
    # THIS query must switch to the rank-error bounds assertion
    # (tests/test_estimation_at_scale.py::test_kll_items_estimation_
    # rank_error is that gate, already exercised at sf0.1 with k=256)
    k = min(65535, max(4096, 1 << _exact_lg_k(150_000 * _sf(sf), floor=12)))
    sk = kll_items_sketch_agg(cust, "c_name", k=k, dtype="string")
    q = kll_items_quantiles([0.25, 0.5, 0.75], "string")
    return (sk.select(q("kll_items_sketch").alias("qs"))
            .select(F.col("qs")[0].alias("q25"),
                    F.col("qs")[1].alias("q50"),
                    F.col("qs")[2].alias("q75")))


def _q_kll_items_serde_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """String-quantile wire interop, scale-proof: p25/p50/p75 of the
    names of the first 100 customers, with the sketch routed THROUGH
    the reference's classic generic ItemsSketch image
    (quantiles/ItemsByteArrayImpl.java + ArrayOfStringsSerDe) and
    heapified back.  The input is bounded (c_custkey <= 100 exists at
    every SF), so the sketch is always exact-mode — the regime the
    classic format can represent — at any corpus scale."""
    from datasketches_java_spark.functions.sketch_aggs import (
        kll_items_from_java, kll_items_quantiles, kll_items_sketch_agg,
        kll_items_to_java)
    cust = _read(spark, sf, "customer").where(F.col("c_custkey") <= 100)
    sk = kll_items_sketch_agg(cust, "c_name", k=2048, dtype="string")
    wire = sk.select(
        kll_items_from_java("string")(kll_items_to_java("string")(
            "kll_items_sketch")).alias("kll_items_sketch"))
    q = kll_items_quantiles([0.25, 0.5, 0.75], "string")
    return (wire.select(q("kll_items_sketch").alias("qs"))
            .select(F.col("qs")[0].alias("q25"),
                    F.col("qs")[1].alias("q50"),
                    F.col("qs")[2].alias("q75")))


def _q_kll_price_stats(spark: SparkSession, sf: str) -> DataFrame:
    from datasketches_java_spark.functions.sketch_aggs import (
        kll_max, kll_min, kll_n, kll_sketch_agg)
    li = _read(spark, sf, "lineitem")
    sk = kll_sketch_agg(li, "l_extendedprice", k=200)
    return sk.select(kll_n("kll_sketch").alias("n"),
                     kll_min("kll_sketch").alias("min_price"),
                     kll_max("kll_sketch").alias("max_price"))


def _q_freq_orderpriority(spark: SparkSession, sf: str) -> DataFrame:
    from datasketches_java_spark.functions.sketch_aggs import (
        freq_items, freq_sketch_agg)
    orders = _read(spark, sf, "orders")
    sk = freq_sketch_agg(orders, "o_orderpriority", max_map_size=1024)
    items = freq_items(0)
    return (sk.select(F.explode(items("freq_sketch")).alias("fi"))
            .select(F.col("fi.item").alias("o_orderpriority"),
                    F.col("fi.estimate").alias("cnt"))
            .orderBy("o_orderpriority"))


def _q_freq_orderpriority_wire(spark: SparkSession, sf: str) -> DataFrame:
    """freq_orderpriority_counts with the sketch column exported to
    the reference's string ItemsSketch wire format and heapified back
    before querying (frequencies/ItemsSketch.java:494 layout +
    ArrayOfStringsSerDe) — the Hive/Pig string-column interop path,
    exercised inside the oracle gate."""
    from datasketches_java_spark.functions.sketch_aggs import (
        freq_items, freq_items_from_java, freq_items_to_java,
        freq_sketch_agg)
    orders = _read(spark, sf, "orders")
    sk = freq_sketch_agg(orders, "o_orderpriority", max_map_size=1024)
    wire = sk.select(freq_items_from_java(freq_items_to_java("freq_sketch"))
                     .alias("freq_sketch"))
    items = freq_items(0)
    return (wire.select(F.explode(items("freq_sketch")).alias("fi"))
            .select(F.col("fi.item").alias("o_orderpriority"),
                    F.col("fi.estimate").alias("cnt"))
            .orderBy("o_orderpriority"))


def _q_freq_heavy_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """Heavy hitters above a data-dependent threshold (total/120).
    The threshold rides in the plan as a broadcast one-row aggregate
    (scalar-subquery shape) instead of a separate .count() driver
    action — one scan of lineitem feeds both the sketch and the
    threshold, no extra job at 100 TB.  The lower_bound filter keeps
    the NO_FALSE_POSITIVES semantics (frequencies/ErrorType.java:35)
    in estimation mode; in exact mode lb == estimate."""
    from datasketches_java_spark.functions.sketch_aggs import (
        freq_items, freq_sketch_agg)
    li = _read(spark, sf, "lineitem").withColumn(
        "suppkey_str", F.col("l_suppkey").cast("string"))
    thresh = li.agg(F.floor(F.count(F.lit(1)) / 120).alias("thresh"))
    sk = freq_sketch_agg(li, "suppkey_str", max_map_size=1024)
    items = freq_items(0)
    return (sk.select(F.explode(items("freq_sketch")).alias("fi"))
            .crossJoin(F.broadcast(thresh))
            .where(F.col("fi.lower_bound") >= F.col("thresh"))
            .select(F.col("fi.item").cast("long").alias("l_suppkey"),
                    F.col("fi.estimate").alias("cnt"))
            .orderBy("l_suppkey"))


def _q_reservoir_nations(spark: SparkSession, sf: str) -> DataFrame:
    from datasketches_java_spark.functions.sketch_aggs import (
        reservoir_agg, reservoir_samples_long)
    nation = _read(spark, sf, "nation")
    sk = reservoir_agg(nation, "n_nationkey", k=64)
    return (sk.select(F.explode(reservoir_samples_long("reservoir_sketch"))
                      .alias("n_nationkey"))
            .orderBy("n_nationkey"))


def _q_varopt_subset_sum(spark: SparkSession, sf: str) -> DataFrame:
    from datasketches_java_spark.functions.sketch_aggs import (
        priority_sample_agg, varopt_subset_sum)
    part = _read(spark, sf, "part")
    sk = priority_sample_agg(part, "p_partkey", "p_retailprice", k=65536)
    ss = varopt_subset_sum(lambda it: it % 3 == 0)
    return sk.select(F.round(ss("varopt_sketch"), 2)
                     .alias("retail_sum_mod3"))


def _q_varopt_true_subset_sum(spark: SparkSession, sf: str) -> DataFrame:
    """TRUE VarOpt (heavy/light two-region algorithm,
    sampling/VarOptItemsSketch.java:72) subset-sum — exact mode at
    this SF (k above n), so the estimate equals the exact SQL sum.
    Estimation-mode variance behavior is covered by
    tests/test_varopt.py mirroring VarOptItemsSketchTest."""
    from datasketches_java_spark.functions.sketch_aggs import (
        varopt_sketch_agg, varopt_true_subset_sum)
    part = _read(spark, sf, "part")
    sk = varopt_sketch_agg(part, "p_partkey", "p_retailprice", k=65536)
    ss = varopt_true_subset_sum(lambda it: it % 5 == 0)
    return sk.select(F.round(ss("varopt_sketch"), 2)
                     .alias("retail_sum_mod5"))


def _q_theta_incremental_events(spark: SparkSession, sf: str) -> DataFrame:
    """Batch-incremental path: per-half partial sketches unioned via the
    sketch-column merge (the checkpoint resume shape, SURVEY.md §2.11)."""
    from datasketches_java_spark.functions.sketch_aggs import (
        theta_estimate, theta_sketch_agg, theta_union_agg)
    ev = _read(spark, sf, "events")
    half = F.when(F.dayofmonth("ts") <= 15, F.lit(0)).otherwise(F.lit(1))
    partials = theta_sketch_agg(ev.withColumn("half", half), "user_id",
                                by=["event_type", "half"], lg_k=12)
    merged = theta_union_agg(partials.drop("half"), by=["event_type"])
    return (merged.select("event_type",
                          F.round(theta_estimate("theta_sketch")).cast("long")
                          .alias("distinct_users"))
            .orderBy("event_type"))


def _q_tuple_spend_by_nation(spark: SparkSession, sf: str) -> DataFrame:
    """Attributed distinct: per nation, distinct ordering customers AND
    their total spend (cents) from ONE tuple sketch — summary algebra
    rides with the retained keys (tuple/UpdatableSketch.java:40).
    Cents are LongType JVM-side and int64 inside the sketch, so the
    total is integer arithmetic end-to-end — no float exists for any
    engine/driver canonicalization to diverge on."""
    from datasketches_java_spark.functions.sketch_aggs import (
        tuple_estimate, tuple_sketch_agg, tuple_sum_value_long)
    orders = _read(spark, sf, "orders")
    cust = _read(spark, sf, "customer").select("c_custkey", "c_nationkey")
    joined = (orders.join(F.broadcast(cust),
                          orders.o_custkey == cust.c_custkey)
              .withColumn("cents", F.round(F.col("o_totalprice") * 100)
                          .cast("long")))
    sk = tuple_sketch_agg(joined, "o_custkey", ["cents"],
                          by=["c_nationkey"], lg_k=12, values_dtype="long")
    return (sk.select(
        "c_nationkey",
        F.round(tuple_estimate("tuple_sketch")).cast("long")
        .alias("distinct_customers"),
        tuple_sum_value_long(0)("tuple_sketch").alias("spend_cents"))
        .orderBy("c_nationkey"))


def _q_fdt_parts_per_supplier(spark: SparkSession, sf: str) -> DataFrame:
    from datasketches_java_spark.functions.sketch_aggs import fdt_topk
    li = _read(spark, sf, "lineitem")
    return fdt_topk(li, ["l_suppkey"], "l_partkey", k=10, lg_k=12)


def _q_exact_dedup_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup keyed on xxhash64(normalized text), with the
    collision confirm that keeps it truly exact.  Cost model at 100 TB:
    the first aggregate groups by (normkey, norm) — map-side combine
    collapses duplicates, so each DISTINCT norm crosses the wire once
    (any exact scheme must move the string at least once); the second
    aggregate and the doc-side join shuffle only the 8-byte key.  A
    64-bit collision (two norms sharing a hash, ~n²/2^65) surfaces as
    n_norms > 1 and is resolved exactly by the per-norm group — the
    fallback join runs against an (almost always empty) flagged set."""
    from datasketches_java_spark.operators.exact_dedup import exact_dedup
    docs = _read(spark, sf, "documents")
    return exact_dedup(docs, "doc_id", "text").orderBy("doc_id")


def _q_lsh_dup_pairs_documents(spark: SparkSession, sf: str) -> DataFrame:
    """The dedup plan's verified near-dup pairs, with integer-exact
    Jaccard micros (``_integer_jaccard_pairs``)."""
    from datasketches_java_spark.plans.dedup import dedup_pipeline
    docs = _read(spark, sf, "documents")
    return _integer_jaccard_pairs(
        dedup_pipeline(spark, docs, id_col="doc_id", text_col="text").dup_pairs)


def _integer_jaccard_pairs(verified: DataFrame) -> DataFrame:
    """Verified (id_a, id_b, i, u) → (doc_a, doc_b, jaccard_micros):
    div(|∩|·10^6, |∪|) in integer arithmetic, so the micros agree with
    the oracle bit-for-bit.  verify_pairs' threshold keeps exactly the
    oracle's 5·|∩| ≥ 4·|∪| pairs."""
    return (verified
            .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"),
                    F.expr("div(i * 1000000, u)").alias("jaccard_micros"))
            .orderBy("doc_a", "doc_b"))


def _q_dedup_clusters_documents(spark: SparkSession, sf: str) -> DataFrame:
    from datasketches_java_spark.plans.dedup import dedup_pipeline
    docs = _read(spark, sf, "documents")
    res = dedup_pipeline(spark, docs, id_col="doc_id", text_col="text")
    return res.clusters.orderBy("doc_id")


def _q_ngram_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Word-trigram Jaccard ≥ 0.6 via the inverted-index join (the
    same plan shape the DuckDB oracle uses): explode distinct grams,
    self-equi-join on gram → |∩| per pair, sizes from a pre-agg.
    Only pairs sharing ≥ 1 gram are ever materialized — no cartesian
    (a 0.6-Jaccard pair always shares grams, so the result is
    identical to the all-pairs scan)."""
    from datasketches_java_spark.functions.text import shingles, tokens
    docs = _read(spark, sf, "documents")
    # lazy localCheckpoint: the grams sub-plan feeds FOUR consumers
    # (sizes, both sides of the inverted-index self-join) — without it
    # Catalyst re-derives the tokenize+shingle chain per consumer
    # (measured: 7 parquet scans in the AQE final plan; 1 after).
    g = docs.select(
        "doc_id",
        F.array_distinct(shingles(tokens("text"), w=3)).alias("grams")) \
        .localCheckpoint(eager=False)
    sz = g.select("doc_id", F.size("grams").cast("long").alias("c"))
    ex = g.select("doc_id", F.explode("grams").alias("s"))
    inter = (ex.alias("a").join(ex.alias("b"), on="s")
             .where(F.col("a.doc_id") < F.col("b.doc_id"))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("i")))
    return (inter
            .join(sz.withColumnRenamed("doc_id", "doc_a")
                    .withColumnRenamed("c", "ca"), on="doc_a")
            .join(sz.withColumnRenamed("doc_id", "doc_b")
                    .withColumnRenamed("c", "cb"), on="doc_b")
            .withColumn("u", F.col("ca") + F.col("cb") - F.col("i"))
            .where(F.col("i") * 5 >= F.col("u") * 3)
            .select("doc_a", "doc_b",
                    F.expr("div(i * 1000000, u)").alias("jaccard_micros"))
            .orderBy("doc_a", "doc_b"))


def _q_simhash_near_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash candidate pairs (Hamming ≤ 12 on the 64-bit fingerprint)
    verified by integer-exact Jaccard ≥ 0.8.  The Hamming ball is found
    with the LOSSLESS 13-band pigeonhole equi-join (any pair at distance
    ≤ 12 agrees on ≥ 1 of 13 bit-bands) — same rows as an all-pairs
    scan, no CartesianProduct in the plan.  Output columns are the
    oracle-expressible (doc_a, doc_b, jaccard_micros) — the exact-Jaccard
    verification makes the emitted set equal to the oracle's J≥0.8 pair
    set whenever the Hamming-12 ball recalls it (gated in
    tests/test_simhash_containment.py, which also independently recomputes
    the Hamming distances the driver no longer sees)."""
    from datasketches_java_spark.functions.text import shingle_hashes
    from datasketches_java_spark.operators.lsh import (
        add_simhash, simhash_hamming_pairs, verify_pairs)
    docs = _read(spark, sf, "documents")
    # lazy localCheckpoint, not persist(): computed once for both band
    # join sides and verify, blocks released with the DataFrame (no
    # CacheManager entries across a long session).
    sig = (add_simhash(docs.select(
               "doc_id", shingle_hashes("text").alias("shingles")))
           .localCheckpoint(eager=False))
    pairs = simhash_hamming_pairs(sig, "doc_id")
    return _integer_jaccard_pairs(verify_pairs(pairs, sig, "doc_id"))


def _q_winnow_fingerprints_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03;
    the rolling-hash fingerprint op of the training-data toolbox):
    ordered word-3-gram hashes → min of each 8-gram sliding window →
    per-doc distinct mins.  The k-gram hash is md5-derived (top 15 hex
    chars as int64) so DuckDB can compute the IDENTICAL values and the
    whole op — window minima included — is oracle-expressible; the
    production path uses xxhash64 k-grams (same operator, cheaper
    hash).  Window semantics under oracle: full windows only
    (positions p ≤ n-7); docs with ≤ 8 grams contribute their global
    min, exactly winnow_flat's short-doc rule."""
    from datasketches_java_spark.functions.minhash import winnow_fingerprints
    from datasketches_java_spark.functions.text import shingles, tokens
    docs = _read(spark, sf, "documents")
    # bind the gram array to a real column BEFORE the higher-order
    # transform: an unbound non-trivial array subtree re-evaluates per
    # element (the O(n²) lambda trap, functions/text.py note)
    grams = docs.select("doc_id", shingles(tokens("text"), w=3).alias("g"))
    hashes = F.transform(
        F.col("g"),
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long"))
    return (grams.select("doc_id", hashes.alias("hs"))
            .select("doc_id",
                    F.explode(winnow_fingerprints("hs")).alias("fingerprint"))
            .orderBy("doc_id", "fingerprint"))


def _q_frequent_ngram_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level frequent-8-gram spans (the Lee-et-al substring
    dedup pre-pass, operators/ngram_spans.py): every position where a
    document repeats an 8-gram occurring ≥ 3 times corpus-wide, with
    its doc-frequency and total count.  md5-derived gram hashes keep
    the whole op — explode, count, broadcast-join — oracle-expressible;
    production swaps in xxhash64 with the identical plan."""
    from datasketches_java_spark.operators.ngram_spans import (
        frequent_ngram_spans)
    from datasketches_java_spark.functions.text import tokens
    docs = _read(spark, sf, "documents")
    return (frequent_ngram_spans(docs, "doc_id", "text", tokens,
                                 n=8, min_count=3)
            .orderBy("doc_id", "pos"))


def _q_remove_ngram_spans(spark: SparkSession, sf: str) -> DataFrame:
    """The cleaning transform over the span detector: documents with
    every corpus-frequent-8-gram-covered token dropped, plus the
    removed-token count — the actual substring-dedup edit a pipeline
    applies before training (operators/ngram_spans.
    remove_frequent_ngram_spans)."""
    from datasketches_java_spark.operators.ngram_spans import (
        remove_frequent_ngram_spans)
    from datasketches_java_spark.functions.text import tokens
    docs = _read(spark, sf, "documents")
    return (remove_frequent_ngram_spans(docs, "doc_id", "text", tokens,
                                        n=8, min_count=3)
            .orderBy("doc_id"))


def _q_text_stats_documents(spark: SparkSession, sf: str) -> DataFrame:
    from datasketches_java_spark.functions.text import (
        bpe_token_count, char_count, token_count)
    docs = _read(spark, sf, "documents")
    toks = token_count("text")
    return (docs.select(
        "doc_id", toks.alias("token_cnt"), char_count("text").alias("char_cnt"),
        F.size(F.array_distinct(F.split(F.lower("text"), r"[^\p{L}\p{N}]+")))
        .alias("distinct_tokens"),
        bpe_token_count("text").alias("bpe_token_cnt"))
        .orderBy("doc_id"))


def _q_quality_filter_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Training-data quality filtering: the deterministic [0,1]
    quality proxy (length band + stopword presence − punctuation
    excess), stopword-hit language ID, and the keep/drop decision a
    filtering pipeline would apply — all pure codegen Column
    expressions (functions/text.py), fully SQL-oracle-expressible."""
    from datasketches_java_spark.functions.text import (
        lang_guess, quality_score)
    docs = _read(spark, sf, "documents")
    q = quality_score("text")
    return (docs.select(
        "doc_id",
        q.alias("quality"),
        lang_guess("text").alias("lang_guess"),
        (q >= F.lit(0.25)).alias("keep"))
        .orderBy("doc_id"))


def _quality_filter_oracle_sql() -> str:
    from datasketches_java_spark.functions.text import STOPWORDS
    sw = {lg: "[" + ", ".join(f"'{w}'" for w in ws) + "]"
          for lg, ws in STOPWORDS.items()}
    hit_cols = ",\n                   ".join(
        f"len(list_intersect(list_distinct(toks), {sw[lg]})) h_{lg}"
        for lg in sorted(STOPWORDS))
    lang_structs = ", ".join(
        f"{{'nh': -h_{lg}, 'lg': '{lg}'}}" for lg in sorted(STOPWORDS))
    return f"""
        WITH t AS (SELECT doc_id, text, {SHINGLE_TOKENIZE_SQL} toks
                   FROM documents),
        m AS (SELECT doc_id,
                   len(toks)::DOUBLE tc,
                   {hit_cols},
                   CASE WHEN length(text) > 0 THEN
                     (length(text) - length(regexp_replace(text,
                        '[\\.,;:!\\?]', '', 'g')))::DOUBLE / length(text)
                   ELSE 0.0 END pr
              FROM t),
        q AS (SELECT doc_id,
                   round(greatest(least(
                       0.5 * least(tc / 100.0, 1.0)
                       + 0.5 * (h_en / 10.0)
                       - 0.2 * least(pr * 5.0, 1.0), 1.0), 0.0), 6)
                     AS quality,
                   CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0
                        THEN 'und'
                        ELSE list_sort([{lang_structs}])[1].lg
                   END AS lang_guess
              FROM m)
        SELECT doc_id, quality, lang_guess,
               quality >= 0.25 AS keep
        FROM q ORDER BY doc_id"""


def _q_embedding_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-space dedup: connected components over the exact
    cosine ≥ 0.4 pair graph (block-BLAS pairs → int64-edge CC),
    cluster_id = min member vec_id — the embedding analogue of
    dedup_clusters_documents, oracle-checked via a recursive CTE."""
    from datasketches_java_spark.operators.connected_components import (
        assign_clusters)
    from datasketches_java_spark.operators.similarity import (
        cosine_pairs_blocked)
    emb = _read(spark, sf, "embeddings")
    edges = cosine_pairs_blocked(emb, id_col="vec_id", vec_col="embedding",
                                 threshold=0.4, n_blocks=8)
    return (assign_clusters(emb.select("vec_id"),
                            edges.select("id_a", "id_b"), "vec_id")
            .select("vec_id", "cluster_id")
            .orderBy("vec_id"))


def _q_embedding_cosine_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pair detection (EXACT, all pairs with
    cosine ≥ 0.4) via the distributed block-matmul operator: rows hash
    into blocks, each (bi ≤ bj) block pair is one float64 BLAS matmul
    in a cogrouped applyInPandas — O(n·B) shuffle rows, no
    CartesianProduct node.  A low-threshold all-pairs op is inherently
    O(n²·d) flops; organizing them as BLAS block products is the shape
    that survives scale (LSH cannot prune reliably at cosine 0.4 —
    operators.similarity.simhash_ann_buckets covers the
    high-similarity ANN regime, see ann_cosine_topk_lsh)."""
    from datasketches_java_spark.operators.similarity import (
        cosine_pairs_blocked)
    emb = _read(spark, sf, "embeddings")
    return (cosine_pairs_blocked(emb, id_col="vec_id", vec_col="embedding",
                                 threshold=0.4, n_blocks=8)
            .select(F.col("id_a").alias("vec_a"),
                    F.col("id_b").alias("vec_b"))
            .orderBy("vec_a", "vec_b"))


def _q_ann_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-k, BLAS path (one matmul per Arrow
    batch); operators.similarity.cosine_topk is the declarative
    equivalent (tested equal in tests/test_multimodal_streaming)."""
    from datasketches_java_spark.operators.similarity import cosine_topk_blas
    emb = _read(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_topk_blas(queries, emb, id_col="vec_id",
                            vec_col="embedding", k=5).orderBy("query_id", "rank")


def _q_ann_cosine_topk_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """ANN top-k via random-hyperplane LSH buckets: scoring is
    restricted to same-bucket candidates (equi-join on the 8-bit
    signature — the scale path for high-similarity regimes).  The
    oracle replicates the SAME deterministic hyperplanes as SQL
    literals, so the bucketed semantics are value-checked end-to-end,
    not just row-counted."""
    from datasketches_java_spark.operators.similarity import (
        simhash_ann_buckets)
    emb = _read(spark, sf, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return (simhash_ann_buckets(queries_df, emb, id_col="vec_id",
                                vec_col="embedding", k=5, bits=8)
            .orderBy("query_id", "rank"))


def _q_ann_cosine_topk_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-style ANN: corpus vectors in argmax-dot centroid cells,
    queries probe their 4 best of 16 cells, exact cosine re-scores
    same-cell candidates only (operators/similarity.ivf_cosine_topk).
    Deterministic centroids are replicated as literals in the oracle,
    so the inverted-file semantics are value-checked end-to-end."""
    from datasketches_java_spark.operators.similarity import ivf_cosine_topk
    emb = _read(spark, sf, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return (ivf_cosine_topk(queries_df, emb, id_col="vec_id",
                            vec_col="embedding", k=5, n_cells=16, nprobe=4)
            .orderBy("query_id", "rank"))


def _ann_ivf_oracle_sql() -> str:
    """DuckDB oracle for ann_cosine_topk_ivf: the 16×64 deterministic
    unit centroids as SQL literals; cell = argmax dot (struct-sort),
    probes = top-4 cells per query, exact cosine within cells."""
    from datasketches_java_spark.operators.similarity import ivf_centroids
    cents = ivf_centroids(64, 16, 9001)
    entries = []
    for i, row in enumerate(cents):
        arr = "[" + ", ".join(repr(float(x)) for x in row) + "]"
        entries.append(
            f"{{'d': -list_dot_product(v, {arr}), 'i': {i}}}")
    score_list = "[" + ",\n               ".join(entries) + "]"
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
                   FROM embeddings),
        sc AS (SELECT vec_id, v, list_sort({score_list}) s FROM e),
        corp AS (SELECT vec_id nid, v cv, s[1].i AS cell FROM sc),
        q AS (SELECT vec_id qid, v qv,
                     unnest(list_transform(s[1:4], x -> x.i)) AS cell
              FROM sc WHERE vec_id < 10),
        cand AS (SELECT qid, nid,
                        list_dot_product(qv, cv)
                          / (sqrt(list_dot_product(qv, qv))
                             * sqrt(list_dot_product(cv, cv))) sim
                 FROM q JOIN corp USING (cell) WHERE nid != qid),
        r AS (SELECT qid, nid,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY sim DESC, nid) rk
              FROM cand)
        SELECT qid AS query_id, nid AS neighbor_id, rk AS rank
        FROM r WHERE rk <= 5 ORDER BY 1, 3"""


def _ann_lsh_oracle_sql() -> str:
    """DuckDB oracle for ann_cosine_topk_lsh: the 8×64 gaussian
    hyperplanes from the engine's deterministic seed are embedded as
    SQL literals; bucket = sign-bit pattern, then same-bucket top-k."""
    import numpy as np
    rng = np.random.default_rng(9001)
    planes = rng.standard_normal((8, 64))
    terms = []
    for i, row in enumerate(planes):
        arr = "[" + ", ".join(repr(float(x)) for x in row) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(v, {arr}) >= 0"
            f" THEN {1 << i} ELSE 0 END)")
    bucket = "\n             + ".join(terms)
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
                   FROM embeddings),
        b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
        q AS (SELECT vec_id qid, v qv, bucket FROM b WHERE vec_id < 10),
        s AS (SELECT qid, b.vec_id nid,
                     list_dot_product(qv, b.v)
                       / (sqrt(list_dot_product(qv, qv))
                          * sqrt(list_dot_product(b.v, b.v))) sim
              FROM q JOIN b USING (bucket) WHERE b.vec_id != qid),
        r AS (SELECT qid, nid,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY sim DESC, nid) rk
              FROM s)
        SELECT qid AS query_id, nid AS neighbor_id, rk AS rank
        FROM r WHERE rk <= 5 ORDER BY 1, 3"""


def _q_sql_theta_distinct_by_nation(spark: SparkSession,
                                    sf: str) -> DataFrame:
    """The pure-SQL entry point (functions/sql_registry.py): the same
    theta distinct-count as the flagship DataFrame query, but issued
    as `spark.sql()` TEXT through the registered
    theta_sketch_build/theta_sketch_estimate functions — the Spark
    counterpart of the reference's Hive adaptor surface
    (reference README.md:31).  Exact-mode lgK makes the estimate equal
    COUNT(DISTINCT) at test scales, so the query is oracle-gated."""
    from datasketches_java_spark.functions.sql_registry import (
        register_sql_functions)
    # SF-derived exactness budget, same convention as the DataFrame
    # queries (worst group = all customers in one nation)
    register_sql_functions(spark, lg_k=_exact_lg_k(150_000 * _sf(sf)))
    _read(spark, sf, "customer").createOrReplaceTempView("customer_sqlreg")
    return spark.sql("""
        SELECT c_nationkey,
               CAST(theta_sketch_estimate(theta_sketch_build(c_custkey))
                    AS BIGINT) AS distinct_customers
        FROM customer_sqlreg
        GROUP BY c_nationkey ORDER BY c_nationkey""")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "theta_distinct_customers_by_nation": _q_theta_customers_by_nation,
        "theta_distinct_orderkeys": _q_theta_orderkeys_global,
        "theta_serde_roundtrip_orderkeys": _q_theta_serde_roundtrip,
        "theta_distinct_customer_names": _q_theta_distinct_names,
        "theta_setops_custkey_halves": _q_theta_setops,
        "theta_jaccard_custkey_halves": _q_theta_jaccard,
        "hll_distinct_nations_by_region": _q_hll_nations_by_region,
        "cpc_distinct_nations_by_region": _q_cpc_distinct_nations,
        "long_dup_substrings": _q_long_dup_substrings,
        "kll_quantiles_acctbal_by_nation": _q_kll_acctbal_by_nation,
        "req_quantiles_acctbal_by_nation": _q_req_quantiles_acctbal,
        "req_serde_roundtrip_custkeys": _q_req_serde_roundtrip,
        "kll_price_stats": _q_kll_price_stats,
        "kll_longs_orderdate_quantiles": _q_kll_longs_orderdate,
        "kll_strings_custname_quantiles": _q_kll_strings_custname,
        "kll_items_serde_roundtrip_names": _q_kll_items_serde_roundtrip,
        "freq_orderpriority_counts": _q_freq_orderpriority,
        "freq_orderpriority_wire_roundtrip": _q_freq_orderpriority_wire,
        "freq_heavy_suppliers": _q_freq_heavy_suppliers,
        "reservoir_nation_cover": _q_reservoir_nations,
        "varopt_subset_sum_parts": _q_varopt_subset_sum,
        "varopt_true_subset_sum_parts": _q_varopt_true_subset_sum,
        "theta_incremental_events": _q_theta_incremental_events,
        "tuple_spend_by_nation": _q_tuple_spend_by_nation,
        "fdt_parts_per_supplier": _q_fdt_parts_per_supplier,
        "exact_dedup_documents": _q_exact_dedup_documents,
        "lsh_dup_pairs_documents": _q_lsh_dup_pairs_documents,
        "dedup_clusters_documents": _q_dedup_clusters_documents,
        "ngram_jaccard_pairs": _q_ngram_jaccard_pairs,
        "simhash_near_pairs": _q_simhash_near_pairs,
        "winnow_fingerprints_documents": _q_winnow_fingerprints_documents,
        "frequent_ngram_spans_documents": _q_frequent_ngram_spans,
        "remove_ngram_spans_documents": _q_remove_ngram_spans,
        "text_stats_documents": _q_text_stats_documents,
        "quality_filter_documents": _q_quality_filter_documents,
        "ann_cosine_topk": _q_ann_cosine_topk,
        "ann_cosine_topk_lsh": _q_ann_cosine_topk_lsh,
        "ann_cosine_topk_ivf": _q_ann_cosine_topk_ivf,
        "embedding_cosine_pairs": _q_embedding_cosine_pairs,
        "embedding_dedup_clusters": _q_embedding_dedup_clusters,
        "sql_theta_distinct_by_nation": _q_sql_theta_distinct_by_nation,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "theta_distinct_customers_by_nation": """
            SELECT c_nationkey, COUNT(DISTINCT c_custkey) AS distinct_customers
            FROM customer GROUP BY 1 ORDER BY 1""",
        "sql_theta_distinct_by_nation": """
            SELECT c_nationkey, COUNT(DISTINCT c_custkey) AS distinct_customers
            FROM customer GROUP BY 1 ORDER BY 1""",
        "theta_distinct_orderkeys": """
            SELECT COUNT(DISTINCT o_orderkey) AS distinct_orderkeys FROM orders""",
        "theta_serde_roundtrip_orderkeys": """
            SELECT COUNT(DISTINCT o_orderkey) AS distinct_orderkeys FROM orders""",
        "theta_distinct_customer_names": """
            SELECT COUNT(DISTINCT c_name) AS distinct_names
            FROM customer WHERE c_name IS NOT NULL AND c_name != ''""",
        "theta_setops_custkey_halves": """
            WITH a AS (SELECT DISTINCT o_custkey FROM orders
                       WHERE o_orderdate < TIMESTAMP '1998-01-01'),
                 b AS (SELECT DISTINCT o_custkey FROM orders
                       WHERE o_orderdate >= TIMESTAMP '1998-01-01')
            SELECT (SELECT count(*) FROM (SELECT * FROM a UNION SELECT * FROM b))
                     AS union_custkeys,
                   (SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b))
                     AS intersect_custkeys,
                   (SELECT count(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b))
                     AS a_not_b_custkeys""",
        "theta_jaccard_custkey_halves": """
            WITH a AS (SELECT DISTINCT o_custkey FROM orders
                       WHERE o_orderdate < TIMESTAMP '1998-01-01'),
                 b AS (SELECT DISTINCT o_custkey FROM orders
                       WHERE o_orderdate >= TIMESTAMP '1998-01-01'),
                 i AS (SELECT count(*) c FROM (SELECT * FROM a INTERSECT SELECT * FROM b)),
                 u AS (SELECT count(*) c FROM (SELECT * FROM a UNION SELECT * FROM b))
            SELECT (SELECT c FROM i) * 1000000 // (SELECT c FROM u)
                   AS jaccard_micros""",
        "hll_distinct_nations_by_region": """
            SELECT n_regionkey, COUNT(DISTINCT n_nationkey) AS distinct_nations
            FROM nation GROUP BY 1 ORDER BY 1""",
        "cpc_distinct_nations_by_region": """
            SELECT n_regionkey, COUNT(DISTINCT n_nationkey) AS distinct_nations
            FROM nation GROUP BY 1 ORDER BY 1""",
        "kll_quantiles_acctbal_by_nation": """
            WITH r AS (SELECT c_nationkey, c_acctbal,
                              cume_dist() OVER (PARTITION BY c_nationkey
                                                ORDER BY c_acctbal) cd
                       FROM customer)
            SELECT c_nationkey,
                   MIN(c_acctbal) FILTER (WHERE cd >= 0.25) AS q25,
                   MIN(c_acctbal) FILTER (WHERE cd >= 0.5)  AS q50,
                   MIN(c_acctbal) FILTER (WHERE cd >= 0.75) AS q75
            FROM r GROUP BY 1 ORDER BY 1""",
        "req_quantiles_acctbal_by_nation": """
            WITH r AS (SELECT c_nationkey, c_acctbal,
                              cume_dist() OVER (PARTITION BY c_nationkey
                                                ORDER BY c_acctbal) cd
                       FROM customer)
            SELECT c_nationkey,
                   MIN(c_acctbal) FILTER (WHERE cd >= 0.25) AS q25,
                   MIN(c_acctbal) FILTER (WHERE cd >= 0.5)  AS q50,
                   MIN(c_acctbal) FILTER (WHERE cd >= 0.75) AS q75
            FROM r GROUP BY 1 ORDER BY 1""",
        "req_serde_roundtrip_custkeys": """
            WITH r AS (SELECT c_nationkey, c_custkey,
                              cume_dist() OVER (PARTITION BY c_nationkey
                                                ORDER BY c_custkey) cd
                       FROM customer)
            SELECT c_nationkey,
                   MIN(c_custkey) FILTER (WHERE cd >= 0.25) AS q25,
                   MIN(c_custkey) FILTER (WHERE cd >= 0.5)  AS q50,
                   MIN(c_custkey) FILTER (WHERE cd >= 0.75) AS q75
            FROM r GROUP BY 1 ORDER BY 1""",
        "kll_longs_orderdate_quantiles": """
            WITH r AS (SELECT CAST(datediff('day', DATE '1970-01-01',
                                   CAST(o_orderdate AS DATE)) AS BIGINT) v,
                              cume_dist() OVER (ORDER BY CAST(o_orderdate AS DATE)) cd
                       FROM orders)
            SELECT MIN(v) FILTER (WHERE cd >= 0.25) AS q25,
                   MIN(v) FILTER (WHERE cd >= 0.5)  AS q50,
                   MIN(v) FILTER (WHERE cd >= 0.75) AS q75
            FROM r""",
        "kll_strings_custname_quantiles": """
            WITH r AS (SELECT c_name v,
                              cume_dist() OVER (ORDER BY c_name) cd
                       FROM customer WHERE c_name IS NOT NULL)
            SELECT MIN(v) FILTER (WHERE cd >= 0.25) AS q25,
                   MIN(v) FILTER (WHERE cd >= 0.5)  AS q50,
                   MIN(v) FILTER (WHERE cd >= 0.75) AS q75
            FROM r""",
        "kll_items_serde_roundtrip_names": """
            WITH r AS (SELECT c_name v,
                              cume_dist() OVER (ORDER BY c_name) cd
                       FROM customer
                       WHERE c_custkey <= 100 AND c_name IS NOT NULL)
            SELECT MIN(v) FILTER (WHERE cd >= 0.25) AS q25,
                   MIN(v) FILTER (WHERE cd >= 0.5)  AS q50,
                   MIN(v) FILTER (WHERE cd >= 0.75) AS q75
            FROM r""",
        "kll_price_stats": """
            SELECT count(l_extendedprice) AS n,
                   min(l_extendedprice) AS min_price,
                   max(l_extendedprice) AS max_price FROM lineitem""",
        "freq_orderpriority_counts": """
            SELECT o_orderpriority, count(*) AS cnt FROM orders
            GROUP BY 1 ORDER BY 1""",
        "freq_orderpriority_wire_roundtrip": """
            SELECT o_orderpriority, count(*) AS cnt FROM orders
            GROUP BY 1 ORDER BY 1""",
        "freq_heavy_suppliers": """
            SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY 1
            HAVING count(*) >= (SELECT count(*) // 120 FROM lineitem)
            ORDER BY 1""",
        "reservoir_nation_cover": """
            SELECT n_nationkey FROM nation ORDER BY 1""",
        "varopt_subset_sum_parts": """
            SELECT round(sum(p_retailprice), 2) AS retail_sum_mod3
            FROM part WHERE p_partkey % 3 = 0""",
        "varopt_true_subset_sum_parts": """
            SELECT round(sum(p_retailprice), 2) AS retail_sum_mod5
            FROM part WHERE p_partkey % 5 = 0""",
        "theta_incremental_events": """
            SELECT event_type, COUNT(DISTINCT user_id) AS distinct_users
            FROM events GROUP BY 1 ORDER BY 1""",
        "tuple_spend_by_nation": """
            SELECT c.c_nationkey,
                   COUNT(DISTINCT o.o_custkey) AS distinct_customers,
                   CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS spend_cents
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1 ORDER BY 1""",
        "fdt_parts_per_supplier": """
            SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS distinct_rest
            FROM lineitem GROUP BY 1
            ORDER BY 2 DESC, 1 LIMIT 10""",
        "exact_dedup_documents": """
            WITH n AS (SELECT doc_id,
                              lower(regexp_replace(text, '\\s+', ' ', 'g')) norm
                       FROM documents),
                 c AS (SELECT norm, min(doc_id) canonical_id, count(*) group_size
                       FROM n GROUP BY 1)
            SELECT n.doc_id, c.canonical_id, c.group_size
            FROM n JOIN c USING (norm) ORDER BY n.doc_id""",
        "lsh_dup_pairs_documents": _DOC_PAIRS_CTE + """
            SELECT ia AS doc_a, ib AS doc_b,
                   inter * 1000000 // uni AS jaccard_micros
            FROM pairs ORDER BY 1, 2""",
        # The SimHash fingerprint itself is not SQL-expressible, but the
        # emitted pair set is: Hamming-12 candidates verified at exact
        # Jaccard >= 0.8 equal the oracle's J>=0.8 pair set.
        # RECALL PRECONDITION: equality holds only while the Hamming-12
        # ball recalls every J>=0.8 pair — SimHash recall is
        # probabilistic and corpus-dependent.  The engine's guaranteed
        # invariant is CONTAINMENT (every emitted pair satisfies
        # J>=0.8); full recall at the pinned test scales is asserted
        # separately in tests/test_simhash_containment.py.  If this
        # oracle row ever mismatches on new data, diagnose as a recall
        # shortfall (missing rows, spark_rows < oracle_rows), not an
        # operator bug — emitted pairs remain individually correct.
        "simhash_near_pairs": _DOC_PAIRS_CTE + """
            SELECT ia AS doc_a, ib AS doc_b,
                   inter * 1000000 // uni AS jaccard_micros
            FROM pairs ORDER BY 1, 2""",
        "long_dup_substrings": _DOC_PAIRS_CTE + """,
            pairdocs AS (SELECT DISTINCT ia AS doc_id FROM pairs
                         UNION SELECT DISTINCT ib FROM pairs),
            subs AS (SELECT d.doc_id,
                            unnest(list_transform(
                              range(1, length(d.text) - 256 + 2),
                              i -> d.text[i:i+255])) sub
                     FROM documents d JOIN pairdocs USING (doc_id)
                     WHERE length(d.text) >= 256),
            hit AS (SELECT DISTINCT p.ia, p.ib FROM pairs p
                    JOIN subs sa ON sa.doc_id = p.ia
                    JOIN subs sb ON sb.doc_id = p.ib AND sb.sub = sa.sub)
            SELECT p.ia AS doc_a, p.ib AS doc_b,
                   (h.ia IS NOT NULL) AS long_dup
            FROM pairs p LEFT JOIN hit h ON h.ia = p.ia AND h.ib = p.ib
            ORDER BY 1, 2""",
        "ngram_jaccard_pairs": f"""
            WITH t AS (SELECT doc_id,
                              {SHINGLE_TOKENIZE_SQL} toks
                       FROM documents),
            g AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3 THEN
                    list_transform(range(1, len(toks)-2+1),
                                   i -> array_to_string(toks[i:i+2], ' '))
                    ELSE [array_to_string(toks, ' ')] END) grams FROM t),
            p AS (SELECT a.doc_id da, b.doc_id db,
                         len(list_intersect(a.grams, b.grams))::bigint i,
                         (len(a.grams) + len(b.grams)
                          - len(list_intersect(a.grams, b.grams)))::bigint u
                  FROM g a JOIN g b ON a.doc_id < b.doc_id)
            SELECT da AS doc_a, db AS doc_b, i * 1000000 // u AS jaccard_micros
            FROM p WHERE i * 5 >= u * 3 ORDER BY 1, 2""",
        "dedup_clusters_documents": _DOC_PAIRS_CTE + """,
            edges AS (SELECT ia a, ib b FROM pairs
                      UNION SELECT ib, ia FROM pairs),
            rec AS (
              WITH RECURSIVE reach(a, b) AS (
                SELECT a, b FROM edges
                UNION
                SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
              SELECT a, min(b) mn FROM reach GROUP BY a),
            comp AS (SELECT a AS id, least(a, mn) AS cluster_id FROM rec)
            SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
            ORDER BY d.doc_id""",
        "winnow_fingerprints_documents": f"""
            WITH t AS (SELECT doc_id, {SHINGLE_TOKENIZE_SQL} toks
                       FROM documents),
            g AS (SELECT doc_id, CASE WHEN len(toks) >= 3 THEN
                    list_transform(range(1, len(toks)-2+1),
                                   i -> array_to_string(toks[i:i+2], ' '))
                    ELSE [array_to_string(toks, ' ')] END grams FROM t),
            hh AS (SELECT doc_id, list_transform(grams,
                    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) hs
                   FROM g),
            p AS (SELECT doc_id, unnest(hs) h, generate_subscripts(hs, 1) pos,
                         len(hs) n FROM hh),
            wm AS (SELECT doc_id, n, pos,
                          min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                       ROWS BETWEEN CURRENT ROW
                                       AND 7 FOLLOWING) m
                   FROM p),
            fp AS (SELECT DISTINCT doc_id, m AS fingerprint FROM wm
                   WHERE n > 8 AND pos <= n - 7
                   UNION
                   SELECT doc_id, min(h) AS fingerprint FROM p
                   WHERE n <= 8 GROUP BY doc_id)
            SELECT doc_id, fingerprint FROM fp ORDER BY 1, 2""",
        "frequent_ngram_spans_documents": f"""
            WITH t AS (SELECT doc_id, {SHINGLE_TOKENIZE_SQL} toks
                       FROM documents),
            hh AS (SELECT doc_id, CASE WHEN len(toks) >= 8 THEN
                     list_transform(range(1, len(toks)-8+2),
                       i -> CAST(('0x' || substr(md5(
                              array_to_string(toks[i:i+7], ' ')), 1, 15))
                            AS BIGINT))
                     ELSE CAST([] AS BIGINT[]) END hs FROM t),
            p AS (SELECT doc_id, unnest(hs) h,
                         generate_subscripts(hs, 1) i FROM hh),
            hot AS (SELECT h, count(*) tc,
                           count(DISTINCT doc_id) nd
                    FROM p GROUP BY 1 HAVING count(*) >= 3)
            SELECT p.doc_id, p.i - 1 AS pos, p.h AS gram_hash,
                   hot.nd AS n_docs, hot.tc AS total_count
            FROM p JOIN hot ON p.h = hot.h
            ORDER BY 1, 2""",
        "remove_ngram_spans_documents": f"""
            WITH t AS (SELECT doc_id, {SHINGLE_TOKENIZE_SQL} toks
                       FROM documents),
            hh AS (SELECT doc_id, CASE WHEN len(toks) >= 8 THEN
                     list_transform(range(1, len(toks)-8+2),
                       i -> CAST(('0x' || substr(md5(
                              array_to_string(toks[i:i+7], ' ')), 1, 15))
                            AS BIGINT))
                     ELSE CAST([] AS BIGINT[]) END hs FROM t),
            p AS (SELECT doc_id, unnest(hs) h,
                         generate_subscripts(hs, 1) i FROM hh),
            hot AS (SELECT h FROM p GROUP BY 1 HAVING count(*) >= 3),
            spanpos AS (SELECT DISTINCT p.doc_id, p.i - 1 + r.off AS tp
                        FROM p JOIN hot ON p.h = hot.h,
                             range(0, 8) r(off)),
            tok AS (SELECT doc_id, unnest(toks) tok,
                           generate_subscripts(toks, 1) - 1 AS tp FROM t),
            kept AS (SELECT k.doc_id, k.tok, k.tp FROM tok k
                     LEFT JOIN spanpos sp
                       ON sp.doc_id = k.doc_id AND sp.tp = k.tp
                     WHERE sp.tp IS NULL),
            ka AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tp) ct,
                          count(*) kc FROM kept GROUP BY 1)
            SELECT t.doc_id, coalesce(ka.ct, '') AS clean_text,
                   CAST(len(t.toks) - coalesce(ka.kc, 0) AS BIGINT)
                     AS n_tokens_removed
            FROM t LEFT JOIN ka USING (doc_id) ORDER BY 1""",
        "text_stats_documents": f"""
            SELECT doc_id,
                   len({SHINGLE_TOKENIZE_SQL})
                     AS token_cnt,
                   length(text) AS char_cnt,
                   len(list_distinct({SHINGLE_TOKENIZE_SQL}))
                     AS distinct_tokens,
                   len(regexp_extract_all(text, '{_BPE_RE_SQL}', 0))
                     AS bpe_token_cnt
            FROM documents ORDER BY doc_id""",
        "quality_filter_documents": _quality_filter_oracle_sql(),
        "ann_cosine_topk": """
            WITH q AS (SELECT vec_id qid, embedding qe FROM embeddings
                       WHERE vec_id < 10),
                 s AS (SELECT qid, vec_id nid,
                              list_cosine_similarity(qe, embedding) sim
                       FROM q JOIN embeddings ON vec_id != qid),
                 r AS (SELECT qid, nid,
                              row_number() OVER (PARTITION BY qid
                                                 ORDER BY sim DESC, nid) rk
                       FROM s)
            SELECT qid AS query_id, nid AS neighbor_id, rk AS rank
            FROM r WHERE rk <= 5 ORDER BY 1, 3""",
        "ann_cosine_topk_lsh": _ann_lsh_oracle_sql(),
        "ann_cosine_topk_ivf": _ann_ivf_oracle_sql(),
        "embedding_cosine_pairs": """
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(
                    CAST(a.embedding AS DOUBLE[]),
                    CAST(b.embedding AS DOUBLE[])) >= 0.4
            ORDER BY 1, 2""",
        "embedding_dedup_clusters": """
            WITH p AS (SELECT a.vec_id ia, b.vec_id ib
                       FROM embeddings a JOIN embeddings b
                         ON a.vec_id < b.vec_id
                       WHERE list_cosine_similarity(
                               CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[])) >= 0.4),
            edges AS (SELECT ia a, ib b FROM p UNION SELECT ib, ia FROM p),
            rec AS (
              WITH RECURSIVE reach(a, b) AS (
                SELECT a, b FROM edges
                UNION
                SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
              SELECT a, min(b) mn FROM reach GROUP BY a),
            comp AS (SELECT a AS id, least(a, mn) AS cluster_id FROM rec)
            SELECT v.vec_id, coalesce(c.cluster_id, v.vec_id) AS cluster_id
            FROM embeddings v LEFT JOIN comp c ON v.vec_id = c.id
            ORDER BY v.vec_id""",
    }
