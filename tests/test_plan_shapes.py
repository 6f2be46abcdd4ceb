"""Physical-plan regression guards.

The round-1 verdict flagged three O(n²) CartesianProduct queries; the
round-2 rewrites replaced them with equi-join/blocked plans.  These
tests pin that property so a refactor can't silently reintroduce a
cartesian, and check the verification join keeps its shuffle-hash
shape (sort-merge over array payloads anti-scales — BENCH.md).
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_TINY


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _query_plans(spark, qname: str, sf: str, monkeypatch) -> str:
    """The physical plans a driver query runs: its own, and the plan of
    every stage it local-checkpoints on the way (a checkpointed stage
    shows up in the final plan only as ``Scan ExistingRDD``)."""
    import __spark_entry__ as entry
    DataFrame = type(spark.range(1))   # the session's concrete class
    plans = []
    checkpoint = DataFrame.localCheckpoint

    def spy(df, *args, **kwargs):
        plans.append(_physical_plan(df))
        return checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    plans.append(_physical_plan(entry.queries()[qname](spark, sf)))
    return "\n".join(plans)


@pytest.mark.parametrize("qname", [
    "simhash_near_pairs",
    "ngram_jaccard_pairs",
    "embedding_cosine_pairs",
    "embedding_dedup_clusters",
    "ann_cosine_topk_lsh",
    "ann_cosine_topk_ivf",
    "lsh_dup_pairs_documents",
])
def test_no_cartesian_product(spark, qname, monkeypatch):
    plan = _query_plans(spark, qname, SF_TINY, monkeypatch)
    assert "CartesianProduct" not in plan, f"{qname} regressed to a cartesian"


def _verify_plan(spark) -> str:
    from datasketches_java_spark.operators.lsh import (
        add_signatures, band_buckets, candidate_pairs, verify_pairs)
    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    sig = add_signatures(docs.select("doc_id", "text"), "text") \
        .localCheckpoint(eager=False)
    pairs = candidate_pairs(band_buckets(sig, "doc_id"), "doc_id")
    return _physical_plan(verify_pairs(pairs, sig, "doc_id"))


def test_verify_join_is_shuffle_hash(spark):
    """verify_pairs must not sort-merge the shingle-array side."""
    plan = _verify_plan(spark)
    assert "ShuffledHashJoin" in plan
    # the fat-array side must not be sorted by a sort-merge join
    assert "SortMergeJoin" not in plan


def test_verify_evaluates_one_union_per_pair(spark):
    """The exact-Jaccard verify runs one array_union per candidate pair
    and no array_intersect: the intersection size is derived from it,
    and the union is not re-evaluated by the filter and the projection
    that read the sizes."""
    plan = _verify_plan(spark)
    assert plan.count("array_union(") == 1, plan
    assert "array_intersect(" not in plan, plan


@pytest.mark.parametrize("qname", ["lsh_dup_pairs_documents",
                                   "simhash_near_pairs"])
def test_pair_queries_evaluate_one_union(spark, qname, monkeypatch):
    """The entry point's integer-Jaccard pair queries share verify's set
    sizes: one union per pair across every plan the query runs."""
    plan = _query_plans(spark, qname, SF_TINY, monkeypatch)
    assert plan.count("array_union(") == 1, plan
    assert "array_intersect(" not in plan, plan


def test_assign_clusters_join_is_shuffle_hash(spark):
    """Round-4 fix guard: the full-table x CC-component join must not
    sort-merge (the component side is checkpoint-derived and
    stats-less, so Spark would otherwise sort the fat table side)."""
    import __spark_entry__ as entry
    df = entry.queries()["embedding_dedup_clusters"](
        spark, "/root/testdata/sf0.001")
    plan = _physical_plan(df)
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_bounded_read_amplification(spark):
    """Round-4 fix guard: no query's EXECUTED plan re-derives the
    input scan more than 4 times (exact_dedup was measured at 10 and
    ngram at 7 before their lazy-checkpoint/gating fixes — at 100 TB
    every extra derivation is a full re-read of the corpus)."""
    import re
    import __spark_entry__ as entry
    for qname in ("exact_dedup_documents", "ngram_jaccard_pairs",
                  "embedding_dedup_clusters", "dedup_clusters_documents",
                  "frequent_ngram_spans_documents"):
        df = entry.queries()[qname](spark, "/root/testdata/sf0.001")
        df.collect()   # AQE final plan
        plan = _physical_plan(df)
        scans = len(re.findall(r"Scan parquet", plan))
        assert scans <= 4, f"{qname}: {scans} parquet scans in final plan"


def test_scan_prunes_columns(spark):
    """Column pruning reaches the parquet scan: the signature path
    reads only (doc_id, text), never the full documents schema."""
    from datasketches_java_spark.operators.lsh import add_signatures
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _physical_plan(
        add_signatures(docs.select("doc_id", "text"), "text"))
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines, "no parquet scan found"
    assert all("lang" not in ln and "url" not in ln for ln in scan_lines)


def test_exact_dedup_joins_on_hashed_key(spark):
    """Round-3/4 guard: the exact-dedup DOC-SIDE join key is the 8-byte
    xxhash64 of the normalized text, never the document-length string
    (shuffle-key width at 100 TB).  The norm string may appear in the
    first HashAggregate only (the round-4 collision confirm groups by
    (normkey, norm) once, with map-side combine) — the main join that
    redistributes every document row must stay on normkey alone."""
    import __spark_entry__ as entry
    df = entry.queries()["exact_dedup_documents"](
        spark, "/root/testdata/sf0.001")
    plan = _physical_plan(df)
    join_lines = [ln for ln in plan.splitlines() if "Join" in ln]
    assert any("normkey" in ln for ln in join_lines)
    clean_joins = [ln for ln in join_lines if "norm#" not in ln]
    assert clean_joins, "no join on the 8-byte normkey alone"


def test_quality_filter_is_scan_project_only(spark):
    """The quality-filter query must stay a single scan + codegen
    projection (+ the final sort): no join, no aggregate, no UDF."""
    import __spark_entry__ as entry
    df = entry.queries()["quality_filter_documents"](
        spark, "/root/testdata/sf0.001")
    plan = _physical_plan(df)
    for node in ("Join", "HashAggregate", "BatchEvalPython",
                 "ArrowEvalPython", "FlatMapsInPandas"):
        assert node not in plan, f"unexpected {node} in quality filter plan"
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines and all("embedding" not in ln for ln in scan_lines)


def test_ngram_hot_join_not_forced_broadcast(spark):
    """Round-5 guard: frequent_ngram_spans must NOT force the hot-gram
    set into a broadcast by default — at 10^12 docs the >= min_count
    n-gram set can be billions of rows and a forced broadcast OOMs the
    executors.  The default plan carries no broadcast hint (AQE may
    still promote from runtime stats, which is the point); the
    explicit broadcast_hot=True opt-in carries one."""
    from datasketches_java_spark.functions.text import tokens
    from datasketches_java_spark.operators.ngram_spans import (
        frequent_ngram_spans)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    dflt = frequent_ngram_spans(docs, "doc_id", "text", tokens,
                                n=8, min_count=3)
    lp = dflt._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in lp, "default forces a broadcast"
    forced = frequent_ngram_spans(docs, "doc_id", "text", tokens,
                                  n=8, min_count=3, broadcast_hot=True)
    lf = forced._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" in lf, "broadcast_hot=True lost its hint"


def test_remove_spans_probe_is_array_except(spark):
    """Round-5 guard: the cover probe is the hash-set array_except on
    keep positions, not a per-token array_contains scan (O(tokens x
    covered) per doc — quadratic on fully boilerplate documents)."""
    from datasketches_java_spark.functions.text import tokens
    from datasketches_java_spark.operators.ngram_spans import (
        remove_frequent_ngram_spans)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = remove_frequent_ngram_spans(docs, "doc_id", "text", tokens,
                                     n=8, min_count=3)
    plan = _physical_plan(df)
    assert "array_except" in plan
    assert "array_contains" not in plan


def test_two_phase_agg_single_shuffle(spark):
    """The sketch aggregation contract: ONE exchange between partial
    and final (images-only shuffle), pinned on the new items-KLL and
    true-VarOpt aggs."""
    from datasketches_java_spark.functions.sketch_aggs import (
        kll_items_sketch_agg, varopt_sketch_agg)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for agg_df in (
            kll_items_sketch_agg(docs.select("doc_id"), "doc_id",
                                 k=1024, dtype="long"),
            varopt_sketch_agg(
                docs.selectExpr("doc_id", "cast(doc_id as double) w"),
                "doc_id", "w", k=256)):
        plan = _physical_plan(agg_df)
        assert plan.count("Exchange") == 1, plan
