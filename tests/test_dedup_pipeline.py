"""End-to-end north-star tests: recall vs golden, extraction
byte-identity, connected components, suffix-array LCS, resume."""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from datasketches_java_spark.operators.connected_components import (
    assign_clusters,
    connected_components,
)
from datasketches_java_spark.operators.suffix_array import (
    longest_common_substring,
    suffix_array,
)
from datasketches_java_spark.plans.dedup import dedup_pipeline
from datasketches_java_spark.sources.webtext import (
    extract_text_column,
    generate_webtext,
    write_fixture,
)


@pytest.fixture(scope="module")
def fixture_paths(tmp_path_factory):
    out = tmp_path_factory.mktemp("webtext")
    return write_fixture(str(out), n_docs=2000, seed=42)


@pytest.fixture(scope="module")
def pages(spark, fixture_paths):
    return spark.read.parquet(fixture_paths["pages"]).cache()


def test_extraction_byte_identity(spark, pages, fixture_paths):
    """BASELINE.json input_hint: byte-identical extracted text per url."""
    extracted = pages.withColumn("ext", extract_text_column())
    bad = extracted.filter(F.col("ext") != F.col("text")).count()
    assert bad == 0
    golden = spark.read.parquet(fixture_paths["golden_text"])
    got = extracted.select(
        "url", F.sha2(F.col("ext").cast("binary"), 256).alias("sha"))
    mism = got.join(golden, on="url").filter(
        F.col("sha") != F.col("text_sha256")).count()
    assert mism == 0


def test_pipeline_recall_and_precision(spark, pages, fixture_paths, tmp_path):
    golden = spark.read.parquet(fixture_paths["golden_dup_pairs"])
    n_golden = golden.count()
    assert n_golden > 100

    res = dedup_pipeline(spark, pages)
    clusters = res.clusters.cache()

    # dup-pair recall >= 0.99: golden pair lands in one predicted cluster
    c = clusters.withColumnRenamed("url", "u").withColumnRenamed(
        "cluster_id", "c")
    hit = (golden
           .join(c.withColumnRenamed("u", "url_a").withColumnRenamed("c", "ca"),
                 on="url_a")
           .join(c.withColumnRenamed("u", "url_b").withColumnRenamed("c", "cb"),
                 on="url_b")
           .filter(F.col("ca") == F.col("cb")).count())
    recall = hit / n_golden
    assert recall >= 0.99, f"dup-pair recall {recall:.4f} < 0.99"

    # verified pairs are >= threshold by construction; check precision
    # against golden (every verified pair with both urls in goldens must
    # be a golden pair)
    vp = res.dup_pairs.select("id_a", "id_b")
    false_pos = vp.join(golden, (vp.id_a == golden.url_a) &
                        (vp.id_b == golden.url_b), "left_anti").count()
    # non-golden verified pairs can only come from cross-group accidents;
    # the word-salad vocabulary makes them essentially impossible
    assert false_pos == 0

    # cluster ids are deterministic min-member ids
    bad_min = (clusters.groupBy("cluster_id").agg(F.min("url").alias("m"))
               .filter(F.col("m") != F.col("cluster_id")).count())
    assert bad_min == 0


def test_pipeline_checkpoint_resume(spark, pages, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    res1 = dedup_pipeline(spark, pages.limit(300), checkpoint_dir=ckpt)
    n1 = res1.dup_pairs.count()
    # resume: same dir → stages read back, identical results
    res2 = dedup_pipeline(spark, pages.limit(300), checkpoint_dir=ckpt)
    assert res2.dup_pairs.count() == n1
    assert res2.clusters.exceptAll(res1.clusters).count() == 0
    # metrics exist per stage with per-partition lineage rows
    from datasketches_java_spark.operators.checkpoint import CheckpointStore
    store = CheckpointStore(spark, ckpt)
    m = store.all_metrics()
    assert {"partition_id", "rows", "stage", "wall_ms"} <= set(m.columns)
    # hot buckets are a view over 02, not a stage of their own
    assert {r.stage for r in m.select("stage").distinct().collect()} == {
        "01_signatures", "02_band_buckets", "04_candidate_pairs",
        "05_verified_pairs", "06_clusters"}


def test_dedup_metrics_counts_hot_buckets(spark):
    """``n_hot_buckets`` is the hot-bucket view over the band table: a
    template copied past the cap fills one bucket per band."""
    from datasketches_java_spark.config import LSH_BANDS, LSH_BUCKET_CAP
    from datasketches_java_spark.operators.lsh import band_buckets, hot_buckets
    from datasketches_java_spark.plans.dedup import dedup_metrics

    base = spark.createDataFrame(
        generate_webtext(60, seed=7)["pages"]).select("url", "text")
    text = base.first()["text"]
    farm = spark.createDataFrame(
        [(f"farm{i}", text) for i in range(LSH_BUCKET_CAP + 6)],
        "url string, text string")
    res = dedup_pipeline(spark, base.unionByName(farm))
    direct = hot_buckets(band_buckets(res.signatures, "_sid")).count()
    assert dedup_metrics(res).first().n_hot_buckets == direct == LSH_BANDS


def test_resume_from_frozen_checkpoint(spark, tmp_path):
    """tests/golden/dedup_ckpt is a checkpoint tree written by an
    earlier version of the plan (60 generate_webtext pages, seed 7, url
    ids; its verified stage has no i/u columns).  Resuming from it must
    recompute nothing and give the pairs and clusters of a fresh run."""
    golden = Path(__file__).parent / "golden" / "dedup_ckpt"
    ckpt = tmp_path / "ckpt"
    shutil.copytree(golden, ckpt)
    t = generate_webtext(60, seed=7)
    pages = spark.createDataFrame(t["pages"]).select("url", "text")

    def outputs(res):
        return (sorted(res.dup_pairs.select("id_a", "id_b", "jaccard").collect()),
                sorted(res.clusters.collect()))

    resumed = outputs(dedup_pipeline(spark, pages, checkpoint_dir=str(ckpt)))
    assert resumed == outputs(dedup_pipeline(spark, pages))
    assert len(resumed[0]) == 46
    assert sum(r.url != r.cluster_id for r in resumed[1]) == 17
    assert sorted(p.name for p in ckpt.iterdir()) == \
        sorted(p.name for p in golden.iterdir())


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 9), (7, 6)], "id_a long, id_b long")
    comp = {r["id"]: r["component"]
            for r in connected_components(edges).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[5] == comp[6] == comp[7] == 5


def test_connected_components_chain_and_star(spark):
    # long chain (worst diameter) + big star
    chain = [(i, i + 1) for i in range(50)]
    star = [(100, 100 + i) for i in range(1, 40)]
    edges = spark.createDataFrame(chain + star, "id_a long, id_b long")
    comp = connected_components(edges)
    rows = comp.collect()
    chain_ids = {r["component"] for r in rows if r["id"] <= 50}
    star_ids = {r["component"] for r in rows if r["id"] >= 100}
    assert chain_ids == {0}
    assert star_ids == {100}


def test_connected_components_runs_no_action_beyond_checkpoints(spark, monkeypatch):
    """Each round's (count, xor-hash) fingerprint is observed inside
    the round's eager checkpoint job: CC runs no action of its own."""
    edges = spark.createDataFrame([(i, i + 1) for i in range(20)] + [(40, 41)],
                                  "id_a long, id_b long")
    DataFrame = type(edges)
    calls = []
    for name in ("first", "head", "take", "collect", "count", "toPandas",
                 "toArrow"):
        def spy(df, *a, _name=name, _orig=getattr(DataFrame, name), **k):
            calls.append(_name)
            return _orig(df, *a, **k)
        monkeypatch.setattr(DataFrame, name, spy)
    comp = connected_components(edges)
    assert calls == []
    monkeypatch.undo()
    got = {r["id"]: r["component"] for r in comp.collect()}
    assert got == {**{i: 0 for i in range(21)}, 40: 40, 41: 40}


def test_connected_components_raises_when_not_converged(spark):
    """Too few rounds for a long path must fail loudly, not return
    partial components."""
    path = [(i, i + 1) for i in range(32)]
    edges = spark.createDataFrame(path, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components(edges, max_iterations=1)


def test_checkpoint_read_back_matches_resume(spark, tmp_path):
    """The just-written stage is read back with the written schema; a
    resume infers it from the files.  Both must give the same frame."""
    from datasketches_java_spark.operators.checkpoint import CheckpointStore
    df = spark.createDataFrame(
        [(1, "a", [3, 1], 0.5), (2, None, None, None)],
        "id long, s string, arr array<long>, x double")
    ckpt = str(tmp_path / "ckpt")
    written = CheckpointStore(spark, ckpt).run_stage("s", lambda: df, "id")
    resumed = CheckpointStore(spark, ckpt).run_stage(
        "s", lambda: pytest.fail("resume recomputed the stage"), "id")
    assert written.schema == resumed.schema
    assert sorted(written.collect()) == sorted(resumed.collect())


def test_assign_clusters_singletons(spark):
    df = spark.createDataFrame([("a",), ("b",), ("c",)], "url string")
    edges = spark.createDataFrame([("b", "c")], "id_a string, id_b string")
    got = {r["url"]: r["cluster_id"]
           for r in assign_clusters(df, edges, "url").collect()}
    assert got == {"a": "a", "b": "b", "c": "b"}


def test_hot_bucket_salted_path(spark):
    """A bucket above cap·hot_factor takes the salted aggregate path:
    edges stay O(n) and the bucket stays one connected component."""
    from datasketches_java_spark.operators.lsh import candidate_pairs

    rows = ([(f"h{i:03d}", 0, 999) for i in range(100)]       # hot bucket
            + [(f"n{i}", 1, 5) for i in range(6)])            # normal bucket
    buckets = spark.createDataFrame(rows, "url string, band int, band_hash long")
    pairs = candidate_pairs(buckets, "url", bucket_cap=4,
                            hot_factor=2, n_salts=8)
    edges = pairs.collect()
    hot_edges = [e for e in edges if e["id_a"].startswith("h")]
    # O(n): members→salt-hub (≤100) + hub chain (≤8), NOT 100·99/2
    assert len(hot_edges) <= 110
    comp = connected_components(pairs).collect()
    hot_comps = {r["component"] for r in comp if r["id"].startswith("h")}
    assert hot_comps == {"h000"}
    norm_comps = {r["component"] for r in comp if r["id"].startswith("n")}
    assert norm_comps == {"n0"}


def test_suffix_array_matches_naive():
    rng = np.random.default_rng(7)
    for n in (1, 2, 5, 30, 200):
        s = rng.integers(0, 4, n).astype(np.int64)
        sa = suffix_array(s)
        naive = sorted(range(n), key=lambda i: tuple(s[i:]))
        assert list(sa) == naive


def test_longest_common_substring():
    assert longest_common_substring(b"", b"abc") == 0
    assert longest_common_substring(b"abc", b"xbcy") == 2
    run = b"R" * 300
    a = b"A" * 100 + run + b"B" * 50
    b = b"C" * 40 + run + b"D" * 90
    assert longest_common_substring(a, b) == 300
    assert longest_common_substring(b"abcdef", b"abcdef") == 6


def test_pipeline_lcs_stage(spark):
    t = generate_webtext(400, seed=42)
    pages = spark.createDataFrame(t["pages"])
    res = dedup_pipeline(spark, pages, with_lcs=True)
    cols = set(res.dup_pairs.columns)
    assert {"lcs_len", "long_dup"} <= cols
    # near-identical docs share long runs
    assert res.dup_pairs.filter("long_dup").count() > 0


def test_connected_components_mega_hub(spark):
    """A 100k-degree hub (the salted-LSH global-hub shape) must resolve
    without any row materializing the full neighbor list — the star
    ops are aggregate+join only (no collect_set)."""
    n = 100_000
    hub_edges = spark.range(1, n + 1).select(
        F.lit(0).alias("id_a"), F.col("id").alias("id_b"))
    # plus a side chain that merges into the hub component via one link
    chain = spark.createDataFrame(
        [(n + 1, n + 2), (n + 2, n + 3), (n + 3, 5)], "id_a long, id_b long")
    comp = connected_components(hub_edges.unionByName(chain))
    got = {r["id"]: r["component"] for r in comp.collect()}
    assert len(got) == n + 4
    assert set(got.values()) == {0}
