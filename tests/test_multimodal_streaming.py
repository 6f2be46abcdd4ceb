"""Tests: raw-media exact dedup over BINARY blobs, similarity search,
incremental streaming state."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from datasketches_java_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_blas,
    simhash_ann_buckets,
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [(i, bytes(np.random.default_rng(i).integers(0, 256, 4096,
                                                        dtype=np.uint8)))
            for i in range(20)]
    return spark.createDataFrame(rows, "media_id long, blob binary").cache()


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.default_rng(5)
    base = rng.standard_normal((40, 16))
    # make 0/1 and 2/3 near-identical pairs
    base[1] = base[0] + 0.01 * rng.standard_normal(16)
    base[3] = base[2] + 0.01 * rng.standard_normal(16)
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_cosine_topk_exact(spark, embeddings):
    out = cosine_topk(embeddings.filter("vec_id < 4"), embeddings,
                      "vec_id", "embedding", k=3).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in out if r["rank"] == 1}
    assert top1[0] == 1 and top1[1] == 0 and top1[2] == 3 and top1[3] == 2


def test_cosine_topk_blas_matches_exact(spark, embeddings):
    exact = cosine_topk(embeddings.filter("vec_id < 6"), embeddings,
                        "vec_id", "embedding", k=3)
    blas = cosine_topk_blas(embeddings.filter("vec_id < 6"), embeddings,
                            "vec_id", "embedding", k=3)
    assert blas.exceptAll(exact).count() == 0
    assert exact.exceptAll(blas).count() == 0


def test_simhash_ann_recall_at_near_dup(spark, embeddings):
    out = simhash_ann_buckets(embeddings.filter("vec_id < 2"), embeddings,
                              "vec_id", "embedding", k=3, bits=4).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in out if r["rank"] == 1}
    # near-identical vectors land in the same hyperplane bucket
    assert top1.get(0) == 1 and top1.get(1) == 0


# ---------------------------------------------------------------------------
# incremental / streaming
# ---------------------------------------------------------------------------

def test_incremental_theta_state(spark, tmp_path):
    from datasketches_java_spark.functions.sketch_aggs import theta_estimate
    from datasketches_java_spark.streaming.incremental import (
        incremental_theta_state)
    state = str(tmp_path / "st")
    b1 = spark.createDataFrame([(i % 3, i) for i in range(100)], "k int, v long")
    b2 = spark.createDataFrame([(i % 3, i) for i in range(50, 200)], "k int, v long")
    incremental_theta_state(spark, b1, state, "v", by=["k"])
    merged = incremental_theta_state(spark, b2, state, "v", by=["k"])
    got = {r["k"]: int(round(r["est"])) for r in merged.select(
        "k", theta_estimate("theta_sketch").alias("est")).collect()}
    # exact mode: distinct v per k over 0..199
    want = {k: len({v for v in range(200) if v % 3 == k}) for k in range(3)}
    assert got == want


def test_delta_new_docs(spark):
    from datasketches_java_spark.streaming.incremental import delta_new_docs
    pages = spark.createDataFrame([(f"u{i}", "t") for i in range(10)],
                                  "url string, text string")
    done = spark.createDataFrame([(f"u{i}",) for i in range(6)], "url string")
    assert delta_new_docs(pages, done, "url").count() == 4


def test_epoch_drift_check(spark, tmp_path):
    from datasketches_java_spark.streaming.incremental import epoch_drift_check
    rng = np.random.default_rng(11)
    same1 = spark.createDataFrame(
        [(float(x),) for x in rng.normal(0, 1, 4000)], "x double")
    same2 = spark.createDataFrame(
        [(float(x),) for x in rng.normal(0, 1, 4000)], "x double")
    shifted = spark.createDataFrame(
        [(float(x),) for x in rng.normal(3, 1, 4000)], "x double")
    state = str(tmp_path / "drift")
    r0 = epoch_drift_check(spark, same1, state, "x")
    assert r0 == {"drifted": False, "d": 0.0}  # first epoch: no baseline
    r1 = epoch_drift_check(spark, same2, state, "x")
    assert not r1["drifted"]
    r2 = epoch_drift_check(spark, shifted, state, "x")
    assert r2["drifted"] and r2["d"] > 0.5


def test_streaming_sketch_query(spark, tmp_path):
    """Structured Streaming micro-batch path: rate-limited file stream
    of events → windowed theta state; result equals batch answer."""
    import pandas as pd
    from datasketches_java_spark.functions.sketch_aggs import theta_estimate
    from datasketches_java_spark.streaming.incremental import (
        incremental_sketch_stream)
    src = tmp_path / "src"
    src.mkdir()
    pdf = pd.DataFrame({
        "ts": pd.to_datetime("2025-01-01") + pd.to_timedelta(
            np.arange(300) * 20, unit="s"),
        "user": np.arange(300) % 37,
        "etype": ["a" if i % 2 else "b" for i in range(300)],
    })
    pdf.to_parquet(src / "p0.parquet", index=False, coerce_timestamps="us",
                   allow_truncated_timestamps=True)
    stream = (spark.readStream.schema("ts timestamp, user long, etype string")
              .parquet(str(src)))
    q = incremental_sketch_stream(spark, stream, str(tmp_path / "state"),
                                  "user", by=["etype"], ts_col="ts",
                                  window="30 minutes")
    q.awaitTermination(120)
    state = spark.read.parquet(str(tmp_path / "state" / "theta_state"))
    got = state.select("win", "etype",
                       F.round(theta_estimate("theta_sketch")).cast("long")
                       .alias("users"))
    batch = (spark.createDataFrame(pdf)
             .withColumn("win", F.window("ts", "30 minutes").start.cast("string"))
             .groupBy("win", "etype")
             .agg(F.countDistinct("user").alias("users")))
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_ivf_cosine_topk_recall(spark):
    """IVF probe of 4/16 cells must recover most exact top-5
    neighbors (data-independent coarse quantizer ⇒ recall well below
    1.0 is possible, but same-cell probing captures the bulk at this
    dimensionality); sanity of the assign→probe→re-score plan."""
    from datasketches_java_spark.operators.similarity import (
        cosine_topk, ivf_cosine_topk)
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qs = emb.filter("vec_id < 20")
    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(qs, emb, "vec_id", "embedding", k=5).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in ivf_cosine_topk(qs, emb, "vec_id", "embedding",
                                       k=5, n_cells=16, nprobe=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3  # untrained quantizer floor; plan correctness
    # every IVF result is a real corpus vector and never the query
    assert all(q != n for q, n in approx)


# value column type -> value of the row numbered v
_STREAM_VALUES = {"long": lambda v: v,
                  "double": lambda v: v / 4.0,  # 0.25, 0.5, 0.75 distinct
                  "string": lambda v: f"s{v}"}


def _stateful_latest(spark, tmp_path, vtype, batches, name):
    """Stream ``batches`` (one parquet file per micro-batch) through
    stateful_theta_distinct; the last emission per key wins (update
    mode emits per batch): {key: (distinct_estimate, rows_seen)}."""
    from datasketches_java_spark.streaming.incremental import (
        stateful_theta_distinct)
    src = tmp_path / "stream_src"
    src.mkdir()
    for i, pdf in enumerate(batches):
        pdf.to_parquet(src / f"b{i + 1}.parquet")
    stream = (spark.readStream.schema(f"k string, v {vtype}")
              .option("maxFilesPerTrigger", "1").parquet(str(src)))
    out = stateful_theta_distinct(stream, "k", "v", lg_k=12)
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    return {r["key"]: (r["distinct_estimate"], r["rows_seen"])
            for r in spark.sql(f"SELECT * FROM {name}").collect()}


@pytest.mark.parametrize("vtype", list(_STREAM_VALUES))
def test_stateful_theta_distinct_stream(spark, tmp_path, vtype):
    """applyInPandasWithState theta state: feed the same rows in TWO
    micro-batches (maxFilesPerTrigger=1); the final per-key estimate
    must equal the exact distinct count over BOTH batches — the state
    really persists and the union algebra hides batch boundaries.  The
    value column hashes by its declared type, so the counts do not
    depend on it."""
    import pandas as pd
    conv = _STREAM_VALUES[vtype]
    # batch 1: keys a,b ; batch 2: overlapping values for a, new key c
    latest = _stateful_latest(spark, tmp_path, vtype, [
        pd.DataFrame({"k": ["a"] * 60 + ["b"] * 40,
                      "v": [conv(v) for v in [*range(60), *range(40)]]}),
        pd.DataFrame({"k": ["a"] * 50 + ["c"] * 30,
                      "v": [conv(v) for v in [*range(30, 80), *range(30)]]}),
    ], f"theta_state_{vtype}")
    assert round(latest["a"][0]) == 80   # 0..79 across both batches
    assert latest["a"][1] == 110
    assert round(latest["b"][0]) == 40
    assert round(latest["c"][0]) == 30


def test_stateful_theta_distinct_bigint_with_null(spark, tmp_path):
    """A NULL in a BIGINT micro-batch must not turn the longs into
    doubles: 2^53 and 2^53+1 stay two distinct values, and the NULL
    row is counted as seen but not sketched."""
    import pandas as pd
    latest = _stateful_latest(spark, tmp_path, "long", [
        pd.DataFrame({"k": ["a"] * 3,
                      "v": pd.array([2**53, 2**53 + 1, None], dtype="Int64")}),
    ], "theta_state_bigint_null")
    assert latest["a"] == (2.0, 3)


def test_media_exact_dedup_via_binary_theta(spark, media):
    """Raw-media exact dedup: theta over the BINARY blob column
    (update(byte[]) parity) counts distinct payloads and survives the
    two-phase merge — the media-dedup key path at 100 TB (hash the
    bytes once, shuffle 8-byte images, never the blobs)."""
    from pyspark.sql import functions as F
    from datasketches_java_spark.functions.sketch_aggs import (
        theta_estimate, theta_sketch_agg)
    # duplicate every blob 3x across partitions
    tripled = media.union(media).union(media).repartition(8)
    sk = theta_sketch_agg(tripled, "blob", lg_k=12)
    est = sk.select(theta_estimate("theta_sketch")).head()[0]
    assert round(est) == 20
    exact = tripled.select(F.sha2("blob", 256)).distinct().count()
    assert exact == 20
