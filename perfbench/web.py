"""The ``web_hot`` workload: near-duplicate detection on webtext with a
template farm, checkpointed, then resumed.

One job is ``plans.dedup.dedup_pipeline`` over the pages with a fresh
checkpoint directory (the ``scripts/submit_dedup.py`` shape), then one
resume pass over the completed checkpoint.  Verified pairs and cluster
assignments of both passes are collected to the driver and checked
against the generator's goldens.  The farm puts LSH buckets above the
512 members at which ``candidate_pairs`` takes its salted path.

The traced iteration composes the same plan from the modules' public
functions, one layer per span, each stage behind the checkpoint write
that materializes it, and must give the same pairs, clustered docs and
recall.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd

import inputs
from probes import MB

MIN_RECALL = 0.99


class Web:
    unit = "docs"
    same_keys = ("dup_pairs", "clustered_docs", "dup_pair_recall")

    def __init__(self, name: str, seed: int, n_docs: int, hot_pages: int,
                 work: str) -> None:
        self.name, self.seed = name, seed
        self.n_docs, self.hot_pages, self.work = n_docs, hot_pages, work
        self.n_items = n_docs

    # -- inputs / set-up ---------------------------------------------------
    def generate(self) -> None:
        path = inputs.webtext(self.seed, self.n_docs, self.hot_pages)
        self.pages_path = os.path.join(path, "pages")
        g = pd.read_parquet(os.path.join(path, "golden_dup_pairs"))
        self.golden = set(zip(g["url_a"], g["url_b"]))
        self.golden_a = g["url_a"].to_numpy()
        self.golden_b = g["url_b"].to_numpy()

    def load(self, spark) -> None:
        self.pages = spark.read.parquet(self.pages_path)

    def cleanup(self, i: int) -> None:
        shutil.rmtree(self._ckpt(i), ignore_errors=True)

    def _ckpt(self, i: int) -> str:
        return os.path.join(self.work, f"ckpt-{i}")

    # -- one untraced job --------------------------------------------------
    def job(self, spark, i: int) -> dict:
        from datasketches_java_spark.plans.dedup import dedup_pipeline

        def run():
            return _collect(dedup_pipeline(
                spark, self.pages, id_col="url", text_col="text",
                checkpoint_dir=self._ckpt(i)))

        out = run()
        t0 = time.perf_counter()
        out["resumed"] = run()
        out["resume_s"] = time.perf_counter() - t0
        return out

    # -- correctness, as operations ----------------------------------------
    def summary(self, out: dict) -> dict:
        pairs, clusters = out["pairs"], out["clusters"]
        cid = dict(zip(clusters["url"], clusters["cluster_id"]))
        a = np.array([cid.get(u, u) for u in self.golden_a])
        b = np.array([cid.get(u, u) for u in self.golden_b])
        outside = sum(1 for p in zip(pairs["id_a"], pairs["id_b"])
                      if p not in self.golden)
        return {"dup_pairs": len(pairs),
                "clustered_docs": int((clusters["url"] != clusters["cluster_id"]).sum()),
                "dup_pair_recall": float(np.mean(a == b)) if len(a) else 1.0,
                "pairs_outside_goldens": outside}

    def check(self, out: dict, i: int) -> list[tuple[str, bool, str | None]]:
        s = self.summary(out)
        return [("dup_pair_recall", s["dup_pair_recall"] >= MIN_RECALL, None),
                ("pairs_within_goldens", s["pairs_outside_goldens"] == 0, None),
                ("resume_same_output", _same(out, out["resumed"]), None)]

    # -- one traced iteration ----------------------------------------------
    def traced(self, spark, tracer, i: int) -> dict:
        """The plan's stages called one by one under spans."""
        from datasketches_java_spark.config import (
            DUP_JACCARD_THRESHOLD,
            LSH_BUCKET_CAP,
        )
        from datasketches_java_spark.functions import minhash
        from datasketches_java_spark.functions.text import (
            shingle_hashes_from_tokens,
            tokens,
        )
        from datasketches_java_spark.operators import connected_components as cc
        from datasketches_java_spark.operators.checkpoint import CheckpointStore
        from datasketches_java_spark.operators.lsh import (
            add_signatures,
            band_buckets,
            candidate_pairs,
            hot_buckets,
            verify_pairs,
        )
        from datasketches_java_spark.plans.dedup import dedup_pipeline
        from pyspark.sql import functions as F

        ckpt = self._ckpt(i)
        store = CheckpointStore(spark, ckpt)
        key, extra = "_sid", {}
        pages = self.pages
        # the plan's guard against under-split sources; the surrogate
        # ids, and so the capped candidate sets, depend on partitioning
        cores = spark.sparkContext.defaultParallelism
        if pages.rdd.getNumPartitions() < cores:
            pages = pages.repartition(cores * 2)

        def stage(layer, name, build, lineage):
            with tracer.span(layer, stage=name) as sp:
                with tracer.span("checkpoint.run_stage", stage=name) as cs:
                    df = store.run_stage(name, build, lineage_col=lineage)
                    cs.rows = sp.rows = df.count()
            return df

        with tracer.span("text.shingle_hashes") as sp:
            (pages.select("url", tokens("text").alias("_toks"))
             .select("url", shingle_hashes_from_tokens("_toks").alias("sh"))
             .write.format("noop").mode("overwrite").save())
            sp.rows = self.n_docs

        sig = stage("lsh.add_signatures", "01_signatures",
                    lambda: add_signatures(pages.select("url", "text"), "text")
                    .drop("text").withColumn(key, F.monotonically_increasing_id()),
                    "url")

        # the numpy kernel alone, in this process, on the same shingles
        la = sig.select("shingles").toArrow().column(0).combine_chunks()
        offsets = la.offsets.to_numpy().astype(np.int64)
        values = la.values.to_numpy(zero_copy_only=False)[offsets[0]: offsets[-1]]
        values = values.astype(np.int64).view(np.uint64)
        starts, lengths = offsets[:-1] - offsets[0], np.diff(offsets)
        with tracer.span("minhash.kernel") as sp:
            t0 = time.process_time()
            minhash.minhash_flat(values, starts, lengths)
            minhash.simhash_flat(values, starts, lengths)
            kernel_cpu = time.process_time() - t0
            sp.rows = len(lengths)
        extra["minhash.kernel.docs_per_core_s"] = len(lengths) / max(kernel_cpu, 1e-9)

        ids = sig.select(key, "url")
        buckets = stage("lsh.band_buckets", "02_band_buckets",
                        lambda: band_buckets(sig, key), key)
        hot = stage("lsh.hot_buckets", "03_hot_buckets",
                    lambda: hot_buckets(buckets, min_size=LSH_BUCKET_CAP),
                    "bucket_size")
        extra["lsh.hot_buckets.max_bucket"] = float(
            hot.agg(F.max("bucket_size")).first()[0] or 0)
        pairs = stage("lsh.candidate_pairs", "04_candidate_pairs",
                      lambda: candidate_pairs(buckets, key, LSH_BUCKET_CAP), "id_a")
        verified = stage("lsh.verify_pairs", "05_verified_pairs",
                         lambda: verify_pairs(pairs, sig, key,
                                              threshold=DUP_JACCARD_THRESHOLD),
                         "id_a")
        extra["lsh.verify_pairs.useful_ratio"] = (
            _rows(tracer, "lsh.verify_pairs") / max(_rows(tracer, "lsh.candidate_pairs"), 1))

        def build_clusters():
            comp = cc.connected_components(verified.select("id_a", "id_b"))
            comp_urls = (comp.join(ids.withColumnsRenamed({key: "id"}), on="id")
                         .select("url", "component"))
            cmin = comp_urls.groupBy("component").agg(F.min("url").alias("cluster_id"))
            members = comp_urls.join(cmin, on="component").select("url", "cluster_id")
            return (pages.select("url").join(members, on="url", how="left")
                    .withColumn("cluster_id", F.coalesce("cluster_id", F.col("url"))))

        rounds = _CallCount(cc, "_small_star")
        try:
            clusters = stage("connected_components", "06_clusters",
                             build_clusters, "url")
        finally:
            extra["connected_components.rounds"] = float(rounds.undo())

        with tracer.span("dedup.outputs"):
            dup_pairs = (verified
                         .join(ids.withColumnsRenamed({key: "id_a", "url": "_ua"}), on="id_a")
                         .join(ids.withColumnsRenamed({key: "id_b", "url": "_ub"}), on="id_b")
                         .select(F.least("_ua", "_ub").alias("id_a"),
                                 F.greatest("_ua", "_ub").alias("id_b")))
            out = {"pairs": dup_pairs.toPandas(), "clusters": clusters.toPandas()}

        extra["checkpoint.bytes_written_mb"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(ckpt) for f in fs) / MB
        with tracer.span("checkpoint.resume"):
            out["resumed"] = _collect(dedup_pipeline(
                spark, self.pages, id_col="url", text_col="text",
                checkpoint_dir=ckpt))
        out["extra"] = extra
        return out


def _rows(tracer, name: str) -> float:
    return [s for s in tracer.spans if s.name == name][-1].counts["rows_out"]


def _collect(res) -> dict:
    return {"pairs": res.dup_pairs.select("id_a", "id_b").toPandas(),
            "clusters": res.clusters.toPandas()}


def _same(a: dict, b: dict) -> bool:
    def norm(o):
        return (o["pairs"].sort_values(["id_a", "id_b"]).reset_index(drop=True),
                o["clusters"].sort_values("url").reset_index(drop=True))
    (pa_, ca), (pb, cb) = norm(a), norm(b)
    return pa_.equals(pb) and ca.equals(cb)


class _CallCount:
    """Counts calls of ``module.attr`` until ``undo``; connected
    components runs its small-star step once per round."""

    def __init__(self, module, attr: str) -> None:
        self.module, self.attr, self.n = module, attr, 0
        self.orig = getattr(module, attr, None)
        if self.orig is not None:
            def wrapped(*a, **k):
                self.n += 1
                return self.orig(*a, **k)
            setattr(module, attr, wrapped)

    def undo(self) -> int:
        if self.orig is not None:
            setattr(self.module, self.attr, self.orig)
        return self.n
