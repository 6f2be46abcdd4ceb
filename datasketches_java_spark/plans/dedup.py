"""The north-star plan: near-duplicate detection + clustering.

text → shingles → MinHash128 → LSH band buckets → capped
candidate explode → exact-Jaccard verification → connected components
→ cluster assignments, with optional per-stage checkpointing
(operators/checkpoint.py) and skew/cardinality metrics from the sketch
UDAF library.

This is the one composition of those stages: scripts/submit_dedup.py
(the spark-submit job), bench.py and the entry point's LSH queries
all call ``dedup_pipeline``.  Every stage is a DataFrame
transformation; the only Python in the hot path is the one
``mapInArrow`` that builds shingle sets and MinHash signatures, and
the plan object is stateless so the same code runs at any parallelism.

The checkpointed stages are ``01_signatures``, ``02_band_buckets``,
``04_candidate_pairs``, ``05_verified_pairs`` (``05b_pair_lcs`` with
``with_lcs``) and ``06_clusters``; the last runs when
``DedupResult.clusters`` is first read.  Hot buckets are a lazy view over
``02_band_buckets``, not a stage: a run that never reads them never
counts them.  A tree written when ``03_hot_buckets`` was a stage still
resumes; its ``03`` directory is not read.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cached_property
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import DUP_JACCARD_THRESHOLD, LSH_BUCKET_CAP
from ..operators.checkpoint import CheckpointStore
from ..operators.connected_components import connected_components
from ..operators.lsh import (
    add_signatures,
    band_buckets,
    candidate_pairs,
    hot_buckets,
    verify_pairs,
)
from ..operators.suffix_array import attach_texts, pair_lcs


@dataclass
class DedupResult:
    signatures: DataFrame     # id, shingles, minhash, _sid
    dup_pairs: DataFrame      # id_a, id_b, jaccard, i, u
    # band, band_hash, bucket_size: a view over 02_band_buckets,
    # computed when read
    hot_buckets: DataFrame
    build_clusters: Callable[[], DataFrame] = field(repr=False)

    @cached_property
    def clusters(self) -> DataFrame:
        """id, cluster_id: stage ``06_clusters``, run (or resumed) the
        first time it is read, so a caller of the pairs alone never
        runs connected components."""
        return self.build_clusters()


def dedup_pipeline(spark: SparkSession, pages: DataFrame, id_col: str = "url",
                   text_col: str = "text",
                   threshold: float = DUP_JACCARD_THRESHOLD,
                   checkpoint_dir: str | None = None,
                   with_lcs: bool = False) -> DedupResult:
    """Run (or resume) the full dedup pipeline."""
    # Guard against under-split sources (one fat parquet row group ⇒
    # one scan task ⇒ the whole signature stage runs serially).  On a
    # real cluster the Iceberg table is split-friendly and this is a
    # no-op; the check is metadata-only.
    cores = spark.sparkContext.defaultParallelism
    if pages.rdd.getNumPartitions() < cores:
        pages = pages.repartition(cores * 2)

    store = CheckpointStore(spark, checkpoint_dir) if checkpoint_dir else None

    def stage(name: str, build, lineage: str | None = None) -> DataFrame:
        if store:
            return store.run_stage(name, build, lineage_col=lineage)
        # no durable checkpoint: a lazy local checkpoint computes each
        # multi-consumer stage once (signatures feed banding,
        # verification and the id map), and its blocks are released
        # with the DataFrame instead of staying in the CacheManager
        return build().localCheckpoint(eager=False)

    # Every stage after the signatures is keyed on ``_sid``, minted
    # INSIDE the signature stage so it is stable for the run and
    # resumable.  For string ids (urls) it is an int64 surrogate: the
    # banding / candidate / verification / clustering shuffles carry
    # 8 bytes instead of ~45-char urls (~5x less payload on the 32x
    # band explode).  Any other id is its own ``_sid``, which keeps
    # candidate_pairs' window order and so every capped bucket's
    # candidates.  Ids are re-attached only to the small outputs.
    sid = (F.monotonically_increasing_id()
           if dict(pages.dtypes).get(id_col) == "string" else F.col(id_col))

    sig = stage(
        "01_signatures",
        # text is dead weight downstream of shingling
        lambda: add_signatures(pages.select(id_col, text_col), text_col)
        .drop(text_col).withColumn("_sid", sid),
        lineage=id_col)
    ids = sig.select("_sid", id_col)

    buckets = stage(
        "02_band_buckets", lambda: band_buckets(sig, "_sid"), lineage="_sid")

    pairs = stage(
        "04_candidate_pairs",
        lambda: candidate_pairs(buckets, "_sid", LSH_BUCKET_CAP), lineage="id_a")

    verified = stage(
        "05_verified_pairs",
        lambda: verify_pairs(pairs, sig, "_sid", threshold=threshold),
        lineage="id_a")

    # ids re-attached with two equi-joins on the small O(dups) pair
    # table; the verified stage's other columns pass through, so a
    # stage written before verify emitted i and u still resumes
    dup_pairs = (verified
                 .join(ids.withColumnsRenamed({"_sid": "id_a", id_col: "_ua"}),
                       on="id_a")
                 .join(ids.withColumnsRenamed({"_sid": "id_b", id_col: "_ub"}),
                       on="id_b")
                 .select(F.least("_ua", "_ub").alias("id_a"),
                         F.greatest("_ua", "_ub").alias("id_b"),
                         *[c for c in verified.columns
                           if c not in ("id_a", "id_b")]))

    if with_lcs:
        dup_pairs = stage(
            "05b_pair_lcs",
            lambda: pair_lcs(attach_texts(dup_pairs, pages, id_col, text_col)),
            lineage="id_a")

    def build_clusters() -> DataFrame:
        # CC runs on sid edges; cluster_id = min member id,
        # recomputed in id space on the (small) component table
        comp = (connected_components(verified.select("id_a", "id_b"))
                .withColumnRenamed("id", "_sid").join(ids, on="_sid"))
        cmin = comp.groupBy("component").agg(F.min(id_col).alias("cluster_id"))
        members = comp.join(cmin, on="component").select(id_col, "cluster_id")
        return (pages.select(id_col).join(members, on=id_col, how="left")
                .withColumn("cluster_id",
                            F.coalesce("cluster_id", F.col(id_col))))

    return DedupResult(
        signatures=sig, dup_pairs=dup_pairs,
        hot_buckets=hot_buckets(buckets, min_size=LSH_BUCKET_CAP),
        build_clusters=lambda: stage("06_clusters", build_clusters,
                                     lineage=id_col))


def dedup_metrics(result: DedupResult, id_col: str = "url") -> DataFrame:
    """One-row summary the checkpoint epoch records: docs, dup pairs,
    clusters, docs-in-clusters, hot buckets."""
    n_docs = result.clusters.count()
    n_pairs = result.dup_pairs.count()
    agg = result.clusters.groupBy("cluster_id").count()
    n_clusters = agg.filter(F.col("count") > 1).count()
    n_clustered = (agg.filter(F.col("count") > 1)
                   .agg(F.sum("count")).collect()[0][0]) or 0
    n_hot = result.hot_buckets.count()
    spark = result.clusters.sparkSession
    return spark.createDataFrame(
        [(n_docs, n_pairs, n_clusters, int(n_clustered), n_hot)],
        "n_docs long, n_dup_pairs long, n_clusters long, "
        "n_clustered_docs long, n_hot_buckets long")
