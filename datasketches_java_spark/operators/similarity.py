"""Similarity search over embedding columns.

Two paths:
  - ``cosine_topk``: brute-force exact top-k as a declarative plan —
    broadcast the (small) query set, score with JVM-side
    zip_with/aggregate expressions (whole-stage codegen, no Python),
    rank with a window.  The correctness baseline; also the oracle
    surface (__spark_entry__: ann_cosine_topk).
  - ``cosine_topk_blas``: the scale path — broadcast query matrix as
    numpy, mapInPandas over corpus batches, one BLAS matmul per Arrow
    batch, per-batch local top-k, global top-k via the same window.
    At 10^12 rows the local top-k means the shuffle carries
    O(#queries x k x #partitions) rows instead of O(corpus).
  - ``simhash_ann_buckets``: LSH-bucketed variant — random-hyperplane
    SimHash of the embedding restricts scoring to same-bucket
    candidates (approximate; recall/speed trade documented in tests).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _cosine(a, b):
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, sim) → the k best neighbors of each
    query as (query_id, neighbor_id, rank), ranked by sim desc then
    neighbor_id asc — the one total order every top-k path shares."""
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank"))


def cosine_topk(queries: DataFrame, corpus: DataFrame, id_col: str,
                vec_col: str, k: int = 10) -> DataFrame:
    """Exact cosine top-k of each query against the corpus
    (query_id, neighbor_id, rank).  Self-matches excluded.

    The query side is broadcast (ANN query sets are small by
    definition); scoring stays in codegen.
    """
    # unit-normalize each side BEFORE the join: norms are computed
    # O(n+q) times instead of O(n·q) and sim reduces to a plain dot
    def unit(col):
        n = F.sqrt(_dot(col, col))
        return F.transform(col, lambda x: x / n)

    q = (queries.select(F.col(id_col).alias("query_id"),
                        _as_double(F.col(vec_col)).alias("qv0"))
         .select("query_id", unit(F.col("qv0")).alias("qv")))
    c = (corpus.select(F.col(id_col).alias("neighbor_id"),
                       _as_double(F.col(vec_col)).alias("cv0"))
         .select("neighbor_id", unit(F.col("cv0")).alias("cv")))
    scored = (F.broadcast(q).crossJoin(c)
              .where(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id",
                      _dot("qv", "cv").alias("sim")))
    return _topk(scored, k)


def cosine_topk_blas(queries: DataFrame, corpus: DataFrame, id_col: str,
                     vec_col: str, k: int = 10) -> DataFrame:
    """Scale path: numpy/BLAS scoring per Arrow batch + local top-k.

    Query matrix rides to executors via closure capture (equivalent of
    a broadcast variable); per batch: one (b x d)·(d x q) matmul, then
    a tie-aware local top-(k+1) — the shuffle only carries candidates,
    O(#queries × (k+1) × #partitions) rows.

    BOUND (by design): ``queries.collect()`` materializes the query
    set on the driver — ANN semantics presuppose a query set that is
    small relative to the corpus; the practical ceiling is
    ~driver_mem / (d × 8 B) vectors (e.g. ~10^6 queries × d=1024 ≈
    8 GB).  For query sets beyond that, use ``simhash_ann_buckets`` /
    ``ivf_cosine_topk`` (fully distributed equi-join plans, no driver
    materialization).
    """
    qrows = queries.select(id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows])
    qm = np.array([r[1] for r in qrows], dtype=np.float64)
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)

    out_schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("sim", T.DoubleType()),
    ])

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.array(list(pdf[vec_col]), dtype=np.float64)
            X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
            sims = X @ qm.T                      # (batch x queries)
            ids = pdf[id_col].to_numpy()
            rows = []
            top = min(k + 1, sims.shape[0])      # +1 allows self removal
            for j, qid in enumerate(qids):
                # local cut under the SAME total order as the global
                # window (sim desc, id asc): with a strict total order,
                # anything outside the local top-(k+1) has ≥ k+1 batch
                # candidates ahead of it globally too, so ties at the
                # k-th similarity can never be cut wrongly
                # (argpartition's arbitrary tie order could)
                sel = np.lexsort((ids, -sims[:, j]))[:top]
                for i in sel:
                    if ids[i] != qid:
                        rows.append((int(qid), int(ids[i]), float(sims[i, j])))
            yield pd.DataFrame(rows, columns=["query_id", "neighbor_id", "sim"])

    return _topk(corpus.select(id_col, vec_col).mapInPandas(score, out_schema), k)


def cosine_pairs_blocked(df: DataFrame, id_col: str, vec_col: str,
                         threshold: float, n_blocks: int = 16) -> DataFrame:
    """EXACT all-pairs cosine ≥ threshold as a distributed block
    matmul — the scalable shape of the brute-force baseline.

    All-pairs at a low threshold is inherently O(n²·d) flops (LSH
    cannot prune reliably below ~0.7 cosine), so the right plan is to
    organize those flops as BLAS: rows are hashed into ``n_blocks``
    groups, each row is replicated to the block *pairs* it belongs to
    via explode(sequence(...)) — O(n·B) shuffled rows, no
    CartesianProduct node, no per-row join — and each (bi ≤ bj) block
    pair is scored with one float64 matmul inside a cogrouped
    applyInPandas.  Memory per task is two blocks (~n/B rows each);
    pick n_blocks so a block fits executor memory and B(B+1)/2 tasks
    saturate the cluster.  Output: id_a < id_b, sim.
    """
    id_type = df.schema[id_col].dataType
    e = df.select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("_blk"))
    # one tagged frame instead of a cogroup: side 0 = the row's own
    # block paired with every ≥ block, side 1 = paired with every ≤
    # block (a Spark 4 ColumnPruning defect strips the cogroup's right
    # child to its grouping keys when a projection sits on top; the
    # single grouped-map is equivalent and one shuffle either way)
    left = e.select(
        "_id", "_v", F.lit(0).alias("side"), F.col("_blk").alias("bi"),
        F.explode(F.sequence(F.col("_blk"), F.lit(n_blocks - 1))).alias("bj"))
    right = e.select(
        "_id", "_v", F.lit(1).alias("side"),
        F.explode(F.sequence(F.lit(0), F.col("_blk"))).alias("bi"),
        F.col("_blk").alias("bj"))
    tagged = left.unionByName(right)

    out_schema = T.StructType([
        T.StructField("id_a", id_type), T.StructField("id_b", id_type),
        T.StructField("sim", T.DoubleType())])
    thr = float(threshold)

    def score(key, pdf: pd.DataFrame) -> pd.DataFrame:
        lpdf = pdf[pdf["side"] == 0]
        rpdf = pdf[pdf["side"] == 1]
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame(columns=["id_a", "id_b", "sim"])
        A = np.array(list(lpdf["_v"]), dtype=np.float64)
        Bm = np.array(list(rpdf["_v"]), dtype=np.float64)
        na = np.linalg.norm(A, axis=1)
        nb = np.linalg.norm(Bm, axis=1)
        sims = (A @ Bm.T) / np.maximum(na[:, None] * nb[None, :], 1e-300)
        ia, ib = np.nonzero(sims >= thr)
        la = lpdf["_id"].to_numpy()[ia]
        lb = rpdf["_id"].to_numpy()[ib]
        keep = la < lb if key[0] == key[1] else la != lb
        lo = np.minimum(la[keep], lb[keep])
        hi = np.maximum(la[keep], lb[keep])
        return pd.DataFrame({"id_a": lo, "id_b": hi,
                             "sim": sims[ia[keep], ib[keep]]})

    return tagged.groupBy("bi", "bj").applyInPandas(score, out_schema)


def embedding_simhash(df: DataFrame, vec_col: str, bits: int = 16,
                      seed: int = 9001, out_col: str = "bucket") -> DataFrame:
    """Random-hyperplane LSH bucket id for an embedding column —
    sign pattern of `bits` fixed gaussian projections."""
    first = df.select(F.size(vec_col).alias("d")).first()
    d = first["d"]
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((bits, d))
    proj = None
    for i in range(bits):
        coeff = F.array(*[F.lit(float(x)) for x in planes[i]])
        dot = _dot(_as_double(F.col(vec_col)), coeff)
        bit = F.when(dot >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        proj = bit if proj is None else proj + bit
    return df.withColumn(out_col, proj.cast("long"))


def ivf_centroids(d: int, n_cells: int = 16, seed: int = 9001) -> np.ndarray:
    """Deterministic unit-norm coarse-quantizer centroids (seeded
    gaussian).  A production deployment would train them with k-means
    on a sample; the *plan* (assign → probe → exact re-score) is
    identical, and the deterministic variant is oracle-checkable."""
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((n_cells, d))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _cell_scores(vec_col, centroids: np.ndarray):
    """array<struct<dot, cell>> of centroid dot products — codegen."""
    entries = []
    for i, row in enumerate(centroids):
        coeff = F.array(*[F.lit(float(x)) for x in row])
        entries.append(F.struct(
            _dot(_as_double(F.col(vec_col)), coeff).alias("dot"),
            F.lit(i).alias("cell")))
    return F.array(*entries)


def ivf_cosine_topk(queries: DataFrame, corpus: DataFrame, id_col: str,
                    vec_col: str, k: int = 10, n_cells: int = 16,
                    nprobe: int = 4, seed: int = 9001) -> DataFrame:
    """IVF-style ANN top-k: corpus vectors live in the argmax-dot
    centroid cell; each query probes its ``nprobe`` best cells and
    scores ONLY same-cell candidates with exact cosine — the classic
    inverted-file plan (assign is one codegen projection, candidate
    generation is an equi-join on cell id, scoring touches
    ~nprobe/n_cells of the corpus).  At 100 TB the assignment is a
    map-only pass and the join shuffles by cell, so skewed cells
    behave like any hot groupBy key (AQE skew-join applies).
    Deterministic centroids (see ivf_centroids) make the whole
    operator value-checkable against a SQL oracle with the same
    centroid literals."""
    d = corpus.select(F.size(vec_col).alias("d")).first()["d"]
    cents = ivf_centroids(d, n_cells, seed)
    # struct max compares (dot, cell) lexicographically → argmax dot
    corp = (corpus.select(F.col(id_col).alias("neighbor_id"),
                          _as_double(F.col(vec_col)).alias("cv"))
            .withColumn("cell",
                        F.array_max(_cell_scores("cv", cents))["cell"]))
    probes = F.transform(
        F.slice(F.sort_array(_cell_scores("qv", cents), asc=False),
                1, nprobe), lambda s: s["cell"])
    q = (queries.select(F.col(id_col).alias("query_id"),
                        _as_double(F.col(vec_col)).alias("qv"))
         .withColumn("cell", F.explode(probes)))
    scored = (q.join(corp, on="cell")
              .where(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id", _cosine("qv", "cv").alias("sim")))
    return _topk(scored, k)


def simhash_ann_buckets(queries: DataFrame, corpus: DataFrame, id_col: str,
                        vec_col: str, k: int = 10, bits: int = 8) -> DataFrame:
    """Approximate top-k: score only same-bucket candidates (equi-join
    on the hyperplane signature instead of a cross join)."""
    qb = embedding_simhash(
        queries.select(F.col(id_col).alias("query_id"),
                       _as_double(F.col(vec_col)).alias("qv")), "qv", bits)
    cb = embedding_simhash(
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      _as_double(F.col(vec_col)).alias("cv")), "cv", bits)
    scored = (qb.join(cb, on="bucket")
              .where(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id", _cosine("qv", "cv").alias("sim")))
    return _topk(scored, k)
