"""Connected components over a DataFrame edge list.

Large-star / small-star alternation (Kiveris et al., "Connected
Components in MapReduce and Beyond", SOCC'14) — the standard
O(log n)-round, shuffle-only CC algorithm; no reference counterpart
(the reference delegates all dataflow to host systems, SURVEY.md
§2.11).

Scale design: each round is two groupBy shuffles on node id; the edge
list monotonically contracts toward star graphs.  The DataFrame
lineage would grow unboundedly across iterations, so every round is
cut with localCheckpoint (cluster deployments should set a checkpoint
dir and use checkpoint(); the dedup plan's parquet stage checkpoints
cover durable resume).  Convergence is detected by an exact
edge-set fixpoint: the (count, xor-hash) fingerprint of the edge set,
observed inside each round's checkpoint job, stops changing.  A run
that has not reached it after ``max_iterations`` rounds raises instead
of returning partial components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge list → canonical (src>dst excluded, self-loops
    dropped, deduped)."""
    e = edges.select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst"))
    return e.where(F.col("src") != F.col("dst")).distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to the
    minimum of N(u) ∪ {u}.

    Aggregate-only formulation: ``mn`` comes from a plain
    ``groupBy(src).agg(min(dst))`` (map-side combinable, constant-size
    buffer) and is joined back to the edge list — no row ever holds a
    neighbor array, so a mega-degree hub (the salted LSH path's global
    hub for a 1e6-page template bucket) costs O(degree) rows spread
    across tasks instead of one multi-GB aggregation buffer."""
    sym = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # the agg side goes through toDF so its attributes get fresh ids —
    # the self-join over a shared union subtree otherwise trips
    # Catalyst's resolver ("key not found" during optimization)
    mins = (sym.toDF("_u", "_d").groupBy("_u").agg(F.min("_d").alias("_mnb"))
            .select("_u", F.least(F.col("_u"), F.col("_mnb")).alias("mn")))
    out = (sym.join(mins, sym["src"] == mins["_u"])
           .where(F.col("dst") > F.col("src"))
           .select(F.col("dst").alias("src"), F.col("mn").alias("dst")))
    return out.where(F.col("src") != F.col("dst"))


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges to the larger endpoint; connect all smaller
    neighbors (and self) to the minimum.  Same aggregate+join shape as
    ``_large_star`` — no neighbor arrays."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst"))
    mins = (oriented.toDF("_u", "_d").groupBy("_u")
            .agg(F.min("_d").alias("mn")))
    nbr_edges = (oriented.join(mins, oriented["src"] == mins["_u"])
                 .select(F.col("dst").alias("src"), F.col("mn").alias("dst")))
    self_edges = mins.select(F.col("_u").alias("src"), F.col("mn").alias("dst"))
    out = nbr_edges.unionAll(self_edges)
    return out.where(F.col("src") != F.col("dst"))


def _checkpoint(edges: DataFrame) -> tuple[DataFrame, tuple]:
    """Eagerly local-checkpoint a canonical edge set and return it with
    its fingerprint (count, bit_xor of xxhash64(src, dst)), observed
    inside the checkpoint's own job rather than by a second action.
    The set is distinct, so the pair identifies it (collision odds
    ~2^-64 per round)."""
    obs = Observation()
    out = edges.observe(
        obs, F.count(F.lit(1)).alias("c"),
        F.expr("bit_xor(xxhash64(src, dst))").alias("h")).localCheckpoint()
    m = obs.get
    return out, (m["c"], m["h"])


def connected_components(edges: DataFrame, max_iterations: int = 50) -> DataFrame:
    """Edge list (id_a, id_b) → (id, component) with component = min
    node id of the component.  Nodes appearing only in ``edges`` are
    covered; isolated nodes are the caller's concern (left-join and
    coalesce to self).
    Raises RuntimeError if the edge set has not reached its fixpoint
    after ``max_iterations`` rounds.
    """
    e, fp = _checkpoint(_canonical(
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))))
    for _ in range(max_iterations):
        # the intermediate checkpoint between the two star ops both cuts
        # plan growth and sidesteps a Catalyst resolver failure ("key
        # not found" during optimization) on the nested self-join over a
        # shared union subtree that the composed plan otherwise forms
        # lazy: the large-star RDD materializes inside the small-star
        # checkpoint's job (one job per round), while the logical plan
        # is cut immediately
        ls = _large_star(e).localCheckpoint(eager=False)
        e, fp2 = _checkpoint(_canonical(_small_star(ls)))
        if fp2 == fp:
            break
        fp = fp2
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "rounds; the edge set was still changing")

    # fixpoint: a star forest in canonical (min, member) orientation —
    # src is the component minimum, dst the member
    members = e.select(F.col("dst").alias("id"), F.col("src").alias("component"))
    roots = e.select(F.col("src").alias("id")).distinct().withColumn(
        "component", F.col("id"))
    return members.unionByName(roots).groupBy("id").agg(
        F.min("component").alias("component"))


def assign_clusters(df: DataFrame, edges: DataFrame, id_col: str) -> DataFrame:
    """Attach cluster ids to every row of ``df`` from an (id_a, id_b)
    edge list; singletons get their own id (cluster_id = min member
    id, deterministic)."""
    comp = connected_components(edges).withColumnRenamed("id", id_col)
    # comp comes out of the iterative fixpoint (checkpointed, no
    # Catalyst stats) so Spark would default to sort-merge and SORT the
    # full df side; hint shuffle-hash — comp (one row per clustered
    # node, <= edge endpoints) is the build side, df streams.
    return (df.join(comp.hint("shuffle_hash"), on=id_col, how="left")
              .withColumn("cluster_id", F.coalesce("component", F.col(id_col)))
              .drop("component"))
