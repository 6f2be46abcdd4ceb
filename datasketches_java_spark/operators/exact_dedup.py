"""Exact document deduplication with hashed shuffle keys.

Spark-first exact dedup at 100-TB scale: the reference library has no
dedup operator (host systems own the relational plumbing —
reference README.md:31); this is the engine's exact-dedup primitive
feeding the near-dup pipeline's pre-pass.

Cost model: any EXACT scheme must move each distinct normalized string
across the wire at least once.  This operator pays that once, in the
first aggregate — groupBy(normkey, norm) with map-side combine, so
duplicate documents collapse before the shuffle — and everything else
(the second aggregate and the join that redistributes every document
row) shuffles only the 8-byte xxhash64 key.  A 64-bit hash collision
(two distinct norms sharing a key, ~n²/2^65) is detected as
n_norms > 1 within the hash group and resolved exactly by the per-norm
subgroup; that fallback join runs against an almost-always-empty
flagged set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalize_text(text_col: str | Column) -> Column:
    """Whitespace-collapsed lowercase normalization (the pipeline's
    canonical `norm`)."""
    return F.lower(F.regexp_replace(text_col, r"\s+", " "))


def exact_dedup(docs: DataFrame, id_col: str, text_col: str,
                key: Column | None = None) -> DataFrame:
    """Return (id_col, canonical_id, group_size) — one row per input
    document, grouped by EXACT equality of the normalized text.

    Constructing this DataFrame runs a Spark job: the collision gate
    below executes immediately (a full scan + aggregate of ``docs``,
    materializing the lazily-checkpointed ``canon``).

    Read-amplification note (measured, sf0.01 AQE final plan): leaving
    the collision branch in the lazy plan unconditionally cost 10
    parquet scans — Catalyst re-derives every sub-chain per union
    branch and AQE does not empty-propagate through the broadcast
    join.  So the collision branch is gated by ONE driver-side boolean
    computed on the lazily-checkpointed `canon` aggregate (fixed-width
    rows, one per distinct norm — no strings); the checkpoint also
    makes the clean join reuse it instead of recomputing the
    scan→agg→agg chain.  Clean-corpus cost: exactly 2 scans of the
    input (one to build groups — each distinct norm crossing the wire
    once is the irreducible price of exactness — one to attach the
    canon to every row via the 8-byte key).  The collision fix-up
    (64-bit collision within a corpus, ~n²/2^65) is paid only when the
    gate actually fires.

    `key` overrides the 64-bit shuffle key (tests force collisions
    with a constant to exercise the exact fallback path).
    """
    norm = normalize_text(text_col)
    if key is None:
        key = F.xxhash64(norm)
    docs2 = docs.select(F.col(id_col), key.alias("normkey"),
                        norm.alias("norm"))
    grp = (docs2.groupBy("normkey", "norm")
           .agg(F.min(id_col).alias("gid"),
                F.count("*").alias("gsize")))
    canon = (grp.groupBy("normkey")
             .agg(F.min("gid").alias("canonical_id"),
                  F.sum("gsize").alias("group_size"),
                  F.count("*").alias("n_norms")))
    # the gate below runs a job anyway; the checkpoint lets the
    # branches reuse that job's work
    canon = canon.localCheckpoint(eager=False)
    clean = (docs2.select(id_col, "normkey")
             .join(canon.where(F.col("n_norms") == 1)
                   .select("normkey", "canonical_id", "group_size"),
                   on="normkey")
             .select(id_col, "canonical_id", "group_size"))
    if not canon.where(F.col("n_norms") > 1).limit(1).count():
        return clean
    collided = (docs2
                .join(canon.where(F.col("n_norms") > 1).select("normkey"),
                      on="normkey")
                .join(grp, on=["normkey", "norm"])
                .select(id_col, F.col("gid").alias("canonical_id"),
                        F.col("gsize").alias("group_size")))
    return clean.unionByName(collided)
