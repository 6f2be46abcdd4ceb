"""LSH band-bucket candidate generation + exact-Jaccard verification.

Pipeline stage 2-3 of the north star (SURVEY.md §7.5): signatures →
band buckets → capped within-bucket pair explode → distinct pairs →
verification join on shingle arrays.

Scale design (100 TB / 10^12 docs):
  - Band extraction and bucket hashing are pure Catalyst expressions
    (xxhash64 over signature slices) — whole-stage codegen, no Python.
  - Candidate pairing is ONE shuffle on (band, band_hash).  Within a
    bucket we emit all pairs up to ``bucket_cap`` docs plus hub-star
    edges for the overflow, so a hot-template bucket of 1e6 pages
    yields O(cap² + n) edges, not O(n²) — the "capped-bucket explode"
    the north rule requires.  Connectivity is preserved (star edges
    keep the bucket one component for clustering) while edge count is
    bounded.
  - Bucket size has one definition, ``hot_buckets``: a plain
    ``groupBy(band, band_hash)`` count filtered above a size.  The
    dedup plan reads it as a lazy metric view (buckets above the cap);
    ``candidate_pairs`` reads it to pick the buckets above
    ``bucket_cap · hot_factor`` members, which take a pair-generation
    path salted by doc hash, so that even a pathological band hash
    distributes across ``n_salts`` tasks instead of one window sort.
  - Pair dedup across the 32 bands is a map-side-combinable distinct.
  - The verification join (``verify_pairs``) re-attaches shingle
    arrays by id and evaluates ONE ``array_union`` per pair; the
    intersection size follows as |A|+|B|−|A∪B|, exact because shingle
    arrays are distinct.  It emits both sizes beside the exact Jaccard,
    their ratio — JVM-side, codegen (counterpart of
    theta/JaccardSimilarity.java:55 exact mode).

Column names are fixed: signatures carry ``shingles`` and ``minhash``,
SimHash is ``simhash``, and the SimHash Hamming radius is
config.SIMHASH_MAX_HAMMING.  The stages are composed once, in
plans/dedup.dedup_pipeline.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from ..config import (
    DUP_JACCARD_THRESHOLD,
    LSH_BANDS,
    LSH_BUCKET_CAP,
    LSH_ROWS,
    SIMHASH_MAX_HAMMING,
)
from ..functions.text import exact_jaccard


def add_signatures(df: DataFrame, text_col: str = "text") -> DataFrame:
    """text → distinct shingle-hash array ``shingles`` → 128-perm
    MinHash ``minhash``.

    Catalyst tokenizes and hashes each token once
    (functions/text.token_hashes); ONE ``mapInArrow`` pass then turns
    the token hashes into each doc's shingle set
    (functions/minhash.shingle_hashes_flat) and its MinHash signature,
    over the flat Arrow value buffer + offsets, and rebuilds both as
    Arrow ListArrays directly — no string per shingle on the JVM, no
    pandas Series of per-row arrays.  SimHash is ``add_simhash``, for
    the callers that read it.
    """
    import pyarrow as pa

    from ..functions.minhash import (
        arrow_flat, arrow_list, minhash_flat, shingle_hashes_flat)
    from ..functions.text import token_hashes, tokens
    from pyspark.sql import types as T

    df = df.withColumn("shingles", token_hashes(tokens(text_col)))
    out_schema = T.StructType(
        list(df.schema) + [T.StructField("minhash", T.ArrayType(T.LongType()))])
    sh_idx = df.columns.index("shingles")
    out_names = [*df.columns, "minhash"]

    def gen(batches):
        for batch in batches:
            sh, offsets = shingle_hashes_flat(*arrow_flat(batch.column(sh_idx)))
            sig = minhash_flat(sh.view(np.uint64), offsets[:-1], np.diff(offsets))
            cols = list(batch.columns)
            cols[sh_idx] = arrow_list(sh, offsets)
            n = len(offsets) - 1
            cols.append(arrow_list(sig.ravel(),
                                   np.arange(n + 1, dtype=np.int64) * sig.shape[1]))
            yield pa.RecordBatch.from_arrays(cols, names=out_names)

    return df.mapInArrow(gen, out_schema)


def add_simhash(df: DataFrame) -> DataFrame:
    """Append ``simhash``, the 64-bit SimHash of each row's
    ``shingles`` array, in one ``mapInArrow`` over the flat Arrow
    buffer (functions/minhash.simhash_flat)."""
    import pyarrow as pa

    from ..functions.minhash import arrow_flat, simhash_flat
    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(df.schema) + [T.StructField("simhash", T.LongType())])
    sh_idx = df.columns.index("shingles")
    out_names = [*df.columns, "simhash"]

    def gen(batches):
        for batch in batches:
            sim = simhash_flat(*arrow_flat(batch.column(sh_idx)))
            yield pa.RecordBatch.from_arrays(
                [*batch.columns, pa.array(sim)], names=out_names)

    return df.mapInArrow(gen, out_schema)


def band_buckets(df: DataFrame, id_col: str) -> DataFrame:
    """Explode each ``minhash`` signature into (id, band, band_hash)
    bucket keys, LSH_BANDS bands of LSH_ROWS rows.

    band_hash = xxhash64(band_index, r-row signature slice) — pure
    Catalyst; the band index participates in the hash so identical row
    values in different bands never collide into one bucket.
    """
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(F.lit(b),
                       F.slice(F.col("minhash"), b * LSH_ROWS + 1, LSH_ROWS))
            .alias("band_hash"))
        for b in range(LSH_BANDS)])
    return (df.select(F.col(id_col), F.explode(bands).alias("bb"))
              .select(id_col, F.col("bb.band").alias("band"),
                      F.col("bb.band_hash").alias("band_hash")))


def hot_buckets(buckets: DataFrame, min_size: int = LSH_BUCKET_CAP) -> DataFrame:
    """Buckets with more than ``min_size`` members: (band, band_hash,
    bucket_size) — the one definition of bucket size.  The skew metric
    of the dedup plan (frequent-items use case, SURVEY.md §2.5) and the
    hot-path selector of ``candidate_pairs``."""
    return (buckets.groupBy("band", "band_hash")
            .agg(F.count("*").alias("bucket_size"))
            .filter(F.col("bucket_size") > min_size))


def candidate_pairs(buckets: DataFrame, id_col: str,
                    bucket_cap: int = LSH_BUCKET_CAP,
                    hot_factor: int = 8,
                    n_salts: int = 32) -> DataFrame:
    """Bucket table (id, band, band_hash) → distinct candidate pairs
    (id_a < id_b).

    Normal buckets: all pairs among the first ``bucket_cap`` members
    (deterministic order by id) + star edges hub→overflow — clusters
    stay connected while edges stay O(cap² + n).

    HOT buckets (> cap·hot_factor members — the template-farm skew
    case): the window trick would still sort the whole bucket in ONE
    task, so these take a salted path instead: each member gets
    salt = xxhash64(id) mod n_salts; a per-(bucket, salt) hub is
    elected with a plain aggregate (parallel across salts), members
    star onto their salt-hub, and salt-hubs chain onto the bucket's
    global hub.  No single task ever sees more than ~|bucket|/n_salts
    rows, edge count stays O(n), connectivity is preserved.
    """
    hot_keys = hot_buckets(buckets, min_size=bucket_cap * hot_factor)
    marked = buckets.join(F.broadcast(hot_keys.select("band", "band_hash")
                                      .withColumn("_hot", F.lit(True))),
                          on=["band", "band_hash"], how="left")
    normal = marked.filter(F.col("_hot").isNull()).drop("_hot")
    hot = marked.filter(F.col("_hot").isNotNull()).drop("_hot")

    # -- normal path: capped dense pairs + overflow star --
    w = Window.partitionBy("band", "band_hash").orderBy(F.col(id_col))
    # lazily local-checkpointed: consumed four times (dense pairs x2 via
    # self-join, hub, overflow) — one window pass instead of four, and
    # unlike .persist() the blocks' lifetime is tied to the result
    # DataFrame (no CacheManager entry leaking across a long session)
    ranked = normal.withColumn("rn", F.row_number().over(w)) \
        .localCheckpoint(eager=False)

    capped = ranked.filter(F.col("rn") <= bucket_cap)
    a, b = capped.alias("a"), capped.alias("b")
    dense = (a.join(b, on=["band", "band_hash"])
             .where(F.col("a.rn") < F.col("b.rn"))
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b")))

    hub = ranked.filter(F.col("rn") == 1).select(
        "band", "band_hash", F.col(id_col).alias("id_a"))
    overflow = ranked.filter(F.col("rn") > bucket_cap).select(
        "band", "band_hash", F.col(id_col).alias("id_b"))
    star = hub.join(overflow, on=["band", "band_hash"]).select("id_a", "id_b")

    # -- hot path: salted hubs, aggregate-only (no window) --
    salted = hot.withColumn(
        "salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)))
    salt_hub = (salted.groupBy("band", "band_hash", "salt")
                .agg(F.min(id_col).alias("hub")))
    hot_member = (salted.join(salt_hub, on=["band", "band_hash", "salt"])
                  .where(F.col(id_col) != F.col("hub"))
                  .select(F.least(id_col, "hub").alias("id_a"),
                          F.greatest(id_col, "hub").alias("id_b")))
    bucket_hub = (salt_hub.groupBy("band", "band_hash")
                  .agg(F.min("hub").alias("hub0")))
    hub_chain = (salt_hub.join(bucket_hub, on=["band", "band_hash"])
                 .where(F.col("hub") != F.col("hub0"))
                 .select(F.least("hub", "hub0").alias("id_a"),
                         F.greatest("hub", "hub0").alias("id_b")))

    return (dense.unionByName(star)
            .unionByName(hot_member).unionByName(hub_chain).distinct())


def simhash_band_buckets(df: DataFrame, id_col: str) -> DataFrame:
    """Explode a 64-bit ``simhash`` into (id, band, band_bits) bucket
    keys.

    The fingerprint is split into SIMHASH_MAX_HAMMING + 1 contiguous
    bit bands (12 + 1 = 13 bands of ~5 bits).  Pigeonhole: two
    fingerprints within Hamming distance SIMHASH_MAX_HAMMING differ in
    at most that many bands, so they agree exactly on at least one
    band — banding is a lossless candidate generator for the Hamming
    ball, unlike MinHash banding which is probabilistic.  Pure Catalyst
    (shift/mask), whole-stage codegen.
    """
    n_bands = SIMHASH_MAX_HAMMING + 1
    base, extra = divmod(64, n_bands)
    sizes = [base + (1 if b < extra else 0) for b in range(n_bands)]
    offsets = [sum(sizes[:b]) for b in range(n_bands)]
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col("simhash"), offsets[b])
            .bitwiseAND(F.lit((1 << sizes[b]) - 1)).alias("band_bits"))
        for b in range(n_bands)])
    return (df.select(F.col(id_col), F.explode(bands).alias("bb"))
              .select(id_col, F.col("bb.band").alias("band"),
                      F.col("bb.band_bits").alias("band_bits")))


def simhash_hamming_pairs(sig: DataFrame, id_col: str) -> DataFrame:
    """All pairs within SIMHASH_MAX_HAMMING of each other on the 64-bit
    ``simhash`` — EXACT result via the lossless band equi-join (no
    CartesianProduct node; one shuffle on (band, band_bits) plus the
    verification join).  Output: id_a, id_b, hamming.
    """
    buckets = simhash_band_buckets(sig, id_col)
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (a.join(b, on=["band", "band_bits"])
            .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .distinct())
    sh = sig.select(F.col(id_col), F.col("simhash"))
    joined = (cand
              .join(sh.withColumnsRenamed({id_col: "id_a", "simhash": "sh_a"}),
                    on="id_a")
              .join(sh.withColumnsRenamed({id_col: "id_b", "simhash": "sh_b"}),
                    on="id_b"))
    return (joined
            # bit_count of the xor: JVM-side, inside codegen
            .withColumn("hamming",
                        F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
            .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
            .select("id_a", "id_b", "hamming"))


def verify_pairs(pairs: DataFrame, shingled: DataFrame, id_col: str,
                 threshold: float = DUP_JACCARD_THRESHOLD) -> DataFrame:
    """Exact-Jaccard verification join: pairs (id_a, id_b) + each id's
    ``shingles`` → rows with jaccard ≥ threshold.  Output: id_a, id_b,
    jaccard, i, u — ``i`` and ``u`` are the exact sizes, as longs, of
    the intersection and the union of the two ids' shingle sets, and
    jaccard is the double quotient i / u.  For u < 2^52 the double test
    i / u ≥ 0.8 keeps exactly the pairs with 5·i ≥ 4·u.

    The shingle arrays must hold distinct elements, as shingle_hashes
    builds them; then |A∩B| = |A| + |B| − |A∪B|, and one
    ``array_union`` per pair gives both sizes.  The union runs inside a
    one-element ``explode``, a Generate the optimizer cannot inline
    through, so it is evaluated once per pair however many filters and
    projections downstream read ``i`` and ``u``.  As a plain column,
    Catalyst pushes a filter on it through the projection with the
    alias inlined, and the union runs once per reference.

    Both joins carry a shuffle_hash hint: the signature side's rows
    hold ~2 KB shingle arrays, and a sort-merge join (Catalyst's
    default here — checkpointed inputs have no stats) would SORT those
    fat rows per task, which measurably ANTI-scales with concurrent
    tasks (memory/GC pressure: 23 s → 66 s going 4 → 16 cores on the
    400k-doc fixture).  A shuffle-hash join builds the table on the
    pair side and streams the arrays (14 s → 11 s, scaling restored).
    Same reasoning holds at cluster scale: never sort array payloads.
    """
    sh = shingled.select(F.col(id_col), F.col("shingles"))
    joined = (pairs.select("id_a", "id_b").hint("shuffle_hash")
              .join(sh.withColumnsRenamed({id_col: "id_a", "shingles": "sh_a"}),
                    on="id_a")
              .hint("shuffle_hash")
              .join(sh.withColumnsRenamed({id_col: "id_b", "shingles": "sh_b"}),
                    on="id_b"))
    sizes = joined.select(
        "id_a", "id_b", "sh_a", "sh_b",
        (F.size("sh_a").cast("long") + F.size("sh_b").cast("long")).alias("_ab"))
    uni = F.size(F.array_union("sh_a", "sh_b")).cast("long")
    return (sizes.select("id_a", "id_b", "_ab", F.explode(F.array(uni)).alias("u"))
            .select("id_a", "id_b", (F.col("_ab") - F.col("u")).alias("i"), "u")
            .withColumn("jaccard", exact_jaccard(F.col("i"), F.col("u")))
            .filter(F.col("jaccard") >= F.lit(threshold))
            .select("id_a", "id_b", "jaccard", "i", "u"))
