"""Two-phase sketch aggregation over DataFrames.

The structural match to the reference's update/merge split (SURVEY.md
§3.2): the map side builds one compact sketch image per (grouping key x
Arrow batch) — the ``update`` path — and only those bounded-size binary
images cross the shuffle; the reduce side unions images per key — the
``merge`` path (theta/UnionImpl.java:300).  Raw rows never shuffle.

At 100 TB this is the only viable shape: shuffle volume is
O(#keys x #partitions x sketch_size), independent of row count.
The partial runs in ``mapInArrow`` and hands each family's builder
typed Arrow columns (a BIGINT column holding a NULL stays int64); the
final is an Arrow GROUPED_AGG union.  No per-row Python anywhere
(BASELINE.json input_hint).  The theta, HLL, CPC, KLL and
frequent-items builders are the ``functions/sketch_spec`` specs the
SQL registry registers too.

Every scalar UDF here reads image columns row by row and returns NULL
for a row whose image (or argument) is NULL.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T

from ..config import (
    DEFAULT_LG_K,
    DEFAULT_UPDATE_SEED,
    FREQ_DEFAULT_MAX_MAP_SIZE,
    HLL_DEFAULT_LG_K,
    KLL_DEFAULT_K,
)
from ..sketches import (cpc, cpc_serde, freq_serde, hll, hll_serde, kll_serde,
                        req_serde, theta, theta_serde, tuple as tpl, tuple_serde)
from ..sketches.frequencies import ItemsSketch
from ..sketches.kll import KllDoublesSketch
from ..sketches.kll_items import KllItemsSketch
from ..sketches.req import ReqSketch
from ..sketches.sampling import PrioritySample, ReservoirSketch
from ..sketches.varopt import VarOptSketch, VarOptUnion
from . import sketch_spec as S
from .sketch_spec import fold, to_numpy

_GLOBAL_KEY = "__ds_global__"


def _two_phase(df: DataFrame, by: list[str] | None, value_cols: list[str],
               spec: S.Spec, out_col: str) -> DataFrame:
    """Generic partial(update)/final(merge) sketch aggregation:
    ``spec.build(*value arrays)`` per key and Arrow batch, then
    ``spec.union`` of the partial images per key."""
    by = by or []
    group_cols = by or [_GLOBAL_KEY]
    if not by:
        df = df.withColumn(_GLOBAL_KEY, F.lit(0))
    df = df.select(*group_cols, *value_cols)
    out_schema = T.StructType([df.schema[c] for c in group_cols]
                              + [T.StructField(out_col, T.BinaryType())])

    def partial(batches):
        for rb in batches:
            g = pa.Table.from_batches([rb]).group_by(
                group_cols, use_threads=False).aggregate(
                    [(c, "list") for c in value_cols])
            lists = [g[f"{c}_list"].combine_chunks() for c in value_cols]
            imgs = [spec.build(*(lst[i].values for lst in lists))
                    for i in range(g.num_rows)]
            yield from g.select(group_cols).append_column(
                out_col, pa.array(imgs, pa.binary())).to_batches()

    merged = (df.mapInArrow(partial, schema=out_schema)
              .groupBy(*group_cols)
              .agg(S.aggregate(spec.union, out_col)(out_col).alias(out_col)))
    return merged.drop(_GLOBAL_KEY) if not by else merged


def _image_udf(rtype: T.DataType) -> Callable:
    """Decorator: ``fn(image, *args)`` per row → scalar pandas UDF over
    image column(s).  A row with a NULL argument gives NULL, never a
    worker error — the one NULL rule of every image-reading scalar."""
    def wrap(fn: Callable) -> Callable:
        def udf(*cols: pd.Series) -> pd.Series:
            null = np.logical_or.reduce([c.isna().to_numpy() for c in cols])
            return pd.Series([None if n else fn(*row)
                              for n, *row in zip(null, *cols)], dtype=object)
        udf.__name__ = udf.__qualname__ = fn.__name__
        udf.__doc__, udf.__module__ = fn.__doc__, fn.__module__
        return F.pandas_udf(udf, rtype)
    return wrap


# ---------------------------------------------------------------------------
# theta
# ---------------------------------------------------------------------------

def theta_sketch_agg(df: DataFrame, col: str, by: list[str] | None = None,
                     lg_k: int = DEFAULT_LG_K,
                     seed: int = DEFAULT_UPDATE_SEED,
                     prehashed: bool = False,
                     p: float = 1.0) -> DataFrame:
    """groupBy(by).agg(theta_sketch(col)) -> by + theta_sketch:binary.

    Values hash through the reference's update overloads
    (``sketch_spec.hash_pairs``): integral as update(long), floating as
    update(double), STRING as its UTF-8 bytes, BINARY as raw bytes
    (theta/UpdateSketch.java:220-271; NULL and empty rejected), so
    sketches built here are hash-equal to reference sketches of the
    same items (cross-system set operations work).  If ``prehashed``
    the column already holds 63-bit update hashes (the union
    "backdoor", theta/UnionImpl.java:328).  ``p`` is the builder's
    up-front sampling probability (UpdateSketchBuilder.setP).
    """
    return _two_phase(df, by, [col], S.theta(lg_k, seed, p, prehashed),
                      "theta_sketch")


def theta_union_agg(df: DataFrame, sketch_col: str = "theta_sketch",
                    by: list[str] | None = None) -> DataFrame:
    """Merge an existing sketch column (checkpoint resume path); NULL
    images are skipped."""
    spec = S.theta()
    return _two_phase(df, by, [sketch_col], spec._replace(build=spec.union),
                      sketch_col)


@_image_udf(T.DoubleType())
def theta_estimate(b: bytes) -> float:
    """Distinct-count estimate from a theta image column
    (theta/Sketch.java:264 count/theta estimator)."""
    return theta.ThetaSketch.from_bytes(b).estimate()


@_image_udf(T.BinaryType())
def theta_to_java(b: bytes) -> bytes:
    """Engine image → reference serVer-3 compact-ordered image
    (interop export; theta/PreambleUtil.java:28-133 layout)."""
    return theta_serde.to_java_bytes(theta.ThetaSketch.from_bytes(b))


@_image_udf(T.BinaryType())
def theta_from_java(b: bytes) -> bytes:
    """Reference serVer-3 compact image → engine image (heapify
    counterpart, theta/Sketch.java:70)."""
    return theta_serde.from_java_bytes(b).to_bytes()


@_image_udf(T.DoubleType())
def theta_lower_bound(b: bytes) -> float:
    """2-sigma lower confidence bound of a theta image column
    (thetacommon/BinomialBoundsN exact port)."""
    return theta.ThetaSketch.from_bytes(b).bounds(2)[0]


@_image_udf(T.DoubleType())
def theta_upper_bound(b: bytes) -> float:
    """2-sigma upper confidence bound of a theta image column."""
    return theta.ThetaSketch.from_bytes(b).bounds(2)[1]


def _theta_pair(op: Callable, x: bytes, y: bytes):
    return op(theta.ThetaSketch.from_bytes(x), theta.ThetaSketch.from_bytes(y))


@_image_udf(T.BinaryType())
def theta_union_pair(x: bytes, y: bytes) -> bytes:
    """Pairwise union of two theta image columns (theta-rule,
    theta/UnionImpl.java:300) -> new image column."""
    return _theta_pair(theta.union, x, y).to_bytes()


@_image_udf(T.BinaryType())
def theta_intersect_pair(x: bytes, y: bytes) -> bytes:
    """Pairwise intersection of two theta image columns
    (theta/IntersectionImpl counterpart) -> new image column."""
    return _theta_pair(theta.intersect, x, y).to_bytes()


@_image_udf(T.BinaryType())
def theta_a_not_b_pair(x: bytes, y: bytes) -> bytes:
    """Pairwise A-and-not-B of two theta image columns
    (theta/AnotBimpl counterpart) -> new image column."""
    return _theta_pair(theta.a_not_b, x, y).to_bytes()


@_image_udf(T.DoubleType())
def theta_jaccard_pair(x: bytes, y: bytes) -> float:
    """Jaccard estimate of two sketch images
    (theta/JaccardSimilarity.java:55)."""
    return _theta_pair(theta.jaccard, x, y)[1]


# ---------------------------------------------------------------------------
# HLL
# ---------------------------------------------------------------------------

def hll_sketch_agg(df: DataFrame, col: str, by: list[str] | None = None,
                   lg_k: int = HLL_DEFAULT_LG_K,
                   seed: int = DEFAULT_UPDATE_SEED) -> DataFrame:
    """Values hash through the reference's update overloads like the
    theta agg (hll/BaseHllSketch.java:292-393): integral, floating,
    STRING (UTF-8 bytes) and BINARY (raw bytes) columns."""
    return _two_phase(df, by, [col], S.hll(lg_k, seed), "hll_sketch")


@_image_udf(T.DoubleType())
def hll_estimate(b: bytes) -> float:
    """Cardinality estimate from an HLL image column (composite
    estimator, hll/HllSketch.getEstimate counterpart)."""
    return hll.HllSketch.from_bytes(b).estimate()


def hll_to_java(tgt_type: str = "hll8") -> Callable:
    """Engine image → reference HLL image at the chosen target type
    ('hll4' | 'hll6' | 'hll8'; hll/ToByteArrayImpl counterpart)."""
    writer = {"hll4": hll_serde.to_java_bytes_hll4,
              "hll6": hll_serde.to_java_bytes_hll6,
              "hll8": hll_serde.to_java_bytes}.get(tgt_type)
    if writer is None:  # fail at call time, not inside a worker
        raise ValueError(f"tgt_type must be hll4/hll6/hll8: {tgt_type}")

    @_image_udf(T.BinaryType())
    def enc(b: bytes) -> bytes:
        return writer(hll.HllSketch.from_bytes(b))
    return enc


@_image_udf(T.BinaryType())
def hll_from_java(b: bytes) -> bytes:
    """ANY reference HLL image (HLL_4/6/8, LIST/SET modes) → engine
    image (hll/HllSketch.heapify counterpart)."""
    return hll_serde.from_java_bytes(b).to_bytes()


# ---------------------------------------------------------------------------
# KLL
# ---------------------------------------------------------------------------

def kll_sketch_agg(df: DataFrame, col: str, by: list[str] | None = None,
                   k: int = KLL_DEFAULT_K) -> DataFrame:
    """groupBy(by).agg(kll_sketch(col)) -> by + kll_sketch:binary —
    two-phase KLL doubles aggregation (kll/KllDoublesSketch update +
    merge split across partial/final)."""
    return _two_phase(df, by, [col], S.kll(k), "kll_sketch")


def kll_items_sketch_agg(df: DataFrame, col: str,
                         by: list[str] | None = None,
                         k: int = KLL_DEFAULT_K,
                         dtype: str = "long") -> DataFrame:
    """Generic-item KLL (kll/KllLongsSketch.java dtype analogue;
    quantiles/ItemsSketch.java:70 comparator contract) over a long or
    string column — same two-phase update/merge shape as the doubles
    agg."""
    def build(values: pa.Array) -> bytes:
        vals = to_numpy(values.drop_null(), np.int64 if dtype == "long" else object)
        return KllItemsSketch.new(k, dtype).update_batch(vals).to_bytes()

    return _two_phase(df, by, [col], S.Spec(build, lambda imgs: fold(
        KllItemsSketch.new(k, dtype), KllItemsSketch, imgs)), "kll_items_sketch")


@_image_udf(T.BinaryType())
def kll_to_java(b: bytes) -> bytes:
    """Engine KLL-doubles image → reference compact image
    (kll/KllPreambleUtil.java layout)."""
    return kll_serde.to_java_bytes(KllDoublesSketch.from_bytes(b))


@_image_udf(T.BinaryType())
def kll_from_java(b: bytes) -> bytes:
    """Reference KLL compact image (doubles or floats) → engine image;
    classic-quantiles legacy images route via kll_serde.
    classic_doubles_from_java_bytes."""
    return kll_serde.from_java_bytes(b).to_bytes()


def kll_items_to_java(dtype: str = "long") -> Callable:
    """Engine KLL-items image → the reference's classic generic
    ItemsSketch wire format (quantiles/ItemsByteArrayImpl.java with
    ArrayOfLongsSerDe / ArrayOfStringsSerDe; exact-mode states).
    ``dtype`` is checked against the sketch so a wiring mistake fails
    loudly rather than silently encoding the other codec."""
    from ..sketches.kll_items import _DTYPE_LONG, _DTYPE_STRING
    if dtype not in ("long", "string"):
        raise ValueError(f"dtype must be 'long' or 'string': {dtype}")
    want = _DTYPE_LONG if dtype == "long" else _DTYPE_STRING

    @_image_udf(T.BinaryType())
    def enc(b: bytes) -> bytes:
        sk = KllItemsSketch.from_bytes(b)
        if sk.dtype_code != want:
            raise ValueError(f"kll_items_to_java({dtype!r}) fed a sketch "
                             f"of the other item type")
        return kll_serde.classic_items_to_java_bytes(sk)
    return enc


def kll_items_from_java(dtype: str = "long") -> Callable:
    """Reference classic generic ItemsSketch image → engine image."""
    @_image_udf(T.BinaryType())
    def dec(b: bytes) -> bytes:
        return kll_serde.classic_items_from_java_bytes(b, dtype).to_bytes()
    return dec


def kll_items_quantiles(ranks: list[float], dtype: str = "long",
                        inclusive: bool = True) -> Callable:
    """Scalar UDF factory: quantiles at ``ranks`` from a generic-item
    KLL image column of the given dtype ('long' | 'string')."""
    elem = T.LongType() if dtype == "long" else T.StringType()

    @_image_udf(T.ArrayType(elem))
    def qs(b: bytes) -> list:
        return KllItemsSketch.from_bytes(b).quantiles(ranks, inclusive)
    return qs


def kll_items_rank(value, inclusive: bool = True) -> Callable:
    """Scalar UDF factory: normalized rank of ``value`` from a
    generic-item KLL image column (comparator order)."""
    @_image_udf(T.DoubleType())
    def r(b: bytes) -> float:
        return KllItemsSketch.from_bytes(b).rank(value, inclusive)
    return r


def kll_quantile(rank: float, inclusive: bool = True) -> Callable:
    """Scalar UDF factory: quantile at ``rank`` from a KLL image
    column (kll/KllDoublesSketch.getQuantile counterpart)."""
    @_image_udf(T.DoubleType())
    def q(b: bytes) -> float:
        return KllDoublesSketch.from_bytes(b).quantile(rank, inclusive)
    return q


def kll_quantiles(ranks: list[float], inclusive: bool = True) -> Callable:
    """Scalar UDF factory: array of quantiles at ``ranks`` from a
    KLL image column (one deserialize per row, not per rank)."""
    @_image_udf(T.ArrayType(T.DoubleType()))
    def qs(b: bytes) -> list:
        return KllDoublesSketch.from_bytes(b).quantiles(ranks, inclusive)
    return qs


def kll_rank(value: float) -> Callable:
    """Scalar UDF factory: normalized rank of ``value`` from a KLL
    image column (kll/KllDoublesSketch.getRank counterpart)."""
    @_image_udf(T.DoubleType())
    def r(b: bytes) -> float:
        return KllDoublesSketch.from_bytes(b).rank(value)
    return r


@_image_udf(T.LongType())
def kll_n(b: bytes) -> int:
    """Total update count n recorded in a KLL image column."""
    return KllDoublesSketch.from_bytes(b).n


@_image_udf(T.DoubleType())
def kll_min(b: bytes) -> float:
    """Exact stream minimum tracked by a KLL image column."""
    return KllDoublesSketch.from_bytes(b).min_value


@_image_udf(T.DoubleType())
def kll_max(b: bytes) -> float:
    """Exact stream maximum tracked by a KLL image column."""
    return KllDoublesSketch.from_bytes(b).max_value


# ---------------------------------------------------------------------------
# REQ (relative-error quantiles)
# ---------------------------------------------------------------------------

def req_sketch_agg(df: DataFrame, col: str, by: list[str] | None = None,
                   k: int = 12, hra: bool = True) -> DataFrame:
    """groupBy(by).agg(req_sketch(col)) — relative-error quantiles
    (req/ReqSketch.java:82): HRA mode keeps extreme-tail ranks
    near-exact, the regime KLL's uniform rank error can't serve
    (length/score distribution tails in data pipelines)."""
    return _two_phase(df, by, [col], S.Spec(
        lambda v: ReqSketch(k, hra).update_batch(
            to_numpy(v.drop_null(), np.float64)).to_bytes(),
        lambda imgs: fold(ReqSketch.from_bytes(imgs[0]), ReqSketch, imgs[1:])),
        "req_sketch")


@_image_udf(T.BinaryType())
def req_to_java(b: bytes) -> bytes:
    """Engine REQ image → reference wire format (req/ReqSerDe.java)."""
    return req_serde.to_java_bytes(ReqSketch.from_bytes(b))


@_image_udf(T.BinaryType())
def req_from_java(b: bytes) -> bytes:
    """Reference REQ wire format → engine image."""
    return req_serde.from_java_bytes(b).to_bytes()


def req_quantiles(ranks: list[float], inclusive: bool = True) -> Callable:
    """Scalar UDF factory: quantiles at ``ranks`` from a REQ image
    column (req/ReqSketch.getQuantile counterpart)."""
    @_image_udf(T.ArrayType(T.DoubleType()))
    def qs(b: bytes) -> list:
        return ReqSketch.from_bytes(b).quantiles(ranks, inclusive)
    return qs


def req_rank(value: float, inclusive: bool = True) -> Callable:
    """Scalar UDF factory: normalized rank of ``value`` from a REQ
    image column."""
    @_image_udf(T.DoubleType())
    def r(b: bytes) -> float:
        return ReqSketch.from_bytes(b).rank(value, inclusive)
    return r


# ---------------------------------------------------------------------------
# frequent items
# ---------------------------------------------------------------------------

def freq_sketch_agg(df: DataFrame, col: str, by: list[str] | None = None,
                    max_map_size: int = FREQ_DEFAULT_MAX_MAP_SIZE,
                    weight_col: str | None = None) -> DataFrame:
    """groupBy(by).agg(frequent_items(col[, weight])) -> by +
    freq_sketch:binary — two-phase heavy-hitters aggregation
    (frequencies/ItemsSketch update/merge with median-purge)."""
    return _two_phase(df, by, [col] + ([weight_col] if weight_col else []),
                      S.freq(max_map_size), "freq_sketch")


_FREQ_ROW = T.ArrayType(T.StructType([
    T.StructField("item", T.StringType()),
    T.StructField("estimate", T.LongType()),
    T.StructField("lower_bound", T.LongType()),
    T.StructField("upper_bound", T.LongType()),
]))


@_image_udf(T.BinaryType())
def freq_items_to_java(b: bytes) -> bytes:
    """Engine frequent-items image → reference string ItemsSketch
    image (frequencies/ItemsSketch.toByteArray:494 with
    ArrayOfStringsSerDe payloads)."""
    return freq_serde.items_to_java_bytes(ItemsSketch.from_bytes(b))


@_image_udf(T.BinaryType())
def freq_items_from_java(b: bytes) -> bytes:
    """Reference string ItemsSketch image → engine image."""
    return freq_serde.items_from_java_bytes(b).to_bytes()


def freq_items(threshold: int, error_type: str = "NO_FALSE_POSITIVES") -> Callable:
    """Scalar UDF factory: (item, estimate, lb, ub) heavy-hitter rows
    above ``threshold`` from a freq image column, under the chosen
    error regime (NO_FALSE_POSITIVES | NO_FALSE_NEGATIVES)."""
    @_image_udf(_FREQ_ROW)
    def items(b: bytes) -> list:
        return [(str(i), e, lb, ub) for i, e, lb, ub in
                ItemsSketch.from_bytes(b).frequent_items(threshold, error_type)]
    return items


# ---------------------------------------------------------------------------
# tuple (attributed distinct) sketch
# ---------------------------------------------------------------------------

def tuple_sketch_agg(df: DataFrame, key_col: str, value_cols: list[str],
                     by: list[str] | None = None,
                     lg_k: int = DEFAULT_LG_K,
                     seed: int = DEFAULT_UPDATE_SEED,
                     mode: str = "Sum",
                     values_dtype: str = "double") -> DataFrame:
    """groupBy(by).agg(tuple_sketch(key, values)) — distinct keys with
    per-key summary algebra (tuple/UpdatableSketch.java:40).

    Keys are hashed by their type like theta's values
    (``sketch_spec.hash_pairs``); a row whose key is NULL or empty is
    dropped with its values.  ``values_dtype="long"`` carries int64
    summaries end-to-end (IntegerSummary counterpart): integer totals
    never touch a float, so exact-mode sums are order/partition
    deterministic.
    """
    np_dtype = np.int64 if values_dtype == "long" else np.float64

    def build(keys: pa.Array, *values: pa.Array) -> bytes:
        keep = S.kept(keys)
        vals = np.column_stack([to_numpy(v, np_dtype)[keep] for v in values])
        uh = S.hash_pairs(keys, seed)[0] >> np.uint64(1)
        return tpl.from_update_hashes(uh, vals, lg_k, seed, mode,
                                      values_dtype=np_dtype).to_bytes()

    return _two_phase(df, by, [key_col, *value_cols], S.Spec(
        build, lambda imgs: tpl.union_many(
            [tpl.TupleSketch.from_bytes(b) for b in imgs]).to_bytes()),
        "tuple_sketch")


@_image_udf(T.DoubleType())
def tuple_estimate(b: bytes) -> float:
    """Distinct-key estimate from a tuple-sketch image column
    (tuple/Sketch.getEstimate counterpart)."""
    return tpl.TupleSketch.from_bytes(b).estimate()


def tuple_sum_value(dim: int = 0) -> Callable:
    """Unbiased Σ of summary dimension ``dim`` over all distinct keys."""
    @_image_udf(T.DoubleType())
    def s(b: bytes) -> float:
        return float(tpl.TupleSketch.from_bytes(b).sum_values()[dim])
    return s


def tuple_sum_value_long(dim: int = 0) -> Callable:
    """Σ of summary dimension ``dim`` as LongType.  With int64 summaries
    in exact mode the sum is computed in int64 end-to-end (no float
    representation exists anywhere for the value to canonicalize
    differently); estimation-mode results round the unbiased float."""
    @_image_udf(T.LongType())
    def s(b: bytes) -> int:
        return int(round(tpl.TupleSketch.from_bytes(b).sum_values()[dim]))
    return s


def tuple_to_java(summary: str = "int_java") -> Callable:
    """Engine tuple image → reference serVer-3 tuple CompactSketch
    image (tuple/CompactSketch.java:199-249 layout; summary codec
    per sketches/tuple_serde)."""
    @_image_udf(T.BinaryType())
    def conv(b: bytes) -> bytes:
        return tuple_serde.to_java_bytes(tpl.TupleSketch.from_bytes(b), summary)
    return conv


def tuple_from_java(summary: str = "int_java") -> Callable:
    """Reference serVer-1/2/3 tuple CompactSketch image → engine image
    (Sketches.heapifySketch counterpart)."""
    @_image_udf(T.BinaryType())
    def conv(b: bytes) -> bytes:
        return tuple_serde.from_java_bytes(b, summary).to_bytes()
    return conv


@_image_udf(T.BinaryType())
def aod_to_java(b: bytes) -> bytes:
    """Engine tuple image (float64 values) → reference ArrayOfDoubles
    CompactSketch serVer-1 image."""
    return tuple_serde.aod_to_java_bytes(tpl.TupleSketch.from_bytes(b))


@_image_udf(T.BinaryType())
def aod_from_java(b: bytes) -> bytes:
    """Reference ArrayOfDoubles CompactSketch image → engine image."""
    return tuple_serde.aod_from_java_bytes(b).to_bytes()


@_image_udf(T.DoubleType())
def tuple_jaccard_pair(x: bytes, y: bytes) -> float:
    """Jaccard estimate of two tuple-sketch images
    (tuple/JaccardSimilarity.java:41)."""
    return tpl.jaccard(tpl.TupleSketch.from_bytes(x),
                       tpl.TupleSketch.from_bytes(y))[1]


# ---------------------------------------------------------------------------
# CPC
# ---------------------------------------------------------------------------

def cpc_sketch_agg(df: DataFrame, col: str, by: list[str] | None = None,
                   lg_k: int = 11,
                   seed: int = DEFAULT_UPDATE_SEED) -> DataFrame:
    """groupBy(by).agg(cpc_sketch(col)) — the CPC bit-matrix core
    (cpc/CpcSketch.java:64) in the standard two-phase shape; shuffle
    payloads are the engine's sparse-pairs/dense-matrix images.
    Values hash through the reference's update overloads like the
    theta agg (update(String), cpc/CpcSketch.java:342, and the rest)."""
    return _two_phase(df, by, [col], S.cpc(lg_k, seed), "cpc_sketch")


@_image_udf(T.DoubleType())
def cpc_estimate(b: bytes) -> float:
    """ICON estimate (merge-safe) from a CPC image column."""
    return cpc.CpcSketch.from_bytes(b).estimate()


@_image_udf(T.BinaryType())
def cpc_to_java(b: bytes) -> bytes:
    """Engine CPC image → reference compressed wire format."""
    return cpc_serde.to_java_bytes(cpc.CpcSketch.from_bytes(b))


@_image_udf(T.BinaryType())
def cpc_from_java(b: bytes) -> bytes:
    """Reference compressed CPC image → engine image (heapify)."""
    return cpc_serde.from_java_bytes(b).to_bytes()


# ---------------------------------------------------------------------------
# sampling
# ---------------------------------------------------------------------------

def varopt_sketch_agg(df: DataFrame, item_col: str, weight_col: str,
                      by: list[str] | None = None, k: int = 1024) -> DataFrame:
    """TRUE VarOpt two-phase aggregation (heavy/light two-region
    algorithm, sampling/VarOptItemsSketch.java:72; merge via the
    marked-item union, VarOptItemsUnion.java:205).  The vectorized
    priority_sample_agg remains the batch-optimized alternative."""
    def merge(imgs: list[bytes]) -> bytes:
        u = VarOptUnion(k)
        for b in imgs:
            u.update(VarOptSketch.from_bytes(b))
        return u.get_result().to_bytes()

    return _two_phase(df, by, [item_col, weight_col], S.Spec(
        lambda items, w: VarOptSketch(k).update_batch(
            to_numpy(items, np.int64), to_numpy(w, np.float64)).to_bytes(),
        merge), "varopt_sketch")


def varopt_true_subset_sum(predicate) -> Callable:
    """Unbiased subset-sum estimate from a TRUE VarOpt image
    (VarOptItemsSketch.estimateSubsetSum:636)."""
    @_image_udf(T.DoubleType())
    def s(b: bytes) -> float:
        return VarOptSketch.from_bytes(b).estimate_subset_sum(
            lambda it: predicate(it))["estimate"]
    return s


def fdt_topk(df: DataFrame, primary_cols: list[str], rest_col: str,
             k: int = 10, lg_k: int = DEFAULT_LG_K) -> DataFrame:
    """Frequent distinct tuples (fdt/FdtSketch.java:49) as the pure
    Spark composition SURVEY.md §2.7 prescribes: groupBy(primary) →
    theta-distinct(rest) → top-k by estimate."""
    sk = theta_sketch_agg(df, rest_col, by=primary_cols, lg_k=lg_k)
    return (sk.select(*primary_cols,
                      F.round(theta_estimate("theta_sketch")).cast("long")
                      .alias("distinct_rest"))
            .orderBy(F.desc("distinct_rest"), *primary_cols)
            .limit(k))


def reservoir_agg(df: DataFrame, col: str, by: list[str] | None = None,
                  k: int = 1024) -> DataFrame:
    """groupBy(by).agg(reservoir_sample_k(col)) -> by +
    reservoir_sketch:binary — two-phase uniform fixed-k sampling with
    weighted-coin union (sampling/ReservoirItemsUnion)."""
    return _two_phase(df, by, [col], S.Spec(
        lambda v: ReservoirSketch(k).update_batch(v.to_pylist()).to_bytes(),
        lambda imgs: fold(ReservoirSketch.from_bytes(imgs[0]), ReservoirSketch,
                          imgs[1:])), "reservoir_sketch")


def priority_sample_agg(df: DataFrame, item_col: str, weight_col: str,
                        by: list[str] | None = None, k: int = 1024) -> DataFrame:
    """groupBy(by).agg(priority_sample_k(item, weight)) → by +
    varopt_sketch:binary — the vectorized priority-sampling scale
    path for VarOpt-style weighted subset sums (Duffield et al.;
    exact heavy/light VarOpt is varopt_sketch_agg)."""
    return _two_phase(df, by, [item_col, weight_col], S.Spec(
        lambda items, w: PrioritySample(k).update_batch(
            to_numpy(items, np.int64), to_numpy(w, np.float64)).to_bytes(),
        lambda imgs: fold(PrioritySample.from_bytes(imgs[0]), PrioritySample,
                          imgs[1:])), "varopt_sketch")


@_image_udf(T.LongType())
def reservoir_n(b: bytes) -> int:
    """Stream length n recorded in a reservoir image column."""
    return ReservoirSketch.from_bytes(b).n


@_image_udf(T.ArrayType(T.LongType()))
def reservoir_samples_long(b: bytes) -> list:
    """Sorted long samples of a reservoir image."""
    return sorted(int(x) for x in ReservoirSketch.from_bytes(b).samples)


def varopt_subset_sum(predicate: Callable) -> Callable:
    """UDF factory: unbiased Σweight over items matching ``predicate``
    (sampling/VarOptItemsSketch.java:636 estimateSubsetSum)."""
    @_image_udf(T.DoubleType())
    def subset_sum(b: bytes) -> float:
        return PrioritySample.from_bytes(b).estimate_subset_sum(
            predicate)["estimate"]
    return subset_sum
