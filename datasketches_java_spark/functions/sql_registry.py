"""SQL surface: register the sketch library for pure ``spark.sql()``.

The reference library's reason for existence is serving SQL engines
(the Hive/Pig adaptors, reference README.md:31).  This registry gives
the Spark engine the same entry point::

    from datasketches_java_spark.functions.sql_registry import (
        register_sql_functions)
    register_sql_functions(spark)
    spark.sql('''
        SELECT c_nationkey,
               CAST(theta_sketch_estimate(theta_sketch_build(c_custkey))
                    AS BIGINT) AS distinct_customers
        FROM customer GROUP BY c_nationkey ORDER BY c_nationkey''')

TYPED DISPATCH — the aggregates are built from the same family specs
as the DataFrame aggs (``functions/sketch_spec``) and registered as
Arrow GROUPED_AGG UDFs, so each receives its column as a ``pa.Array``
of the declared SQL type and hashes it through the reference's
``update`` overloads: integral → long, floating → canonical double
bits, STRING → UTF-8 bytes, BINARY → raw bytes; NULLs and empty
strings/bytes are skipped, any other type raises ``TypeError``.  A SQL
build and a DataFrame build of the same values give the same bytes.
Spark refuses one Aggregate that mixes Arrow and pandas GROUPED_AGG
UDFs ("All aggregate functions must have the same eval type"), so the
registry aggregates cannot share one ``GROUP BY`` with pandas
GROUPED_AGG UDFs; compute those in a separate aggregate and join.

SCALE BOUNDARY — read before using the *_build aggregates at 100 TB:
Spark cannot express partial aggregation for Python UDAFs, so a
registered GROUPED_AGG UDF ships RAW VALUES to the reducer
(``ArrowAggregatePythonExec`` has no map-side combine).  Results are
identical at any scale, but shuffle volume is O(rows), not the
O(groups x partitions x sketch_size) of the DataFrame-API two-phase
aggs in ``functions/sketch_aggs.py`` — those remain the scale path
for BUILDING sketches.  Two SQL patterns carry no such penalty:

- QUERYING sketch images (``theta_sketch_estimate``, ``kll_sketch_
  quantile``, the pairwise set ops): scalar Arrow-batched UDFs over
  already-built sketch columns.  Every one returns NULL for a NULL
  image.
- MERGING sketch images (``theta_sketch_union``, ``hll_sketch_union``,
  ...): the input rows are already bounded-size partials (e.g. from a
  checkpoint or a two-phase build), so the raw-value shuffle IS the
  sketch-image shuffle.  NULL images are skipped; an all-NULL group
  gives the empty sketch.

Function names follow the reference's Hive adaptor convention
(``<family>_sketch_<verb>``) so a user migrating SQL text recognizes
the surface.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, types as T

from ..config import (
    DEFAULT_LG_K,
    DEFAULT_UPDATE_SEED,
    FREQ_DEFAULT_MAX_MAP_SIZE,
    HLL_DEFAULT_LG_K,
    KLL_DEFAULT_K,
)
from ..sketches.frequencies import ItemsSketch
from ..sketches.kll import KllDoublesSketch
from . import sketch_aggs as A, sketch_spec as S
from .sketch_aggs import _image_udf


@_image_udf(T.DoubleType())
def _kll_sketch_quantile(b: bytes, rank: float) -> float:
    return KllDoublesSketch.from_bytes(b).quantile(float(rank))


@_image_udf(T.DoubleType())
def _kll_sketch_rank(b: bytes, x: float) -> float:
    return KllDoublesSketch.from_bytes(b).rank(float(x))


@_image_udf(T.ArrayType(T.StructType([
    T.StructField("item", T.StringType()),
    T.StructField("estimate", T.LongType())])))
def _frequent_strings_sketch_result(b: bytes, threshold: int) -> list:
    return [(it, int(est)) for it, est, _, _ in
            ItemsSketch.from_bytes(b).frequent_items(
                threshold=int(threshold), error_type="NO_FALSE_POSITIVES")]


def register_sql_functions(spark: SparkSession,
                           lg_k: int = DEFAULT_LG_K,
                           hll_lg_k: int = HLL_DEFAULT_LG_K,
                           kll_k: int = KLL_DEFAULT_K,
                           freq_map_size: int = FREQ_DEFAULT_MAX_MAP_SIZE,
                           seed: int = DEFAULT_UPDATE_SEED) -> list[str]:
    """Register the sketch SQL functions on ``spark``; returns the
    registered names.  Config (lg_k, k, seed) binds at registration —
    one registry per config, matching the Hive adaptor model where the
    UDAF instance owns its parameters."""
    theta, hll = S.theta(lg_k, seed), S.hll(hll_lg_k, seed)
    kll = S.kll(kll_k)
    aggregates = {
        "theta_sketch_build": theta.build,
        "theta_sketch_union": theta.union,
        "hll_sketch_build": hll.build,
        "hll_sketch_union": hll.union,
        "cpc_sketch_build": S.cpc(seed=seed).build,
        "kll_sketch_build": kll.build,
        "kll_sketch_merge": kll.union,
        "frequent_strings_sketch_build": S.freq(freq_map_size).build,
    }
    fns = {name: S.aggregate(fn, name) for name, fn in aggregates.items()}
    fns.update({
        "theta_sketch_estimate": A.theta_estimate,
        "theta_sketch_lower_bound": A.theta_lower_bound,
        "theta_sketch_upper_bound": A.theta_upper_bound,
        "theta_sketch_union_pair": A.theta_union_pair,
        "theta_sketch_intersect": A.theta_intersect_pair,
        "theta_sketch_a_not_b": A.theta_a_not_b_pair,
        "theta_sketch_jaccard": A.theta_jaccard_pair,
        "theta_sketch_to_java": A.theta_to_java,
        "theta_sketch_from_java": A.theta_from_java,
        "hll_sketch_estimate": A.hll_estimate,
        "cpc_sketch_estimate": A.cpc_estimate,
        "kll_sketch_quantile": _kll_sketch_quantile,
        "kll_sketch_rank": _kll_sketch_rank,
        "kll_sketch_n": A.kll_n,
        "kll_sketch_min": A.kll_min,
        "kll_sketch_max": A.kll_max,
        "frequent_strings_sketch_result": _frequent_strings_sketch_result,
    })
    for name, fn in fns.items():
        spark.udf.register(name, fn)
    return sorted(fns)
