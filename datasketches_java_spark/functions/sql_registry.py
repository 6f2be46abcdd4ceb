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
  quantile``, the pairwise set ops): scalar Arrow UDFs over
  already-built sketch columns.  Every one returns NULL for a row
  whose image or argument is NULL.  Each is the DataFrame scalar of
  ``functions/sketch_aggs`` under its SQL name: ``theta_sketch_
  {estimate,lower_bound,upper_bound,to_java,from_java}`` are
  ``theta_{estimate,...}``; ``theta_sketch_{union_pair,intersect,
  a_not_b,jaccard}`` are ``theta_{union,intersect,a_not_b,jaccard}_
  pair``; ``{hll,cpc}_sketch_estimate`` are ``{hll,cpc}_estimate``;
  ``kll_sketch_{quantile,rank,n,min,max}`` are ``kll_{quantile,rank,
  n,min,max}``.  Only ``frequent_strings_sketch_result(sk, threshold)``
  is SQL's own: its (item, estimate) rows are a different query from
  ``freq_items``.
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

from ..config import DEFAULT_LG_K
from ..sketches.frequencies import ItemsSketch
from . import sketch_aggs as A, sketch_spec as S
from .sketch_aggs import _image_udf


@_image_udf(T.ArrayType(T.StructType([
    T.StructField("item", T.StringType()),
    T.StructField("estimate", T.LongType())])))
def _frequent_strings_sketch_result(b: bytes, threshold: int) -> list:
    return [(it, int(est)) for it, est, _, _ in
            ItemsSketch.from_bytes(b).frequent_items(threshold=int(threshold))]


def register_sql_functions(spark: SparkSession,
                           lg_k: int = DEFAULT_LG_K) -> list[str]:
    """Register the sketch SQL functions on ``spark``; returns the
    registered names.  ``lg_k`` (theta) binds at registration — one
    registry per config, matching the Hive adaptor model where the
    UDAF instance owns its parameters; the other families use their
    default size."""
    theta, hll, kll = S.theta(lg_k), S.hll(), S.kll()
    aggregates = {
        "theta_sketch_build": theta.build,
        "theta_sketch_union": theta.union,
        "hll_sketch_build": hll.build,
        "hll_sketch_union": hll.union,
        "cpc_sketch_build": S.cpc().build,
        "kll_sketch_build": kll.build,
        "kll_sketch_merge": kll.union,
        "frequent_strings_sketch_build": S.freq().build,
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
        "kll_sketch_quantile": A.kll_quantile,
        "kll_sketch_rank": A.kll_rank,
        "kll_sketch_n": A.kll_n,
        "kll_sketch_min": A.kll_min,
        "kll_sketch_max": A.kll_max,
        "frequent_strings_sketch_result": _frequent_strings_sketch_result,
    })
    for name, fn in fns.items():
        spark.udf.register(name, fn)
    return sorted(fns)
