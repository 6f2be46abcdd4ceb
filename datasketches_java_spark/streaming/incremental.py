"""Streaming / batch-incremental processing.

The reference's "streaming" is single-pass update (SURVEY.md §2.11 —
no time semantics); in Spark that maps to two shapes, both here:

1. **Batch-incremental** (production shape for WARC crawls):
   `delta_new_docs` finds the rows not yet processed (anti-join against
   the checkpointed id set) and `incremental_theta_state` merges a
   batch's sketches into the stored state via sketch-column union (the
   update/merge algebra is exactly what makes this correct:
   union(state, sketch(delta)) == sketch(all)).
2. **Structured Streaming**: `incremental_sketch_stream` wires the
   same two-phase sketch aggregation into a streaming query with
   watermarked event-time windows via foreachBatch — each micro-batch
   unions its partial sketches into a parquet state table; the merge
   algebra makes micro-batch boundaries invisible.
   `stateful_theta_distinct` keeps the sketch itself as per-key
   streaming state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.sketch_aggs import theta_sketch_agg, theta_union_agg


def delta_new_docs(all_pages: DataFrame, processed_ids: DataFrame,
                   id_col: str) -> DataFrame:
    """Resume path: rows not yet processed (left_anti on the
    checkpointed id set — SURVEY.md §7.8)."""
    return all_pages.join(processed_ids.select(id_col), on=id_col,
                          how="left_anti")


def incremental_theta_state(spark: SparkSession, batch: DataFrame,
                            state_dir: str, col: str,
                            by: list[str], **agg_kw) -> DataFrame:
    """Merge a new batch's partial sketches into a persistent per-key
    sketch state table; returns the merged state.

    union(state, sketch(batch)) == sketch(state_stream + batch) — the
    associative/commutative merge contract (theta/UnionImpl.java:300)
    is what lets state live across arbitrary batch boundaries.
    """
    path = os.path.join(state_dir, "theta_state")
    partial = theta_sketch_agg(batch, col, by=by, **agg_kw)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        prev = spark.read.parquet(path)
        merged = theta_union_agg(prev.unionByName(partial), by=by)
    else:
        merged = partial
    tmp = path + "_tmp"
    merged.write.mode("overwrite").parquet(tmp)
    out = spark.read.parquet(tmp)
    out.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def epoch_drift_check(spark: SparkSession, batch: DataFrame, state_dir: str,
                      col: str, k: int = 200,
                      p_value: float = 0.01,
                      commit: str = "always") -> dict:
    """Kolmogorov–Smirnov drift gate between processing epochs
    (quantiles/KolmogorovSmirnov.java:38,105 → sketches/kll.ks_test).

    Each call sketches ``col`` for the new batch, compares it against
    the previous epoch's persisted KLL image, and returns
    {"drifted": bool, "d": statistic}.  The per-epoch sketch is
    bounded-size, so the gate costs one KLL aggregation regardless of
    batch size.

    ``commit`` controls when the new image replaces the stored epoch:
    "always" (default), "if_clean" (only when not drifted — a caller
    that REFUSES to proceed on drift must leave the reference epoch in
    place, else re-running the same drifted input would compare
    against itself and pass), or "never" (pure check).
    """
    from ..functions.sketch_aggs import kll_sketch_agg
    from ..sketches.kll import KllDoublesSketch, ks_statistic, ks_test

    if commit not in ("always", "if_clean", "never"):
        raise ValueError(f"bad commit policy: {commit}")
    path = os.path.join(state_dir, "epoch_kll")
    img = kll_sketch_agg(batch, col, k=k).first()["kll_sketch"]
    cur = KllDoublesSketch.from_bytes(bytes(img))
    result = {"drifted": False, "d": 0.0}
    marker = os.path.join(path, "image.bin")
    if os.path.exists(marker):
        with open(marker, "rb") as f:
            prev = KllDoublesSketch.from_bytes(f.read())
        result = {"drifted": bool(ks_test(cur, prev, p_value)),
                  "d": float(ks_statistic(cur, prev))}
    if commit == "always" or (commit == "if_clean"
                              and not result["drifted"]):
        os.makedirs(path, exist_ok=True)
        with open(marker, "wb") as f:
            f.write(cur.to_bytes())
    return result


def incremental_sketch_stream(spark: SparkSession, stream: DataFrame,
                              state_dir: str, col: str, by: list[str],
                              ts_col: str = "ts",
                              watermark: str = "1 hour",
                              window: str = "1 hour",
                              checkpoint: str | None = None):
    """Structured Streaming wrapper: watermarked event-time windows,
    per-window per-key theta sketches, state merged per micro-batch
    via foreachBatch (the merge algebra makes this exactly-once on
    top of the parquet state table).

    Returns the StreamingQuery; caller awaits/stops it.
    """
    windowed = stream.withWatermark(ts_col, watermark).withColumn(
        "win", F.window(ts_col, window).start.cast("string"))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        incremental_theta_state(batch_df.sparkSession, batch_df,
                                state_dir, col, by=["win", *by])

    return (windowed.writeStream
            .foreachBatch(sink)
            .option("checkpointLocation",
                    checkpoint or os.path.join(state_dir, "_stream_ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


def stateful_theta_distinct(stream: DataFrame, key_col: str, value_col: str,
                            lg_k: int = 12):
    """Custom stateful streaming operator via applyInPandasWithState
    (the SURVEY §2.11 upgrade path, now implemented): per key, the
    GroupState holds ONE compact theta-sketch image; every micro-batch
    unions the batch's values into it and emits (key, estimate, n_seen).

    This is the reference's update→merge lifecycle expressed as
    Structured Streaming state — the sketch IS the state, bounded at
    O(k) bytes per key regardless of stream length, and the union
    algebra makes results independent of micro-batch boundaries
    (asserted in tests/test_multimodal_streaming.py).  Values hash by
    the column's declared type, as in the sketch aggregates
    (``sketch_spec.hash_pairs``); NULLs, and NaN doubles, which pandas
    cannot tell from NULL, are skipped.  The values reach pandas
    coalesced, beside a NULL flag, so a BIGINT column holding NULLs
    stays int64 and is hashed exactly.
    """
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..functions import sketch_spec
    from ..sketches.theta import ThetaSketch

    out_schema = T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("distinct_estimate", T.DoubleType()),
        T.StructField("rows_seen", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("image", T.BinaryType()),
        T.StructField("rows", T.LongType()),
    ])

    spec = sketch_spec.theta(lg_k)
    value_type = stream.schema[value_col].dataType
    arrow_type = to_arrow_type(value_type)

    def update(key, pdfs, state: GroupState):
        pdf = pd.concat(list(pdfs))
        vals = pdf[value_col][~pdf["_is_null"]]
        image = spec.build(pa.Array.from_pandas(vals, type=arrow_type))
        rows = len(pdf)
        if state.exists:
            prev, prev_rows = state.get
            image = spec.merge([bytes(prev), image])
            rows += int(prev_rows)
        state.update((bytearray(image), rows))
        yield pd.DataFrame({
            "key": [str(key[0])],
            "distinct_estimate": [ThetaSketch.from_bytes(image).estimate()],
            "rows_seen": [rows]})

    value = F.col(value_col)
    flagged = stream.select(
        F.col(key_col).cast("string").alias(key_col),
        F.coalesce(value, F.lit("0").cast(value_type)).alias(value_col),
        value.isNull().alias("_is_null"))
    return (flagged.groupBy(key_col)
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))
