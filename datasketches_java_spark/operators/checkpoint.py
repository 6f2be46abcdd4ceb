"""Per-stage parquet/Iceberg checkpointing with lineage + metrics.

North-rule requirement: "checkpoints per-stage state to Iceberg with
per-partition lineage and metrics, resumes mid-run".  Sandbox writes
parquet (the Iceberg runtime jar isn't shipped here); the writer is
format-agnostic — `CheckpointStore(fmt="iceberg")` switches to
`writeTo(...)` on a real cluster.

Design:
  - A stage checkpoint is `{root}/{stage}/data` plus
    `{root}/{stage}/metrics` (one row per output partition:
    partition_id, rows, min/max of the lineage key as strings, the
    stage name and the stage's wall-clock ms).  Drift between epochs
    is checked separately, on a KLL image of the input
    (scripts/submit_dedup.py).
  - `run_stage(name, build)` = memoized execution: if the stage
    directory exists with Spark's _SUCCESS marker, read it back
    instead of recomputing — resume-mid-run is therefore "rerun the
    driver program"; completed stages are skipped, the first
    incomplete stage recomputes from the previous checkpoint.
  - Lineage metrics are computed with one extra narrow aggregation
    over spark_partition_id() — no second shuffle.
"""

from __future__ import annotations

import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F


class CheckpointStore:
    """``fmt="parquet"`` (sandbox default): path-based checkpoints under
    ``root``.  ``fmt="iceberg"``: ``root`` is a catalog namespace (e.g.
    ``local.dedup``) and every stage becomes an Iceberg TABLE written
    through DataFrameWriterV2 (``df.writeTo(...).using("iceberg")
    .createOrReplace()``) — the production path BASELINE.json names;
    exercised behind a skip-marker in tests/test_checkpoint_iceberg.py
    because the Iceberg runtime jar is not in this sandbox."""

    def __init__(self, spark: SparkSession, root: str, fmt: str = "parquet"):
        self.spark = spark
        self.root = root
        self.fmt = fmt
        if fmt != "iceberg":
            os.makedirs(root, exist_ok=True)

    # -- paths / tables ----------------------------------------------------
    def _data(self, stage: str) -> str:
        if self.fmt == "iceberg":
            return f"{self.root}.{stage}_data"
        return os.path.join(self.root, stage, "data")

    def _metrics(self, stage: str) -> str:
        if self.fmt == "iceberg":
            return f"{self.root}.{stage}_metrics"
        return os.path.join(self.root, stage, "metrics")

    def is_complete(self, stage: str) -> bool:
        if self.fmt == "iceberg":
            return self.spark.catalog.tableExists(self._data(stage))
        return os.path.exists(os.path.join(self._data(stage), "_SUCCESS"))

    def _write(self, df: DataFrame, target: str) -> None:
        if self.fmt == "iceberg":
            df.writeTo(target).using("iceberg").createOrReplace()
        else:
            df.write.format(self.fmt).mode("overwrite").save(target)

    def _read(self, target: str, schema=None) -> DataFrame:
        if self.fmt == "iceberg":
            return self.spark.table(target)
        reader = self.spark.read.format(self.fmt)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.load(target)

    # -- core --------------------------------------------------------------
    def run_stage(self, stage: str, build: Callable[[], DataFrame],
                  lineage_col: str | None = None) -> DataFrame:
        """Execute-or-resume one pipeline stage."""
        if self.is_complete(stage):
            return self._read(self._data(stage))
        t0 = time.time()
        df = build()
        self._write(df, self._data(stage))
        # read back with the written schema: inferring it is one Spark
        # job over the parquet footers; resumes (above) still infer it
        out = self._read(self._data(stage), df.schema)
        self._write_metrics(stage, out, lineage_col, wall_ms=int((time.time() - t0) * 1000))
        return out

    def _write_metrics(self, stage: str, df: DataFrame,
                       lineage_col: str | None, wall_ms: int) -> None:
        agg = [F.count(F.lit(1)).alias("rows")]
        if lineage_col and lineage_col in df.columns:
            agg += [F.min(lineage_col).cast("string").alias("lineage_min"),
                    F.max(lineage_col).cast("string").alias("lineage_max")]
        else:
            agg += [F.lit(None).cast("string").alias("lineage_min"),
                    F.lit(None).cast("string").alias("lineage_max")]
        m = (df.withColumn("partition_id", F.spark_partition_id())
               .groupBy("partition_id").agg(*agg)
               .withColumn("stage", F.lit(stage))
               .withColumn("wall_ms", F.lit(wall_ms)))
        self._write(m, self._metrics(stage))

    def metrics(self, stage: str) -> DataFrame:
        return self._read(self._metrics(stage))

    def all_metrics(self) -> DataFrame:
        if self.fmt == "iceberg":
            tables = [t.name for t in
                      self.spark.catalog.listTables(self.root)
                      if t.name.endswith("_metrics")]
            stages = [t[: -len("_metrics")] for t in sorted(tables)]
        else:
            stages = [s for s in sorted(os.listdir(self.root))
                      if os.path.exists(self._metrics(s))]
        dfs = [self.metrics(s) for s in stages]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out
