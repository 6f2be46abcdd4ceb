"""Iceberg checkpoint path — exercised behind a skip-marker.

BASELINE.json names Iceberg tables as the production checkpoint
format.  The sandbox ships no Iceberg runtime jar and cannot
fetch one: the jar is Apache-2.0 and public on Maven Central, but this
environment has no network route (`curl https://repo1.maven.org`
fails DNS resolution — verified each round), and nothing in the baked
image provides it (no ~/.ivy2, no ~/.m2, no iceberg-* on any
classpath).  So the full write/read round-trip can only run on a real
cluster; this test drives the EXACT code path
(CheckpointStore(fmt="iceberg") → DataFrameWriterV2
``writeTo(...).using("iceberg").createOrReplace()``) and skips at the
first missing-runtime error, so any regression in our plumbing (wrong
API, wrong table naming, wrong resume check) still fails loudly
wherever the jar IS present.  On a cluster with network access:
``spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-
4.0_2.13:<version>`` and the suite runs 0-skip.
"""

from __future__ import annotations

import pytest


CATALOG = {"spark.sql.catalog.local": "org.apache.iceberg.spark.SparkCatalog",
           "spark.sql.catalog.local.type": "hadoop",
           "spark.sql.catalog.local.warehouse": "/tmp/iceberg_ckpt_warehouse"}


@pytest.fixture
def iceberg_spark(spark):
    """A child of the shared session with the Iceberg catalog set at
    runtime, so the test never stops the context other tests use."""
    child = spark.newSession()
    for key, value in CATALOG.items():
        child.conf.set(key, value)
    return child


def test_iceberg_checkpoint_roundtrip(iceberg_spark):
    from datasketches_java_spark.operators.checkpoint import CheckpointStore
    spark = iceberg_spark
    store = CheckpointStore(spark, "local.ckpt_test", fmt="iceberg")
    try:
        df = store.run_stage(
            "s01",
            lambda: spark.range(100).withColumnRenamed("id", "doc_id"),
            lineage_col="doc_id")
    except Exception as e:  # no Iceberg runtime in this sandbox
        msg = str(e)
        if ("iceberg" in msg.lower() or "ClassNotFound" in msg
                or "Cannot find catalog plugin" in msg
                or "DATA_SOURCE_NOT_FOUND" in msg):
            pytest.skip(f"Iceberg runtime not available: {msg[:120]}")
        raise
    # full round-trip (runs only where the jar exists)
    assert df.count() == 100
    assert store.is_complete("s01")
    again = store.run_stage("s01", lambda: (_ for _ in ()).throw(
        AssertionError("resume must not rebuild")))
    assert again.count() == 100
    m = store.metrics("s01")
    assert m.agg({"rows": "sum"}).collect()[0][0] == 100
