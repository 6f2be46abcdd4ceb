"""Winnowing fingerprint tests (rolling-hash document fingerprinting).

Property from the winnowing paper: any shared run of ≥ window
consecutive k-grams between two documents produces at least one shared
fingerprint (no false negatives for long matches)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from datasketches_java_spark.functions.minhash import (
    arrow_flat,
    winnow_fingerprints,
    winnow_flat,
)


def winnow_batch(docs: list, window: int = 8) -> list[list[int]]:
    """Per-doc fingerprint lists from the flat kernel."""
    vals, offsets = winnow_flat(
        *arrow_flat(pa.array(docs, pa.list_(pa.int64()))), window)
    return [vals[offsets[i]:offsets[i + 1]].tolist() for i in range(len(docs))]


def test_winnow_deterministic_and_subset():
    rng = np.random.default_rng(2)
    h = list(rng.integers(-2**62, 2**62, 100))
    a = winnow_batch([h])[0]
    b = winnow_batch([h])[0]
    assert a == b
    assert set(a) <= set(int(x) for x in h)
    assert 0 < len(a) < len(h)


def test_winnow_shared_run_guarantee():
    rng = np.random.default_rng(3)
    shared = list(rng.integers(-2**62, 2**62, 40))  # run of 40 k-grams
    doc1 = list(rng.integers(-2**62, 2**62, 80)) + shared
    doc2 = shared + list(rng.integers(-2**62, 2**62, 80))
    f1, f2 = winnow_batch([doc1, doc2], window=8)
    assert set(f1) & set(f2), "shared 40-gram run must share a fingerprint"


def test_winnow_short_and_empty_docs():
    out = winnow_batch([[], None, [5], list(range(4))], window=8)
    assert out[0] == [] and out[1] == []
    assert out[2] == [5]
    assert out[3] == [0]  # min of 0..3


def test_winnow_spark_udf(spark):
    from datasketches_java_spark.functions.text import (
        ordered_shingle_hashes, tokens)
    df = spark.createDataFrame(
        [("a b c d e f g h i j k l m n o p q r s t u v w x y z",),
         ("z y x w v u t s r q p o n m l k j i h g f e d c b a",)],
        "text string")
    out = (df.withColumn("_toks", tokens("text"))
           .withColumn("fp", winnow_fingerprints(
               ordered_shingle_hashes("_toks", w=3)))
           .select("fp").collect())
    assert all(len(r["fp"]) > 0 for r in out)
    assert out[0]["fp"] != out[1]["fp"]


def test_winnow_vectorized_equals_per_doc_reference():
    """The flat-buffer vectorized winnow must produce byte-identical
    fingerprints to the straightforward per-document computation."""
    import numpy as np

    rng = np.random.default_rng(23)
    docs = []
    for n in [0, 1, 3, 8, 9, 40, 500, 7, 1000]:
        docs.append(rng.integers(-2**62, 2**62, size=n).tolist() or None
                    if n == 0 else
                    rng.integers(-2**62, 2**62, size=n).tolist())
    got = winnow_batch(docs, window=8)

    def ref_one(v, window=8):
        if v is None or len(v) == 0:
            return []
        h = np.asarray(v, dtype=np.int64).view(np.uint64)
        if h.shape[0] <= window:
            return [int(h.min().astype(np.int64))]
        sw = np.lib.stride_tricks.sliding_window_view(h, window)
        return np.unique(sw.min(axis=1).view(np.int64)).tolist()

    for g, v in zip(got, docs):
        assert g == ref_one(v)
