"""perfbench's traced run (``perfbench/run.py --trace 1``) re-composes
the dedup plan from the library's public functions, one stage at a
time.  Each call it makes must still bind, so a signature change fails
here rather than in the next traced benchmark."""

from __future__ import annotations

import inspect

import pytest

from datasketches_java_spark.functions import minhash
from datasketches_java_spark.functions.text import (
    shingle_hashes_from_tokens,
    tokens,
)
from datasketches_java_spark.operators import connected_components as cc
from datasketches_java_spark.operators.checkpoint import CheckpointStore
from datasketches_java_spark.operators.lsh import (
    add_signatures,
    band_buckets,
    candidate_pairs,
    hot_buckets,
    verify_pairs,
)
from datasketches_java_spark.plans.dedup import dedup_pipeline

# (function, positional args, keyword args) as the traced run calls them
CALLS = [
    (tokens, ("text",), {}),
    (shingle_hashes_from_tokens, ("_toks",), {}),
    (add_signatures, ("pages", "text"), {}),
    (minhash.minhash_flat, ("values", "starts", "lengths"), {}),
    (minhash.simhash_flat, ("values", "starts", "lengths"), {}),
    (band_buckets, ("sig", "_sid"), {}),
    (hot_buckets, ("buckets",), {"min_size": 64}),
    (candidate_pairs, ("buckets", "_sid", 64), {}),
    (verify_pairs, ("pairs", "sig", "_sid"), {"threshold": 0.8}),
    (cc.connected_components, ("edges",), {}),
    (cc._small_star, ("edges",), {}),
    (CheckpointStore, ("spark", "ckpt"), {}),
    (CheckpointStore.run_stage, ("store", "01_signatures", "build"),
     {"lineage_col": "url"}),
    (dedup_pipeline, ("spark", "pages"),
     {"id_col": "url", "text_col": "text", "checkpoint_dir": "ckpt"}),
]


@pytest.mark.parametrize("fn,args,kwargs", CALLS,
                         ids=[c[0].__qualname__ for c in CALLS])
def test_traced_call_binds(fn, args, kwargs):
    inspect.signature(fn).bind(*args, **kwargs)
