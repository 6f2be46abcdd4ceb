"""Building a quantile sketch from the same inputs must give the same
image bytes.  Every family is driven into estimation mode (n ≫ k)
through three ``update_batch`` calls plus one ``merge``, so the
compaction schedule, the seeded coins and the image writers are all
pinned; KLL doubles also goes through the ``sketch_spec`` build/merge
that the DataFrame and SQL surfaces run.  The digests are those of
the images this code wrote when the test was added: a change here is
a change of every stored quantile image, not a test to regenerate."""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pytest

from datasketches_java_spark.functions import sketch_spec
from datasketches_java_spark.sketches.kll import KllDoublesSketch
from datasketches_java_spark.sketches.kll_items import KllItemsSketch
from datasketches_java_spark.sketches.req import ReqSketch

N = 24_000


def _chunks(values, parts: int = 4):
    return np.array_split(values, parts)


def _doubles() -> np.ndarray:
    rng = np.random.default_rng(2024)
    xs = rng.normal(0.0, 1e3, N).round(1)
    xs[rng.integers(0, N, 500)] = -0.0
    xs[rng.integers(0, N, 500)] = 0.0
    xs[rng.integers(0, N, 100)] = np.nan
    return xs


def _longs() -> np.ndarray:
    return np.random.default_rng(2025).integers(-10**15, 10**15, N // 4)


def _strings() -> np.ndarray:
    ints = np.random.default_rng(2026).integers(0, 3000, N // 4)
    return np.asarray([f"s{v:04d}é" for v in ints], dtype=object)


def _built(new, values) -> bytes:
    """Three update_batch calls into one sketch, a fourth chunk in a
    second sketch, then merge."""
    *head, tail = _chunks(values)
    sk = new()
    for part in head:
        sk.update_batch(part)
    return sk.merge(new().update_batch(tail)).to_bytes()


def _spec_built(values) -> bytes:
    spec = sketch_spec.kll(200)
    return spec.merge([spec.build(pa.array(part, pa.float64()))
                       for part in _chunks(values)])


IMAGES = {
    "kll_doubles": lambda: _built(lambda: KllDoublesSketch.new(200), _doubles()),
    "kll_doubles_spec": lambda: _spec_built(_doubles()),
    "kll_items_long": lambda: _built(
        lambda: KllItemsSketch.new(64, "long"), _longs()),
    "kll_items_string": lambda: _built(
        lambda: KllItemsSketch.new(64, "string"), _strings()),
    "req_hra": lambda: _built(lambda: ReqSketch(12, hra=True), _doubles()),
    "req_lra": lambda: _built(lambda: ReqSketch(12, hra=False), _doubles()),
}

DIGESTS = {
    "kll_doubles":
        "8da4b467a2357f5afe34797cfe6ab159c92c2bc3c3d171e02b5a14d9d08f3288",
    "kll_doubles_spec":
        "efe4515af5781c6afce71767eb749901393d076193e3abecc30fdc4f63db37bd",
    "kll_items_long":
        "61a3027f47bc3651fa3026f4dea95e7cd7c340d6385fe049be5ca1ad5f12fc01",
    "kll_items_string":
        "9bdf5329996a6bc6f88500f85e35faf9285fd848468faa9ace24806c9da755e6",
    "req_hra":
        "449015e8aa9a2a7df7c99ba448c362f12a93368ebdbaabca4177a25da68e0529",
    "req_lra":
        "3cf788ae5f8e579091f99be3b4d3d3d321d9ca7d7488e37b3f06314bc4ba3db0",
}


@pytest.mark.parametrize("name", sorted(IMAGES))
def test_image_bytes_stable(name):
    img = IMAGES[name]()
    assert hashlib.sha256(img).hexdigest() == DIGESTS[name]
