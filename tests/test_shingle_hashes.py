"""The shingle-hash kernel (functions/minhash.shingle_hashes_flat) against
a pure-Python reference over lists of token hashes, and the Spark
surfaces built on it against the string shingles they replace.

A shingle's hash is fmix64(Horner(SEED + m; t_1..t_m)) over its m
token hashes with an odd multiplier mod 2^64; a doc of n >= w tokens
has its n - w + 1 windows, a shorter one (NULL and empty rows
included) one run over all n.  Each doc's set is distinct and sorted
ascending as signed int64.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from datasketches_java_spark.config import SHINGLE_W as W
from datasketches_java_spark.functions import minhash as mh

M64 = (1 << 64) - 1


def _fmix64(h: int) -> int:
    h ^= h >> 33
    h = (h * 0xFF51AFD7ED558CCD) & M64
    h ^= h >> 33
    h = (h * 0xC4CEB9FE1A85EC53) & M64
    return h ^ (h >> 33)


def _run_hash(run: list[int]) -> int:
    h = (int(mh._SHINGLE_SEED) + len(run)) & M64
    for t in run:
        h = (h * int(mh._SHINGLE_MUL) + (t & M64)) & M64
    return _fmix64(h)


def _signed(u: int) -> int:
    return u - (1 << 64) if u >> 63 else u


def reference(toks: list[int] | None, w: int = W) -> list[int]:
    toks = toks or []
    runs = ([toks[i:i + w] for i in range(len(toks) - w + 1)]
            if len(toks) >= w else [toks])
    return sorted({_signed(_run_hash(r)) for r in runs})


def _kernel(docs: list, w: int = W) -> list[list[int]]:
    vals, offsets = mh.shingle_hashes_flat(
        *mh.arrow_flat(pa.array(docs, pa.list_(pa.int64()))), w)
    return [vals[offsets[i]:offsets[i + 1]].tolist() for i in range(len(docs))]


def _tokens(rng, n: int) -> list[int]:
    return rng.integers(-2**63, 2**63, size=n, dtype=np.int64).tolist()


@pytest.mark.parametrize("n", [0, 1, W - 1, W, W + 1, 40])
def test_kernel_matches_reference_by_length(n):
    rng = np.random.default_rng(n)
    docs = [_tokens(rng, n), _tokens(rng, 3), _tokens(rng, n)]
    got = _kernel(docs)
    assert got == [reference(d) for d in docs]
    assert len(got[0]) == max(n - W + 1, 1)


def test_empty_null_and_short_rows_keep_one_shingle():
    got = _kernel([None, [], [7]])
    assert [len(g) for g in got] == [1, 1, 1]
    # a NULL row and an empty row are the same zero-token run
    assert got[0] == got[1] == reference([])
    assert got[2] == reference([7]) != got[0]


def test_repeated_shingles_are_deduplicated():
    doc = [1, 2, 3, 4, 5] * 4 + [9]
    got = _kernel([doc])[0]
    assert got == reference(doc)
    assert len(got) == 6       # the 5 rotations of the cycle + 1 tail


def test_signed_sort_order_with_negative_hashes():
    rng = np.random.default_rng(5)
    got = _kernel([_tokens(rng, 200)])[0]
    assert got == sorted(got) and len(set(got)) == len(got)
    assert got[0] < 0 < got[-1]


def test_run_length_is_mixed_in():
    """A short doc's one run differs from a full window over the same
    prefix: the seed carries the run length."""
    assert _run_hash([1, 2, 3]) != _run_hash([1, 2, 3, 0])
    assert reference([0]) != reference([])


def test_sliced_batch_with_nonzero_offset_base():
    rng = np.random.default_rng(9)
    docs = [_tokens(rng, n) for n in (12, 0, 3, 7, 25)] + [None, _tokens(rng, 6)]
    la = pa.array(docs, pa.list_(pa.int64())).slice(2, 4)
    assert la.offsets[0].as_py() > 0
    vals, offsets = mh.shingle_hashes_flat(*mh.arrow_flat(la))
    got = [vals[offsets[i]:offsets[i + 1]].tolist() for i in range(len(la))]
    assert got == [reference(d) for d in docs[2:6]]


def test_ordered_runs_keep_document_order():
    rng = np.random.default_rng(11)
    doc = _tokens(rng, 9)
    runs, offsets = mh.shingle_runs(*mh.arrow_flat(pa.array([doc, None])))
    assert offsets.tolist() == [0, 5, 6]
    assert runs[:5].tolist() == [_run_hash(doc[i:i + W]) for i in range(5)]


def test_minhash_of_kernel_output_matches_batch_minhash():
    rng = np.random.default_rng(13)
    docs = [_tokens(rng, n) for n in (0, 4, 30, 100)]
    vals, offsets = mh.shingle_hashes_flat(*mh.arrow_flat(pa.array(docs)))
    sig = mh.minhash_flat(vals.view(np.uint64), offsets[:-1], np.diff(offsets))
    want = mh.minhash_flat(*mh.arrow_flat(pa.array([reference(d) for d in docs])))
    np.testing.assert_array_equal(sig, want)


# -- Spark surfaces on the 2,000-doc webtext fixture ----------------------

@pytest.fixture(scope="module")
def pages(spark, tmp_path_factory):
    from datasketches_java_spark.sources.webtext import write_fixture
    paths = write_fixture(str(tmp_path_factory.mktemp("webtext")),
                          n_docs=2000, seed=42)
    return spark.read.parquet(paths["pages"])


def test_column_form_equals_add_signatures(spark, pages):
    from datasketches_java_spark.functions.text import shingle_hashes
    from datasketches_java_spark.operators.lsh import add_signatures
    col = pages.select("url", shingle_hashes("text").alias("col"))
    sig = add_signatures(pages.select("url", "text"), "text")
    bad = (col.join(sig.select("url", "shingles"), on="url")
           .filter(F.col("col") != F.col("shingles")).count())
    assert bad == 0
    assert sig.count() == pages.count()


def test_no_collisions_against_string_shingles(spark, pages):
    """Per doc, as many distinct hashes as distinct string shingles."""
    from datasketches_java_spark.functions.text import (
        shingle_hashes_from_tokens, shingles, tokens)
    toks = pages.select("url", tokens("text").alias("toks"))
    sizes = toks.select(
        F.size(shingle_hashes_from_tokens("toks")).alias("h"),
        F.size(F.array_distinct(shingles(F.col("toks")))).alias("s"))
    assert sizes.filter(F.col("h") != F.col("s")).count() == 0
    assert sizes.count() == 2000
