"""Block-boundary equivalence for the cache-blocked signature kernels.

minhash_flat / simhash_flat process the flat shingle-hash buffer in
L2-resident blocks (functions/minhash.py:_BLOCK_VALUES), min-combining
or sum-combining partial per-block results for documents that straddle
a block boundary.  These tests pin that combination logic against the
obvious per-document reference implementation, with doc layouts chosen
to exercise every straddle case: doc inside a block, doc spanning two
and three blocks, doc starting/ending exactly on a boundary, empty and
None docs interleaved.
"""

import numpy as np
import pyarrow as pa
import pytest

from datasketches_java_spark.functions import minhash as mh


def _flat(docs):
    return mh.arrow_flat(pa.array(docs, pa.list_(pa.int64())))


def _reference_minhash(docs, n_perms):
    out = np.full((len(docs), n_perms), mh._EMPTY_SIG, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for i, d in enumerate(docs):
            if d is None or len(d) == 0:
                continue
            v = np.asarray(d, np.int64).view(np.uint64)
            for j in range(n_perms):
                out[i, j] = (v * mh._A[j] + mh._B[j]).min()
    return out.view(np.int64)


def _reference_simhash(docs, bits):
    out = np.zeros(len(docs), dtype=np.uint64)
    for i, d in enumerate(docs):
        if d is None or len(d) == 0:
            continue
        v = np.asarray(d, np.int64).view(np.uint64)
        acc = np.uint64(0)
        for k in range(bits):
            ones = int(((v >> np.uint64(k)) & np.uint64(1)).sum())
            if 2 * ones > len(d):
                acc |= np.uint64(1) << np.uint64(k)
        out[i] = acc
    return out.view(np.int64)


def _boundary_docs(block, rng):
    """Doc layout engineered around a given block size."""
    mk = lambda n: rng.integers(-2**63, 2**63, size=n, dtype=np.int64).tolist()
    filled = 5 + (block - 10) + 20 + (2 * block + 7) + 1
    return [
        mk(5),                  # small, inside block 0
        None,                   # null row
        mk(block - 10),         # ends 5 short of the boundary... then
        mk(20),                 # ...this one straddles blocks 0/1
        [],                     # empty row
        mk(2 * block + 7),      # spans three blocks
        mk(1),                  # singleton starting mid-block
        mk(block - filled % block),  # pads so the NEXT doc starts on a boundary
        mk(3),                  # starts exactly on a block boundary
        mk(block),              # exactly one full block
    ]


@pytest.mark.parametrize("block", [64, 1000])
def test_minhash_blocked_equals_reference(monkeypatch, block):
    rng = np.random.default_rng(7)
    docs = _boundary_docs(block, rng)
    monkeypatch.setattr(mh, "_BLOCK_VALUES", block)
    got = mh.minhash_flat(*_flat(docs), n_perms=16)
    want = _reference_minhash(docs, n_perms=16)
    np.testing.assert_array_equal(got, want)


@pytest.mark.parametrize("block", [64, 1000])
def test_simhash_blocked_equals_reference(monkeypatch, block):
    rng = np.random.default_rng(11)
    docs = _boundary_docs(block, rng)
    monkeypatch.setattr(mh, "_BLOCK_VALUES", block)
    got = mh.simhash_flat(*_flat(docs), bits=64)
    want = _reference_simhash(docs, bits=64)
    np.testing.assert_array_equal(got, want)


def test_blocked_matches_unblocked_default():
    """Same answers at the production block size as at block=1 doc/pass."""
    rng = np.random.default_rng(3)
    docs = [rng.integers(-2**63, 2**63, size=n, dtype=np.int64).tolist()
            for n in rng.integers(1, 400, size=50)]
    sig = mh.minhash_flat(*_flat(docs))
    fp = mh.simhash_flat(*_flat(docs))
    np.testing.assert_array_equal(sig, _reference_minhash(docs, mh.MINHASH_PERMS))
    np.testing.assert_array_equal(fp, _reference_simhash(docs, mh.SIMHASH_BITS))
