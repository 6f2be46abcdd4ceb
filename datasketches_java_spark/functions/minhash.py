"""128-permutation MinHash + 64-bit SimHash — vectorized Arrow UDFs.

Design (SURVEY.md §2.1 "MinHash relationship"): the reference's theta
sketch is a single-hash bottom-k KMV; the LSH pipeline needs classic
fixed-width MinHash (one minimum per permutation, Broder 1997).  Both
are built here from the same shingle-hash arrays.

Permutation family: sig_j(S) = min_{h in S} (a_j * h + b_j) mod 2^64
with odd a_j — an affine bijection of Z_2^64, i.e. a genuine
permutation of the hash space.  a_j, b_j derive deterministically from
murmur3 of (MINHASH_SEED, j) so every executor and every run agrees
(merge-safety discipline, SURVEY.md §4).

The whole batch is one numpy broadcast: (total_shingles x perm_chunk)
with np.minimum.reduceat per document — the batched analogue of the
reference's per-item update loop (theta/HeapQuickSelectSketch.java:239).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F, types as T

from ..config import MINHASH_PERMS, MINHASH_SEED, SIMHASH_BITS
from ..sketches.murmur3 import hash128_u64_pair

_EMPTY_SIG = np.uint64(0xFFFFFFFFFFFFFFFF)


def _permutation_params(n_perms: int = MINHASH_PERMS,
                        seed: int = MINHASH_SEED) -> tuple[np.ndarray, np.ndarray]:
    js = np.arange(n_perms, dtype=np.uint64)
    a, _ = hash128_u64_pair(js, np.full(n_perms, seed, np.uint64), seed)
    _, b = hash128_u64_pair(js, np.full(n_perms, seed + 1, np.uint64), seed + 7)
    a = a | np.uint64(1)  # odd multiplier -> bijection
    return a, b


_A, _B = _permutation_params()


def _flatten(series: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Ragged array<long> column -> (values u64, row starts, row lengths)."""
    lengths = np.fromiter((0 if v is None else len(v) for v in series),
                          dtype=np.int64, count=len(series))
    if lengths.sum() == 0:
        return np.empty(0, np.uint64), np.zeros(len(series), np.int64), lengths
    values = np.concatenate(
        [np.asarray(v, dtype=np.int64) for v in series if v is not None and len(v)]
    ).view(np.uint64)
    starts = np.zeros(len(series), dtype=np.int64)
    np.cumsum(lengths[:-1], out=starts[1:])
    return values, starts, lengths


_BLOCK_VALUES = 32768  # 256 KiB of u64 — L2-resident with the temp


def minhash_flat(values: np.ndarray, starts: np.ndarray,
                 lengths: np.ndarray,
                 n_perms: int = MINHASH_PERMS) -> np.ndarray:
    """(n_docs x n_perms) int64 signatures from a flattened u64 value
    array + per-row starts/lengths.

    One permutation per pass: a 1-D multiply-add over the flattened
    values followed by a contiguous 1-D ``minimum.reduceat`` — ~50x
    faster than the 2-D broadcast (reduceat along axis 0 of a wide
    array strides badly).  The value buffer is processed in
    L2-resident BLOCKS with all 128 permutations applied per block
    (cache blocking): the multiply-add sweep is DRAM-bandwidth-bound
    (BENCH.md control experiment), and blocking converts 128 full-
    buffer DRAM passes into one DRAM pass + 128 L2 passes — measured
    ~1.5x single-thread, more under 32-way DRAM contention.  Documents
    spanning block boundaries min-combine partial minima."""
    n = len(lengths)
    out = np.full((n, n_perms), _EMPTY_SIG, dtype=np.uint64)
    if values.size == 0:
        return out.view(np.int64)
    nonempty = np.nonzero(lengths > 0)[0]
    ne_starts = starts[nonempty]
    ne_ends = ne_starts + lengths[nonempty]
    total = values.size
    t = np.empty(min(_BLOCK_VALUES, total), dtype=np.uint64)
    pos = 0
    with np.errstate(over="ignore"):
        while pos < total:
            hi = min(pos + _BLOCK_VALUES, total)
            vb = values[pos:hi]
            tb = t[:hi - pos]
            # docs overlapping [pos, hi)
            d0 = int(np.searchsorted(ne_ends, pos, side="right"))
            d1 = int(np.searchsorted(ne_starts, hi, side="left"))
            seg_starts = np.maximum(ne_starts[d0:d1], pos) - pos
            rows = nonempty[d0:d1]
            for j in range(n_perms):
                np.multiply(vb, _A[j], out=tb)
                np.add(tb, _B[j], out=tb)
                mins = np.minimum.reduceat(tb, seg_starts)
                np.minimum(out[rows, j], mins, out=mins)
                out[rows, j] = mins
            pos = hi
    return out.view(np.int64)


def minhash_batch(series: pd.Series, n_perms: int = MINHASH_PERMS) -> np.ndarray:
    """(n_docs, n_perms) uint64 MinHash signatures for a pandas
    Series of shingle-hash arrays — flat-buffer kernel, no per-row
    Python."""
    values, starts, lengths = _flatten(series)
    return minhash_flat(values, starts, lengths, n_perms)


def simhash_flat(values: np.ndarray, starts: np.ndarray,
                 lengths: np.ndarray, bits: int = SIMHASH_BITS) -> np.ndarray:
    """int64 SimHash per doc: majority vote per bit over shingle
    hashes.  Same L2 cache blocking as minhash_flat — per-block
    per-bit segment sums accumulate into an (n_docs x bits) counter
    matrix, majority-voted once at the end."""
    n = len(lengths)
    out = np.zeros(n, dtype=np.uint64)
    if values.size == 0:
        return out.view(np.int64)
    nonempty = np.nonzero(lengths > 0)[0]
    ne_starts = starts[nonempty]
    ne_ends = ne_starts + lengths[nonempty]
    sums = np.zeros((len(nonempty), bits), dtype=np.int64)
    total = values.size
    bit = np.empty(min(_BLOCK_VALUES, total), dtype=np.int64)
    pos = 0
    while pos < total:
        hi = min(pos + _BLOCK_VALUES, total)
        vb = values[pos:hi]
        bb = bit[:hi - pos]
        d0 = int(np.searchsorted(ne_ends, pos, side="right"))
        d1 = int(np.searchsorted(ne_starts, hi, side="left"))
        seg_starts = np.maximum(ne_starts[d0:d1], pos) - pos
        for k in range(bits):
            np.right_shift(vb, np.uint64(k), out=bb, casting="unsafe")
            np.bitwise_and(bb, 1, out=bb)
            sums[d0:d1, k] += np.add.reduceat(bb, seg_starts)
        pos = hi
    votes = 2 * sums > lengths[nonempty][:, None]
    weights = (np.uint64(1) << np.arange(bits, dtype=np.uint64))
    out[nonempty] = (votes.astype(np.uint64) * weights).sum(axis=1,
                                                            dtype=np.uint64)
    return out.view(np.int64)


def simhash_batch(series: pd.Series, bits: int = SIMHASH_BITS) -> np.ndarray:
    """int64 SimHash fingerprints for a pandas Series of shingle-hash
    arrays (bit-majority over the flat buffer)."""
    values, starts, lengths = _flatten(series)
    return simhash_flat(values, starts, lengths, bits)


def winnow_batch(series: pd.Series, window: int = 8) -> list:
    """Winnowing fingerprints (Schleimer et al., SIGMOD'03) over
    per-doc k-gram hash sequences: minimum hash of each sliding
    window, deduplicated — the rolling-hash document fingerprint
    guaranteeing any shared run of ≥ window k-grams yields a shared
    fingerprint.

    Fully batch-vectorized over the flat value buffer (the same
    starts/lengths layout as minhash_flat): ONE sliding-window min
    across all documents' concatenated hashes, a gather of the
    in-document window positions, and one lexsort-based per-doc
    dedupe — no per-document Python loop."""
    values, starts, lengths = _flatten(series)
    n = len(lengths)
    results: list = [[] for _ in range(n)]
    if values.size == 0:
        return results

    nonempty = np.nonzero(lengths > 0)[0]
    # per-doc global min covers every doc with length <= window
    doc_min = np.minimum.reduceat(values, starts[nonempty]).view(np.int64)
    short = lengths[nonempty] <= window
    for i, mn in zip(nonempty[short], doc_min[short]):
        results[i] = [int(mn)]

    long_docs = nonempty[~short]
    if long_docs.size == 0:
        return results
    # one windowed min over the whole flat buffer; windows that span
    # document boundaries exist in `sw` but are never gathered below
    sw = np.lib.stride_tricks.sliding_window_view(values, window).min(axis=1)
    n_wins = lengths[long_docs] - window + 1
    total = int(n_wins.sum())
    doc_rep = np.repeat(np.arange(long_docs.size), n_wins)
    # position within each doc: global arange minus each doc's offset
    win_off = np.zeros(long_docs.size, dtype=np.int64)
    np.cumsum(n_wins[:-1], out=win_off[1:])
    pos = np.repeat(starts[long_docs] - win_off, n_wins) + np.arange(total)
    w = sw[pos].view(np.int64)
    # per-doc sorted dedupe in one lexsort
    order = np.lexsort((w, doc_rep))
    ds, ws = doc_rep[order], w[order]
    keep = np.ones(total, dtype=bool)
    keep[1:] = (ds[1:] != ds[:-1]) | (ws[1:] != ws[:-1])
    ds, ws = ds[keep], ws[keep]
    counts = np.bincount(ds, minlength=long_docs.size)
    bounds = np.cumsum(counts[:-1])
    for i, chunk in zip(long_docs, np.split(ws, bounds)):
        results[i] = chunk.tolist()
    return results


@F.pandas_udf(T.ArrayType(T.LongType()))
def winnow_fingerprints(kgram_hashes: pd.Series) -> pd.Series:
    """Winnowing over an (ordered!) k-gram hash array column — feed it
    shingles in document order, NOT the sorted distinct set."""
    return pd.Series(winnow_batch(kgram_hashes))


def hamming64(a, b):
    """JVM-side Hamming distance between two int64 SimHash columns —
    bit_count of xor, stays inside codegen."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb))
