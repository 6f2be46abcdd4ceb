"""Shingle hashes, 128-permutation MinHash, 64-bit SimHash and
winnowing fingerprints — numpy kernels over flat Arrow list buffers.

Every kernel takes ``arrow_flat``'s (u64 values, row starts, row
lengths) and is reached only through Arrow: operators/lsh's
``mapInArrow`` passes, the functions/text shingle UDFs and
``winnow_fingerprints`` cross the UDF boundary once per Arrow batch,
with no pandas Series and no per-row Python.

Shingle hash (``shingle_hashes_flat``, the one definition): Catalyst
hashes each token once (xxhash64, functions/text.token_hashes), and a
w-shingle's hash is a polynomial over its w token hashes — Horner with
an odd multiplier mod 2^64, seeded with the run length — finished with
the murmur3 64-bit finalizer.  A doc with fewer than w tokens gets one
shingle over all of them, so every doc, NULL and empty text included,
has at least one.  Per doc the hashes are sorted ascending as signed
int64 and deduplicated.

Design (SURVEY.md §2.1 "MinHash relationship"): the reference's theta
sketch is a single-hash bottom-k KMV; the LSH pipeline needs classic
fixed-width MinHash (one minimum per permutation, Broder 1997).  Both
MinHash and SimHash are built here from the same shingle-hash arrays.

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
import pyarrow as pa
from pyspark.sql import Column, functions as F, types as T

from ..config import MINHASH_PERMS, MINHASH_SEED, SHINGLE_W, SIMHASH_BITS
from ..sketches.murmur3 import _fmix64, hash128_u64_pair

_EMPTY_SIG = np.uint64(0xFFFFFFFFFFFFFFFF)


def _permutation_params(n_perms: int = MINHASH_PERMS,
                        seed: int = MINHASH_SEED) -> tuple[np.ndarray, np.ndarray]:
    js = np.arange(n_perms, dtype=np.uint64)
    a, _ = hash128_u64_pair(js, np.full(n_perms, seed, np.uint64), seed)
    _, b = hash128_u64_pair(js, np.full(n_perms, seed + 1, np.uint64), seed + 7)
    a = a | np.uint64(1)  # odd multiplier -> bijection
    return a, b


_A, _B = _permutation_params()


def arrow_flat(la) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Arrow list<int64> array -> (values u64, row starts, row lengths),
    zero-copy where Arrow allows.  NULL rows become empty rows; a
    sliced array's nonzero offset base is taken off the starts."""
    if isinstance(la, pa.ChunkedArray):
        la = la.combine_chunks()
    offsets = la.offsets.to_numpy().astype(np.int64)
    base = offsets[0]
    values = la.values.to_numpy(zero_copy_only=False)
    values = values[base: offsets[-1]].astype(np.int64).view(np.uint64)
    starts = offsets[:-1] - base
    lengths = np.diff(offsets)
    if la.null_count:
        lengths = np.where(np.asarray(la.is_valid()), lengths, 0)
    return values, starts, lengths


def arrow_list(values: np.ndarray, offsets: np.ndarray):
    """int64 values + (n+1) row offsets -> Arrow list<int64> array."""
    return pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)),
                                    pa.array(values.view(np.int64)))


def list_udf(kernel, **kw):
    """Arrow UDF applying a flat kernel, (values, starts, lengths, **kw)
    -> (values, offsets), to an array<long> column.  Build one per call:
    a UDF object binds the SparkContext it first runs in."""
    def udf(la: pa.Array) -> pa.Array:
        return arrow_list(*kernel(*arrow_flat(la), **kw))

    return F.arrow_udf(udf, T.ArrayType(T.LongType()))


_SHINGLE_MUL = np.uint64(0x9E3779B97F4A7C15)   # odd: 2^64 / golden ratio
# any nonzero seed: keeps the zero-token run off fmix64's fixed point 0
_SHINGLE_SEED = np.uint64(0x5BD1E9955BD1E995)


def shingle_runs(values: np.ndarray, starts: np.ndarray, lengths: np.ndarray,
                 w: int = SHINGLE_W) -> tuple[np.ndarray, np.ndarray]:
    """Shingle hashes in document order from flat per-token hashes:
    (u64 hashes, (n+1) row offsets).

    The hash of a run t_1..t_m of token hashes is
    fmix64(Horner(SEED + m; t_1..t_m)) with multiplier _SHINGLE_MUL.  A
    doc of n >= w tokens yields its n - w + 1 windows; a doc of n < w
    tokens (n = 0 for NULL and empty rows) yields one run over all n.
    The full windows come from one w-step Horner over the whole flat
    buffer; windows straddling two docs are computed and never read."""
    n = len(lengths)
    full = lengths >= w
    counts = np.where(full, lengths - w + 1, 1)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    out = np.empty(int(offsets[-1]), dtype=np.uint64)
    with np.errstate(over="ignore"):
        docs = np.nonzero(full)[0]
        if docs.size:
            win = np.full(values.size - w + 1, _SHINGLE_SEED + np.uint64(w))
            for k in range(w):
                win *= _SHINGLE_MUL
                win += values[k: k + win.size]
            n_win = counts[docs]
            # each window's index within its doc
            loc = np.arange(int(n_win.sum())) - np.repeat(np.cumsum(n_win) - n_win, n_win)
            out[np.repeat(offsets[docs], n_win) + loc] = \
                win[np.repeat(starts[docs], n_win) + loc]
        docs = np.nonzero(~full)[0]
        if docs.size:
            m = lengths[docs]
            h = _SHINGLE_SEED + m.astype(np.uint64)
            for k in range(int(m.max(initial=0))):
                live = m > k
                t = values[starts[docs[live]] + k]
                h[live] = h[live] * _SHINGLE_MUL + t
            out[offsets[docs]] = h
    return _fmix64(out), offsets


def _distinct_per_doc(values: np.ndarray,
                      offsets: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Each doc's distinct values sorted ascending as signed int64:
    (int64 values, (n+1) row offsets).  One lexsort on (doc, value)
    over the whole batch, no per-doc loop."""
    n = len(offsets) - 1
    doc = np.repeat(np.arange(n), np.diff(offsets))
    signed = values.view(np.int64)
    order = np.lexsort((signed, doc))
    doc, signed = doc[order], signed[order]
    keep = np.ones(signed.size, dtype=bool)
    keep[1:] = (doc[1:] != doc[:-1]) | (signed[1:] != signed[:-1])
    out_offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.bincount(doc[keep], minlength=n), out=out_offsets[1:])
    return signed[keep], out_offsets


def shingle_hashes_flat(values: np.ndarray, starts: np.ndarray,
                        lengths: np.ndarray,
                        w: int = SHINGLE_W) -> tuple[np.ndarray, np.ndarray]:
    """Each doc's distinct shingle hashes, sorted ascending as signed
    int64: (int64 values, (n+1) row offsets).  Every row keeps at
    least one shingle."""
    return _distinct_per_doc(*shingle_runs(values, starts, lengths, w))


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


def winnow_flat(values: np.ndarray, starts: np.ndarray, lengths: np.ndarray,
                window: int = 8) -> tuple[np.ndarray, np.ndarray]:
    """Winnowing fingerprints (Schleimer et al., SIGMOD'03) over per-doc
    k-gram hash sequences: the minimum (as u64) of each sliding window
    of ``window`` hashes, per doc distinct and sorted ascending as
    signed int64: (int64 values, (n+1) row offsets).  Any shared run of
    >= window k-grams yields a shared fingerprint.  A doc of 1..window
    hashes has one fingerprint, its minimum; an empty or NULL row none.

    One sliding-window min over the whole flat buffer (windows that
    straddle two docs are computed and never read), a gather of each
    doc's window positions, and one lexsort-based per-doc dedupe."""
    n = len(lengths)
    long_doc = lengths > window
    n_wins = np.where(long_doc, lengths - window + 1, np.minimum(lengths, 1))
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(n_wins, out=offsets[1:])
    out = np.empty(int(offsets[-1]), dtype=np.uint64)
    docs = np.nonzero(~long_doc & (lengths > 0))[0]
    if docs.size:
        m = lengths[docs]
        mn = values[starts[docs]]
        for k in range(1, int(m.max())):
            live = m > k
            mn[live] = np.minimum(mn[live], values[starts[docs[live]] + k])
        out[offsets[docs]] = mn
    docs = np.nonzero(long_doc)[0]
    if docs.size:
        sw = np.lib.stride_tricks.sliding_window_view(values, window).min(axis=1)
        n_win = n_wins[docs]
        # each window's index within its doc
        loc = np.arange(int(n_win.sum())) - np.repeat(np.cumsum(n_win) - n_win, n_win)
        out[np.repeat(offsets[docs], n_win) + loc] = \
            sw[np.repeat(starts[docs], n_win) + loc]
    return _distinct_per_doc(out, offsets)


def winnow_fingerprints(kgram_hashes: Column | str) -> Column:
    """Winnowing over an (ordered!) k-gram hash array column — feed it
    shingles in document order, NOT the sorted distinct set."""
    return list_udf(winnow_flat)(kgram_hashes)

