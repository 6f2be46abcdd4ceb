"""One spec per sketch family, shared by the DataFrame and SQL surfaces.

A :class:`Spec` turns typed Arrow values into a sketch image
(``build``), unions images (``merge``) and gives the empty image
(``empty``).  ``functions/sketch_aggs`` runs ``build`` map-side in its
two-phase aggregation; ``functions/sql_registry`` registers the same
functions as Arrow GROUPED_AGG UDFs.  Both surfaces therefore give
byte-identical images for the same values.

``hash_pairs`` is the one input dispatcher of the distinct-count
families.  It mirrors the reference's ``update`` overloads
(theta/UpdateSketch.java:220-271, which the Hive adaptor forwards to):

- integral → ``update(long)``;
- floating → ``update(double)``: −0.0 and every NaN canonicalized,
  the IEEE-754 bits hashed as a long (UpdateSketch.java:236-239);
- STRING → ``update(String)``, the UTF-8 bytes;
- BINARY → ``update(byte[])``, the raw bytes.

Empty strings and byte arrays are rejected, NULLs are skipped, and any
other type raises ``TypeError`` naming the type.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

from ..config import (
    DEFAULT_LG_K,
    DEFAULT_UPDATE_SEED,
    FREQ_DEFAULT_MAX_MAP_SIZE,
    HLL_DEFAULT_LG_K,
    KLL_DEFAULT_K,
)
from ..sketches import cpc as _cpc, hll as _hll, theta as _theta
from ..sketches.frequencies import ItemsSketch
from ..sketches.hash_adaptors import canonical_double_bits
from ..sketches.kll import KllDoublesSketch
from ..sketches.murmur3 import hash128_bytes_batch, hash128_u64


class Spec(NamedTuple):
    """build(typed Arrow values, ...) → image; merge(images) → image;
    empty() → image (None where no surface needs it)."""

    build: Callable[..., bytes]
    merge: Callable[[list[bytes]], bytes]
    empty: Callable[[], bytes] | None = None

    def union(self, images: pa.Array) -> bytes:
        """Merge an image column: NULL images are skipped, and a group
        of only NULLs (e.g. an outer-join side) gives the empty image."""
        imgs = images.drop_null().to_pylist()
        return self.merge(imgs) if imgs else self.empty()


def to_numpy(values: pa.Array, dtype) -> np.ndarray:
    """Arrow values → numpy array of ``dtype`` (NULLs kept as NaN)."""
    return values.to_numpy(zero_copy_only=False).astype(dtype)


def _is_bytes(t: pa.DataType) -> bool:
    return (pa.types.is_string(t) or pa.types.is_large_string(t)
            or pa.types.is_binary(t) or pa.types.is_large_binary(t))


def kept(values: pa.Array) -> np.ndarray:
    """Mask of the rows ``hash_pairs`` hashes: non-NULL, and non-empty
    for STRING and BINARY.  Callers drop a parallel column with it."""
    keep = np.asarray(values.is_valid(), dtype=bool)
    if _is_bytes(values.type):
        keep &= np.asarray(pc.binary_length(values).fill_null(0)) > 0
    return keep


def hash_pairs(values: pa.Array, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """murmur3 x64-128 (h1, h2) of the non-NULL, non-empty values,
    dispatched on the Arrow type (see the module docstring)."""
    t = values.type
    keep = kept(values)
    if not keep.all():
        values = values.filter(pa.array(keep))
    if pa.types.is_integer(t):
        return hash128_u64(to_numpy(values, np.int64), seed)
    if pa.types.is_floating(t):
        return hash128_u64(canonical_double_bits(to_numpy(values, np.float64)),
                           seed)
    if _is_bytes(t):
        a = values.cast(pa.large_binary())
        _, offsets, data = a.buffers()
        offsets = np.frombuffer(offsets, np.int64)[a.offset: a.offset + len(a) + 1]
        flat = (np.frombuffer(data, np.uint8) if data is not None
                else np.empty(0, np.uint8))
        return hash128_bytes_batch(flat, offsets[:-1], np.diff(offsets), seed)
    raise TypeError(f"cannot sketch values of type {t}: expected an "
                    "integral, floating, STRING or BINARY column")


def _merger(cls, union_many) -> Callable[[list[bytes]], bytes]:
    return lambda imgs: union_many([cls.from_bytes(b) for b in imgs]).to_bytes()


def fold(start, cls, imgs: list[bytes]) -> bytes:
    """``start.merge(cls.from_bytes(b))`` over ``imgs``, then the image
    (the merge of the mutable-sketch families)."""
    for b in imgs:
        start.merge(cls.from_bytes(b))
    return start.to_bytes()


def theta(lg_k: int = DEFAULT_LG_K, seed: int = DEFAULT_UPDATE_SEED,
          p: float = 1.0, prehashed: bool = False) -> Spec:
    """Theta: ``prehashed`` values are 63-bit update hashes already
    (the union backdoor, theta/UnionImpl.java:328); ``p`` is the
    up-front sampling probability (UpdateSketchBuilder.setP)."""
    def build(values: pa.Array) -> bytes:
        if prehashed:
            uh = to_numpy(values.drop_null(), np.uint64)
        else:
            uh = hash_pairs(values, seed)[0] >> np.uint64(1)
        return _theta.from_update_hashes(uh, lg_k, seed, p).to_bytes()
    return Spec(build, _merger(_theta.ThetaSketch, _theta.union_many),
                lambda: _theta.empty(lg_k, seed).to_bytes())


def hll(lg_k: int = HLL_DEFAULT_LG_K, seed: int = DEFAULT_UPDATE_SEED) -> Spec:
    """HLL-8 (hll/BaseHllSketch.java:292-393 update overloads)."""
    return Spec(
        lambda v: _hll.from_hash_pair(*hash_pairs(v, seed), lg_k, seed).to_bytes(),
        _merger(_hll.HllSketch, _hll.union_many),
        lambda: _hll.empty(lg_k, seed).to_bytes())


def cpc(lg_k: int = _cpc.DEFAULT_CPC_LG_K,
        seed: int = DEFAULT_UPDATE_SEED) -> Spec:
    """CPC (cpc/CpcSketch.java:310-398 update overloads)."""
    return Spec(
        lambda v: _cpc.from_hash_pair(*hash_pairs(v, seed), lg_k, seed).to_bytes(),
        _merger(_cpc.CpcSketch, _cpc.union_many),
        lambda: _cpc.empty(lg_k, seed).to_bytes())


def kll(k: int = KLL_DEFAULT_K) -> Spec:
    """KLL doubles over numeric values (NULL and NaN skipped)."""
    return Spec(
        lambda v: KllDoublesSketch.new(k).update_batch(
            to_numpy(v.drop_null(), np.float64)).to_bytes(),
        lambda imgs: fold(KllDoublesSketch.new(k), KllDoublesSketch, imgs),
        lambda: KllDoublesSketch.new(k).to_bytes())


def freq(max_map_size: int = FREQ_DEFAULT_MAX_MAP_SIZE) -> Spec:
    """Frequent items, optionally weighted; NULL items are skipped."""
    def build(values: pa.Array, weights: pa.Array | None = None) -> bytes:
        keep = values.is_valid()
        w = None if weights is None else to_numpy(weights.filter(keep), np.int64)
        return ItemsSketch(max_map_size).update_batch(
            values.filter(keep).to_pylist(), w).to_bytes()
    return Spec(build,
                lambda imgs: fold(ItemsSketch.from_bytes(imgs[0]), ItemsSketch,
                                  imgs[1:]),
                lambda: ItemsSketch(max_map_size).to_bytes())


def aggregate(fn: Callable[[pa.Array], bytes], name: str):
    """``fn`` as a GROUPED_AGG Arrow UDF: it receives the group's values
    as a ``pa.Array`` of the column's declared type (a pandas UDF would
    see a BIGINT column holding a NULL as float64)."""
    def agg(values: pa.Array) -> bytes:
        return fn(values)
    agg.__name__ = agg.__qualname__ = name
    return arrow_udf(agg, T.BinaryType())
