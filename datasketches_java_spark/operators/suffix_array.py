"""Distributed long-duplicate-substring detection via suffix arrays.

North-star stage (BASELINE.json): "finds long duplicate substrings via
a distributed suffix-array pass".  No reference counterpart (the
reference is a sketch library); the construction is the classic
prefix-doubling suffix array + Kasai LCP, vectorized in numpy.

Distribution model: the pair list is the unit of parallelism — each
candidate pair (two documents) is independent, so the pass is an
``applyInPandas`` (or mapInPandas over pre-joined rows) where one
Arrow batch carries many pairs and each pair costs
O((|a|+|b|) log(|a|+|b|)).  At 10^12-doc scale the pair list after
Jaccard verification is ~O(dups), not O(n²), and re-attaching the two
text bodies is the same equi-join shape as the verification join.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..config import LCS_MIN_RUN


def _prefix_doubling(s: np.ndarray) -> tuple[np.ndarray, list]:
    """Suffix array by prefix doubling (O(n log n) numpy sorts), also
    returning the per-level rank arrays [(prefix_len, rank)] — the
    sparse table the vectorized LCP walks (no per-character Python)."""
    n = len(s)
    if n == 0:
        return np.empty(0, dtype=np.int64), []
    rank = np.unique(s, return_inverse=True)[1].astype(np.int64)
    levels = [(1, rank)]
    idx = np.arange(n, dtype=np.int64)
    k = 1
    while True:
        key2 = np.full(n, -1, dtype=np.int64)
        key2[: n - k] = rank[k:]
        order = np.lexsort((key2, rank))
        # recompute ranks: same (rank, key2) pair -> same new rank
        r_ord = rank[order]
        k_ord = key2[order]
        new = np.zeros(n, dtype=np.int64)
        new[1:] = (r_ord[1:] != r_ord[:-1]) | (k_ord[1:] != k_ord[:-1])
        new_rank = np.cumsum(new)
        rank = np.empty(n, dtype=np.int64)
        rank[order] = new_rank
        levels.append((2 * k, rank))
        if new_rank[-1] == n - 1:
            return order, levels
        k *= 2
        if k >= n:
            sa = np.empty(n, dtype=np.int64)
            sa[rank] = idx
            return sa, levels


def suffix_array(s: np.ndarray) -> np.ndarray:
    """Suffix array of an integer sequence (prefix doubling,
    O(n log n) numpy sorts)."""
    return _prefix_doubling(s)[0]


def _lcp_from_levels(sa: np.ndarray, levels: list) -> np.ndarray:
    """LCP of adjacent suffix-array entries from the doubling ranks —
    the vectorized replacement for Kasai's per-character walk: descend
    the levels; where level-ranks at offset h agree, the prefixes of
    that length agree, so h += level_len.  All pairs advance together
    in O(n) numpy work per level (O(n log n) total, no Python loop over
    characters).  Truncated-suffix ranks encode length (the -1 key2),
    so equality never over-counts past the end of the string."""
    n = len(sa)
    lcp = np.zeros(n, dtype=np.int64)
    if n < 2:
        return lcp
    i = sa[1:]
    j = sa[:-1]
    h = np.zeros(n - 1, dtype=np.int64)
    for length, rank in reversed(levels):
        p1 = i + h
        p2 = j + h
        m = (p1 < n) & (p2 < n)
        eq = np.zeros(n - 1, dtype=bool)
        eq[m] = rank[p1[m]] == rank[p2[m]]
        h[eq] += length
    lcp[1:] = h
    return lcp


def longest_common_substring(a: bytes, b: bytes) -> int:
    """Length of the longest substring shared by two byte strings —
    suffix array over a#b with a cross-document LCP scan."""
    if not a or not b:
        return 0
    sep = np.array([256], dtype=np.int64)  # out-of-alphabet sentinel
    s = np.concatenate([
        np.frombuffer(a, dtype=np.uint8).astype(np.int64), sep,
        np.frombuffer(b, dtype=np.uint8).astype(np.int64)])
    sa, levels = _prefix_doubling(s)
    lcp = _lcp_from_levels(sa, levels)
    side = sa < len(a)  # suffix starts in a?
    cross = side[1:] != side[:-1]
    if not cross.any():
        return 0
    return int(lcp[1:][cross].max())


def pair_lcs(pairs_with_text: DataFrame,
             text_a: str = "text_a", text_b: str = "text_b",
             min_run: int = LCS_MIN_RUN) -> DataFrame:
    """(id_a, id_b, text_a, text_b) → + lcs_len, long_dup columns.

    Arrow-batched mapInPandas: one python call handles a whole batch
    of pairs; per-pair work is numpy.
    """
    schema = T.StructType([f for f in pairs_with_text.schema
                           if f.name not in (text_a, text_b)] + [
        T.StructField("lcs_len", T.LongType()),
        T.StructField("long_dup", T.BooleanType()),
    ])
    keep = [f.name for f in pairs_with_text.schema if f.name not in (text_a, text_b)]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            lens = [longest_common_substring(
                        (x or "").encode("utf-8"), (y or "").encode("utf-8"))
                    for x, y in zip(pdf[text_a], pdf[text_b])]
            out = pdf[keep].copy()
            out["lcs_len"] = np.asarray(lens, dtype=np.int64)
            out["long_dup"] = out["lcs_len"] >= min_run
            yield out

    return pairs_with_text.mapInPandas(run, schema=schema)


def attach_texts(pairs: DataFrame, docs: DataFrame, id_col: str,
                 text_col: str = "text") -> DataFrame:
    """Join the two text bodies onto a pair list (same shape as the
    verification join; shuffle_hash hints for the same reason —
    sort-merge would sort the full text payloads, see
    operators/lsh.verify_pairs)."""
    t = docs.select(F.col(id_col), F.col(text_col))
    return (pairs.hint("shuffle_hash")
            .join(t.withColumnRenamed(id_col, "id_a")
                   .withColumnRenamed(text_col, "text_a"), on="id_a")
            .hint("shuffle_hash")
            .join(t.withColumnRenamed(id_col, "id_b")
                   .withColumnRenamed(text_col, "text_b"), on="id_b"))
