"""Differential test of the exact-Jaccard verification join against
Python set arithmetic, on pairs at and around the 4/5 threshold."""

from __future__ import annotations

import pytest

from datasketches_java_spark.config import DUP_JACCARD_THRESHOLD
from datasketches_java_spark.operators.lsh import verify_pairs

# id -> sorted distinct shingle hashes, as shingle_hashes builds them
SETS = {
    1: list(range(-20, 20)),             # 40
    2: list(range(-20, 30)),             # 50: 1 vs 2 is exactly 4/5
    3: list(range(3999)),
    4: list(range(4999)),                # 3 vs 4 is 3999/4999, just below
    5: [-(2**63), 17, 2**63 - 1],
    6: [-(2**63), 17, 2**63 - 1],        # 5 vs 6 identical
    7: [42],
    8: [42],                             # 7 vs 8: single-shingle docs
    9: [43],                             # 7 vs 9: disjoint singletons
    10: list(range(25)),
    11: list(range(5, 30)),              # 10 vs 11 is 20/30
}
PAIRS = [(1, 2), (3, 4), (5, 6), (7, 8), (7, 9), (10, 11), (1, 10)]


def _python_sizes(a: int, b: int) -> tuple[int, int]:
    sa, sb = set(SETS[a]), set(SETS[b])
    return len(sa & sb), len(sa | sb)


def _python_jaccard(a: int, b: int) -> float:
    i, u = _python_sizes(a, b)
    return i / u


@pytest.mark.parametrize("threshold", [DUP_JACCARD_THRESHOLD, 0.0])
def test_verify_pairs_matches_python_sets(spark, threshold):
    shingled = spark.createDataFrame(
        sorted(SETS.items()), "id long, shingles array<long>")
    pairs = spark.createDataFrame(PAIRS, "id_a long, id_b long")
    rows = verify_pairs(pairs, shingled, "id", threshold=threshold).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in rows}
    want = {p: _python_jaccard(*p) for p in PAIRS
            if _python_jaccard(*p) >= threshold}
    assert got == want      # float ==: the quotients must be bit-identical
    # the exact set sizes ride along with the quotient
    assert {(r.id_a, r.id_b): (r.i, r.u) for r in rows} == \
        {p: _python_sizes(*p) for p in want}
    if threshold == DUP_JACCARD_THRESHOLD:
        assert set(got) == {(1, 2), (5, 6), (7, 8)}
        # the double threshold keeps exactly the integer 5·i ≥ 4·u pairs
        assert set(got) == {p for p in PAIRS
                            if 5 * _python_sizes(*p)[0] >= 4 * _python_sizes(*p)[1]}
