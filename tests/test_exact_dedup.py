"""Exact-dedup operator: hashed-key grouping with the exact collision
fallback (operators/exact_dedup.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from datasketches_java_spark.operators.exact_dedup import exact_dedup


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_groups_by_normalized_text(spark):
    docs = _docs(spark, [
        (1, "Hello   World"),
        (2, "hello world"),
        (3, "HELLO\tWORLD"),
        (4, "something else"),
    ])
    out = {r.doc_id: (r.canonical_id, r.group_size)
           for r in exact_dedup(docs, "doc_id", "text").collect()}
    assert out == {1: (1, 3), 2: (1, 3), 3: (1, 3), 4: (4, 1)}


def test_collision_fallback_is_exact(spark):
    """Force every document onto ONE hash key: the collision path must
    still produce per-norm exact groups (this is the path a real
    64-bit collision takes)."""
    docs = _docs(spark, [
        (1, "aaa"), (2, "AAA"), (3, "bbb"), (4, "bbb "), (5, "ccc"),
    ])
    out = {r.doc_id: (r.canonical_id, r.group_size)
           for r in exact_dedup(docs, "doc_id", "text",
                                key=F.lit(0).cast("long")).collect()}
    # norms: aaa(1,2), bbb(3,4: trailing space collapses to "bbb " vs
    # "bbb" — NOT equal after normalization: "bbb " -> "bbb " stays;
    # normalize collapses runs but does not trim), ccc(5)
    assert out[1] == (1, 2) and out[2] == (1, 2)
    assert out[5] == (5, 1)
    # 3 and 4 differ after normalization (trailing space retained)
    assert out[3] == (3, 1) and out[4] == (4, 1)


def test_every_row_appears_exactly_once(spark):
    docs = _docs(spark, [(i, f"doc {i % 7}") for i in range(50)])
    rows = exact_dedup(docs, "doc_id", "text").collect()
    assert len(rows) == 50
    assert len({r.doc_id for r in rows}) == 50
    sizes = {}
    for r in rows:
        sizes.setdefault(r.canonical_id, set()).add(r.doc_id)
    for cid, members in sizes.items():
        assert min(members) == cid
