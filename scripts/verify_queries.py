"""Local replica of the driver's correctness gate.

Runs every ``queries()[name]`` at a given SF and compares with
``oracle_sql()[name]`` in DuckDB: row count, sorted column names, and
an order-insensitive value hash (columns sorted by name, rows sorted).

Usage: python scripts/verify_queries.py [sf_dir] [only_query_substr]

The last line printed is the verdict on a line of its own: ``ok M/N``
with M the hash matches among the N queries run, or ``FAIL k/N: name,
...`` naming the failed queries (exit status 1).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return f"{v:.6f}"
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    mat = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for row in mat:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2] if len(sys.argv) > 2 else ""

    import __spark_entry__ as entry
    from datasketches_java_spark.functions.session import get_spark

    spark = get_spark("verify_queries", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, oracles = entry.queries(), entry.oracle_sql()
    names = [name for name in qs if only in name]
    failures, matched = [], 0
    for name in names:
        fn = qs[name]
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            failures.append(name)
            continue
        wall = time.time() - t0
        if name not in oracles:
            print(f"weak  {name}: rows={len(rows)} ({wall:.1f}s, no oracle)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: oracle error {e}")
            failures.append(name)
            continue
        problems = []
        if len(rows) != len(orows):
            problems.append(f"rows {len(rows)} != {len(orows)}")
        if sorted(cols) != sorted(ocols):
            problems.append(f"schema {sorted(cols)} != {sorted(ocols)}")
        if not problems and value_hash(cols, rows) != value_hash(ocols, orows):
            problems.append("value hash mismatch")
            sr = sorted(tuple(canon(v) for v in r) for r in rows)
            so = sorted(tuple(canon(v) for v in r) for r in orows)
            diffs = [(a, b) for a, b in zip(sr, so) if a != b][:3]
            problems.append(f"first diffs: {diffs}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} ({wall:.1f}s)")
            failures.append(name)
        else:
            print(f"ok    {name}: rows={len(rows)} hash match ({wall:.1f}s)")
            matched += 1
    spark.stop()
    # own line: Spark's console progress bars end without a newline
    sys.stderr.flush()
    if failures:
        print(f"\nFAIL {len(failures)}/{len(names)}: {', '.join(failures)}")
        return 1
    print(f"\nok {matched}/{len(names)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
