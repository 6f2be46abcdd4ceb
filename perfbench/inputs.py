"""Seeded workload inputs, cached as parquet per (kind, seed, size)
under ``perfbench/.cache``.

The webtext generator's golden pass is quadratic in the size of its
template-farm group, so an input is generated once per key and then
read back.  The program under test reads only the generated tables;
the goldens stay on the benchmark's side.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")

SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
PARTS = 4


def _cached(key: str, build) -> str:
    """Directory of parquet tables for ``key``, built on a miss.  The
    tables are written to a temporary directory and renamed into place,
    so an interrupted run never leaves a half-written entry."""
    path = os.path.join(CACHE, key)
    if not os.path.isdir(path):
        tables = build()
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for name, df in tables.items():
            # part files, so Spark reads the table as several splits
            os.makedirs(os.path.join(tmp, name))
            for k, part in enumerate(np.array_split(df, PARTS)):
                part.to_parquet(os.path.join(tmp, name, f"part-{k}.parquet"),
                                index=False)
        os.replace(tmp, path)
    return path


def webtext(seed: int, n_docs: int, hot_pages: int) -> str:
    """``sources.webtext.generate_webtext`` pages (url, text) and its
    golden near-duplicate pairs (url_a, url_b)."""
    from datasketches_java_spark.sources.webtext import generate_webtext

    def build():
        t = generate_webtext(n_docs, seed=seed, hot_site_pages=hot_pages)
        return {"pages": t["pages"][["url", "text"]],
                "golden_dup_pairs": t["golden_dup_pairs"][["url_a", "url_b"]]}

    return _cached(f"web-s{seed}-n{n_docs}-h{hot_pages}", build)


def lineitem(seed: int, n_rows: int, n_keys: int) -> str:
    """Lineitem-shaped table: zipf ``l_suppkey`` over ``n_keys`` keys,
    long order/part ids, DOUBLE prices with cents and a low-cardinality
    string."""
    def build():
        rng = np.random.default_rng(seed)
        # ~4 lines per order, like TPC-H
        orders = np.sort(rng.integers(1, 6 * n_rows, n_rows // 4))
        p = 1.0 / np.arange(1, n_keys + 1) ** 1.1
        keys = rng.permutation(n_keys) + 1
        return {"lineitem": pd.DataFrame({
            "l_orderkey": rng.choice(orders, n_rows).astype(np.int64),
            "l_partkey": rng.integers(1, 20 * n_rows, n_rows).astype(np.int64),
            "l_suppkey": keys[rng.choice(n_keys, n_rows, p=p / p.sum())]
            .astype(np.int64),
            "l_extendedprice": rng.integers(90_000, 10_500_000, n_rows) / 100.0,
            "l_shipmode": np.array(SHIPMODES)[rng.integers(0, 7, n_rows)],
        })}

    return _cached(f"lineitem-s{seed}-n{n_rows}-k{n_keys}", build)
