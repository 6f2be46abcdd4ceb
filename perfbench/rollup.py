"""The ``sketch_rollup`` workload: the DataSketches algebra over a
lineitem-shaped table.

One job builds theta/HLL/CPC/KLL/frequent-items images per
``l_suppkey`` through ``functions.sketch_aggs`` (two-phase DataFrame
aggregations) and through ``functions.sql_registry`` (``*_build``), and
stores them as parquet.  It builds the same families globally through
SQL, and theta globally through both (one DataFrame global per family
would add four queries of fixed cost to every run).  It then unions the
stored images and reads estimates back.  Builds are the write side,
unions the read side.

Every estimate is one checked operation: the exact answer must lie
within the sketch's own 3-sigma bounds (KLL: within its rank error;
frequent items: within its deterministic bounds).
"""

from __future__ import annotations

import math
import os
import shutil

import numpy as np
import pandas as pd

import inputs

KEY = "l_suppkey"
# (family, column): one per family, plus theta over a DOUBLE column
FAMILIES = [("theta", "l_orderkey"), ("hll", "l_partkey"),
            ("cpc", "l_orderkey"), ("kll", "l_extendedprice"),
            ("freq", "l_shipmode")]
DOUBLE_COL = "l_extendedprice"
KLL_RANKS = (0.1, 0.5, 0.9)
# chance that one check misses although the sketch works as documented:
# two-sided 3 sigma; KLL's rank error is single-sided 99 % per rank
MISS_RATE = {"theta": 0.0027, "hll": 0.0027, "cpc": 0.0027,
             "kll": 0.01 * len(KLL_RANKS), "freq": 0.0}

SQL_BUILD = {"theta": "theta_sketch_build", "hll": "hll_sketch_build",
             "cpc": "cpc_sketch_build", "kll": "kll_sketch_build",
             "freq": "frequent_strings_sketch_build"}


class Rollup:
    unit = "rows"

    def __init__(self, name: str, seed: int, n_rows: int, n_keys: int,
                 work: str) -> None:
        self.name, self.seed = name, seed
        self.n_rows, self.n_keys, self.work = n_rows, n_keys, work
        self.n_items = n_rows

    def generate(self) -> None:
        self.path = os.path.join(
            inputs.lineitem(self.seed, self.n_rows, self.n_keys), "lineitem")
        self.table = pd.read_parquet(self.path)

    def load(self, spark) -> None:
        from datasketches_java_spark.functions.sql_registry import (
            register_sql_functions,
        )
        self.df = spark.read.parquet(self.path)
        self.df.createOrReplaceTempView("lineitem")
        register_sql_functions(spark)

    def cleanup(self, i: int) -> None:
        shutil.rmtree(os.path.join(self.work, f"images-{i}"), ignore_errors=True)

    # -- one job ---------------------------------------------------------------
    def job(self, spark, i: int, tracer=None) -> dict:
        """Builds, stores, unions and estimates; with ``tracer``, each
        call into the library sits in a span."""
        from datasketches_java_spark.functions import sketch_aggs as A

        span = tracer.span if tracer else _nospan
        agg = {"theta": A.theta_sketch_agg, "hll": A.hll_sketch_agg,
               "cpc": A.cpc_sketch_agg, "kll": A.kll_sketch_agg,
               "freq": A.freq_sketch_agg}
        root = os.path.join(self.work, f"images-{i}")
        out = {"df_global": {}}

        for fam, col in FAMILIES:
            with span("sketch_aggs.build", family=fam, shape="per_key") as sp:
                agg[fam](self.df, col, by=[KEY]).write.parquet(
                    os.path.join(root, f"df-{fam}"))
                sp.rows = self.n_keys
        for name, col in (("theta", "l_orderkey"), ("theta_double", DOUBLE_COL)):
            with span("sketch_aggs.build", family=name, shape="global") as sp:
                out["df_global"][name] = A.theta_sketch_agg(self.df, col).first()[0]
                sp.rows = 1

        builds = ", ".join(f"{SQL_BUILD[f]}({c}) AS {f}" for f, c in FAMILIES)
        families = ",".join(f for f, _ in FAMILIES)
        sql_path = os.path.join(root, "sql")
        with span("sql_registry.build", family=families, shape="per_key") as sp:
            spark.sql(f"SELECT {KEY}, {builds} FROM lineitem GROUP BY {KEY}") \
                .write.parquet(sql_path)
            sp.rows = self.n_keys
        with span("sql_registry.build", family=families + ",theta_double",
                  shape="global") as sp:
            row = spark.sql(f"SELECT {builds}, theta_sketch_build({DOUBLE_COL}) "
                            "AS theta_double FROM lineitem").first()
            out["sql_global"] = row.asDict()
            sp.rows = 1

        # read side: union the stored per-key images, read estimates
        with span("sketch_aggs.union", family="theta") as sp:
            stored = spark.read.parquet(os.path.join(root, "df-theta"))
            u = A.theta_union_agg(stored, "theta_sketch").first()[0]
            out["df_union"] = {"theta": u}
            sp.rows = 1
        with span("sql_registry.union", family="theta,hll,kll") as sp:
            spark.read.parquet(sql_path).createOrReplaceTempView("stored")
            row = spark.sql(
                "SELECT theta, hll, kll, theta_sketch_estimate(theta) AS theta_est, "
                "hll_sketch_estimate(hll) AS hll_est, "
                "kll_sketch_quantile(kll, 0.5) AS kll_est FROM ("
                "SELECT theta_sketch_union(theta) AS theta, "
                "hll_sketch_union(hll) AS hll, kll_sketch_merge(kll) AS kll "
                "FROM stored)").first().asDict()
            out["sql_union"] = row
            sp.rows = 1
        return out

    def traced(self, spark, tracer, i: int) -> dict:
        """The job with spans, then the numpy cores alone in this
        process: updates over the full columns, merges of the stored
        per-key images."""
        from datasketches_java_spark.sketches import cpc, hll, theta
        from datasketches_java_spark.sketches.frequencies import ItemsSketch
        from datasketches_java_spark.sketches.kll import KllDoublesSketch

        out = self.job(spark, i, tracer)
        t = self.table
        update = {"theta": theta.sketch_longs, "hll": hll.sketch_longs,
                  "cpc": cpc.sketch_longs,
                  "kll": lambda v: KllDoublesSketch.new().update_batch(v),
                  "freq": lambda v: ItemsSketch().update_batch(list(v))}
        images = {f: pd.read_parquet(os.path.join(
            self.work, f"images-{i}", f"df-{f}"))[f"{f}_sketch"].tolist()
            for f in ("theta", "hll", "cpc", "kll", "freq")}
        merge = {"theta": lambda imgs: theta.union_many(
                     [theta.ThetaSketch.from_bytes(b) for b in imgs]),
                 "hll": lambda imgs: hll.union_many(
                     [hll.HllSketch.from_bytes(b) for b in imgs]),
                 "cpc": lambda imgs: cpc.union_many(
                     [cpc.CpcSketch.from_bytes(b) for b in imgs]),
                 "kll": _merge_kll, "freq": _merge_freq}
        t_up = t_merge = 0.0
        n_up = n_merge = 0
        for fam, col in FAMILIES:
            values = t[col].to_numpy()
            with tracer.span("sketches.update", family=fam) as sp:
                update[fam](values)
                sp.rows = len(values)
            t_up += tracer.spans[-1].end - tracer.spans[-1].start
            n_up += len(values)
            with tracer.span("sketches.merge", family=fam) as sp:
                merge[fam](images[fam])
                sp.rows = 1
            t_merge += tracer.spans[-1].end - tracer.spans[-1].start
            n_merge += len(images[fam])
        out["extra"] = {"sketches.update.items_per_s": n_up / t_up,
                        "sketches.merge.images_per_s": n_merge / t_merge}
        return out

    def summary(self, out: dict) -> dict:
        """Digest of the global distinct-count images (theta, HLL and
        CPC do not depend on update order; KLL and frequent-items
        images do) and the largest relative error of their estimates."""
        import hashlib
        from datasketches_java_spark.sketches import cpc, hll, theta
        cls = {"theta": theta.ThetaSketch, "hll": hll.HllSketch,
               "cpc": cpc.CpcSketch}
        h = hashlib.sha256()
        err = 0.0
        for side in ("df_global", "sql_global"):
            for fam in sorted(out[side]):
                base = fam.split("_")[0]
                if base in cls:
                    h.update(out[side][fam])
                    col = DOUBLE_COL if fam.endswith("double") else dict(FAMILIES)[base]
                    exact = self.table[col].nunique()
                    est = cls[base].from_bytes(out[side][fam]).estimate()
                    err = max(err, abs(est - exact) / exact)
        return {"global_images": h.hexdigest(), "sketch_max_rel_err": err}

    same_keys = ("global_images",)

    # -- correctness, as operations ------------------------------------------
    def check(self, out: dict, i: int) -> list[tuple[str, bool, str | None]]:
        root = os.path.join(self.work, f"images-{i}")
        d = {f: pd.read_parquet(os.path.join(root, f"df-{f}")) for f, _ in FAMILIES}
        out["df_key"] = {f: list(zip(d[f][KEY], d[f][f"{f}_sketch"])) for f in d}
        d = pd.read_parquet(os.path.join(root, "sql"))
        out["sql_key"] = {f: list(zip(d[KEY], d[f])) for f, _ in FAMILIES}
        t = self.table
        groups = {k: g for k, g in t.groupby(KEY)}
        ops: list[tuple[str, bool, str | None]] = []

        def add(name, fam, img, values, double=False):
            ok, known = check_image(fam, img, values, double)
            ops.append((f"{name}:{fam}", ok, known))

        add("df_global", "theta", out["df_global"]["theta"], t["l_orderkey"].to_numpy())
        for fam, col in FAMILIES:
            for k, img in out["df_key"][fam]:
                add("df_key", fam, img, groups[k][col].to_numpy())
            for k, img in out["sql_key"][fam]:
                add("sql_key", fam, img, groups[k][col].to_numpy())
            add("sql_global", fam, out["sql_global"][fam], t[col].to_numpy())
        dv = t[DOUBLE_COL].to_numpy()
        add("df_global_double", "theta", out["df_global"]["theta_double"], dv, True)
        add("sql_global_double", "theta", out["sql_global"]["theta_double"], dv, True)

        for fam, img in [("theta", out["df_union"]["theta"]),
                         *((f, out["sql_union"][f]) for f in ("theta", "hll", "kll"))]:
            col = dict(FAMILIES)[fam]
            add("union", fam, img, t[col].to_numpy())
        ops.append(("union_estimate_read", _estimates_match(out["sql_union"]), None))
        return ops


def _merge_kll(imgs):
    from datasketches_java_spark.sketches.kll import KllDoublesSketch
    out = KllDoublesSketch.new()
    for b in imgs:
        out.merge(KllDoublesSketch.from_bytes(b))
    return out


def _merge_freq(imgs):
    from datasketches_java_spark.sketches.frequencies import ItemsSketch
    out = ItemsSketch.from_bytes(imgs[0])
    for b in imgs[1:]:
        out.merge(ItemsSketch.from_bytes(b))
    return out


def check_image(fam: str, img: bytes, values: np.ndarray,
                double: bool = False) -> tuple[bool, str | None]:
    """(within bounds, known defect that explains a miss)."""
    from datasketches_java_spark.sketches import cpc, hll, theta
    from datasketches_java_spark.sketches.frequencies import ItemsSketch
    from datasketches_java_spark.sketches.kll import KllDoublesSketch, rank_error

    if fam == "kll":
        sk = KllDoublesSketch.from_bytes(img)
        xs = np.sort(values)
        eps = rank_error(sk.k) + 1.0 / len(xs)
        ok = sk.n == len(xs) and all(
            abs(np.searchsorted(xs, sk.quantile(r), side="right") / len(xs) - r) <= eps
            for r in KLL_RANKS)
        return ok, None
    if fam == "freq":
        sk = ItemsSketch.from_bytes(img)
        items, counts = np.unique(values, return_counts=True)
        ok = all(sk.lower_bound(it) <= c <= sk.upper_bound(it)
                 for it, c in zip(items, counts))
        return ok, None
    cls = {"theta": theta.ThetaSketch, "hll": hll.HllSketch,
           "cpc": cpc.CpcSketch}[fam]
    sk = cls.from_bytes(img)
    lb, ub = sk.bounds(3)
    exact = len(np.unique(values))
    if lb <= exact <= ub:
        return True, None
    if double and lb <= len(np.unique(values.astype(np.int64))) <= ub:
        # the image counts int64-truncated values
        return False, "double_truncation"
    if fam == "hll" and exact > ub and np.any(sk.regs == 0):
        # linear-counting range: values sharing a register slot are
        # lost, and the reference's bounds (which assume coupon mode
        # at this size) do not cover them
        return False, "hll_low_range"
    return False, None


def _estimates_match(row: dict) -> bool:
    """The SQL estimate functions agree with the numpy core on the
    unioned images."""
    from datasketches_java_spark.sketches import hll, theta
    from datasketches_java_spark.sketches.kll import KllDoublesSketch
    want = {"theta": theta.ThetaSketch.from_bytes(row["theta"]).estimate(),
            "hll": hll.HllSketch.from_bytes(row["hll"]).estimate(),
            "kll": KllDoublesSketch.from_bytes(row["kll"]).quantile(0.5)}
    return all(math.isclose(want[k], row[f"{k}_est"], rel_tol=1e-12) for k in want)


def unexplained_misses_allowed(ops: list[tuple[str, bool, str | None]]) -> bool:
    """True when the misses no known defect explains stay within what
    the bounds' own confidence allows (mean + 5 sd per family)."""
    n: dict[str, int] = {}
    miss: dict[str, int] = {}
    for name, ok, known in ops:
        fam = name.rsplit(":", 1)[-1]
        if fam not in MISS_RATE:
            if not ok:
                return False
            continue
        n[fam] = n.get(fam, 0) + 1
        if not ok and known is None:
            miss[fam] = miss.get(fam, 0) + 1
    for fam, m in miss.items():
        p = MISS_RATE[fam]
        if m > n[fam] * p + 5 * math.sqrt(n[fam] * p * (1 - p)):
            return False
    return True


class _nospan:
    def __init__(self, *a, **k) -> None:
        self.rows = 0

    def __enter__(self):
        return self

    def __exit__(self, *exc) -> None:
        pass
