"""Benchmark of the dedup pipeline and the sketch library.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Workloads:

- ``web_hot``: ``sources.webtext`` pages, half of them a template
  farm, through ``plans.dedup.dedup_pipeline`` with a checkpoint
  directory, then one resume pass.  The farm puts LSH buckets above the
  512 members at which ``candidate_pairs`` takes its salted path; the
  checkpoint is written and read back.  No sketch aggregation runs.
- ``sketch_rollup``: theta/HLL/CPC/KLL/frequent-items builds per key
  and globally through the DataFrame aggregations and the SQL
  registry, then unions of the stored images.  No dedup code runs.

One driver process on ``local[cores]`` starts the session and runs
one warm-up job, then runs one job at a time in a closed loop for
``--seconds`` (at least one job after the warm-up).  Every job's output
is checked, the warm-up's too; each check is one operation.  The last
stdout line is the result: ``correct``, ``attempted``, ``failed`` and
the end-to-end metrics, or with ``--trace 1`` the per-layer metrics of
traced iterations alternated with untraced jobs.  The line before it
is a report: machine, wall times, throughput, peak RSS, JIT and GC
thread CPU, quality figures and known defects.  Spans of a traced run
go to ``perfbench/.work/trace-*.jsonl``.

Each run starts a fresh JVM, whose first job runs interpreted code
while the JIT compiles it and costs two to three times a later job;
the warm-up job takes that cost, and the report gives how much slower
it was than the timed jobs (``warmup_gap``).  CPU seconds are scaled
by the host's speed while they were spent (``probes.SpeedProbe``).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# the measured size, and the tiny one the smoke check uses
SIZES = {
    "web_hot": {"full": dict(n_docs=1300, hot_pages=650),
                "tiny": dict(n_docs=700, hot_pages=70)},
    "sketch_rollup": {"full": dict(n_rows=40_000, n_keys=100),
                      "tiny": dict(n_rows=3000, n_keys=20)},
}

# Bounded end-to-end metrics.  On a shared 4-vCPU VM the host's speed
# moved by up to half within minutes (the probe loop took 2.0-3.5 ms,
# with no steal time), and the CPU and wall seconds of a job with it.
# So CPU seconds are scaled by the probe loop's cost over the same
# interval, to seconds of a host on which it takes REF_PROBE_MS:
# setup_s for the session start, cpu_s for a timed job (median).  cpu_s
# leaves out the JVM's JIT compiler and GC threads, whose work in one
# job depends on how far warm-up and concurrent marking have got.  The
# report line adds the unscaled figures, wall time, docs or rows per
# second and peak RSS.
REF_PROBE_MS = 2.0
END_TO_END = {"setup_s": "s", "cpu_s": "s", "shuffle_write_mb": "MB"}
LAYERS = ["text.shingle_hashes", "lsh.add_signatures", "lsh.band_buckets",
          "lsh.hot_buckets", "lsh.candidate_pairs", "lsh.verify_pairs",
          "connected_components", "checkpoint.run_stage", "checkpoint.resume",
          "sketch_aggs.build", "sketch_aggs.union", "sql_registry.build",
          "sql_registry.union"]
LAYER_FIELDS = {"wall_s": "s", "jvm_cpu_s": "s", "py_cpu_s": "s", "gc_s": "s",
                "shuffle_write_mb": "MB", "spill_mb": "MB", "rows_out": "count"}
EXTRA = {"minhash.kernel.wall_s": "s",
         "minhash.kernel.docs_per_core_s": "1/s",
         "lsh.hot_buckets.max_bucket": "count",
         "lsh.verify_pairs.useful_ratio": "ratio",
         "connected_components.rounds": "count",
         "checkpoint.bytes_written_mb": "MB",
         "sketches.update.items_per_s": "1/s",
         "sketches.merge.images_per_s": "1/s",
         "trace.total_s": "s",
         "trace.overhead_s": "s"}
# a traced run starts no further untraced job after this many seconds
LATE_S = 120
PER_LAYER = {**{f"{l}.{f}": u for l in LAYERS for f, u in LAYER_FIELDS.items()},
             **EXTRA}


def make_workload(name: str, seed: int, size: str, work: str):
    from rollup import Rollup
    from web import Web
    cls = Rollup if name == "sketch_rollup" else Web
    return cls(name, seed, work=work, **SIZES[name][size])


# -- session lifecycle ----------------------------------------------------------

def configure_env(work: str) -> None:
    """Settings the JVM and its Python workers inherit: the package on
    the workers' path, scratch space inside the checkout, and a status
    store that keeps every job and stage of the run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    # every JVM, the launcher included: temp files inside the checkout,
    # no hsperfdata under /tmp, and only the C1 JIT compiler.  With C2
    # as well, compilation went on for 20 s of CPU per job after the
    # warm-up, and a job's CPU seconds varied by 8 % with how far it had
    # got; with C1 alone they varied by 2 %, for 10-20 % more of them.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}")
    conf = {"spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.executorEnv.PYTHONPATH": ROOT}
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def start_spark(machine):
    from datasketches_java_spark.functions.session import get_spark
    return get_spark("perfbench", cores=machine.cores,
                     shuffle_partitions=2 * machine.cores,
                     driver_memory=machine.driver_memory)


def stop_spark(spark, procs) -> None:
    """Stop the context, then the JVM, and wait for every child."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while procs.descendants() and time.time() < deadline:
        time.sleep(0.1)
    for pid in procs.descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while procs.descendants() and time.time() < deadline + 10:
        time.sleep(0.1)


# -- measuring --------------------------------------------------------------------

def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: list[float]) -> dict:
    """Median, and the highest percentile with at least ten samples
    beyond it (none below 20 samples)."""
    out = {"n": len(xs), "median": median(xs)}
    if len(xs) >= 20:
        k = len(xs) - 10
        out[f"p{100 * k / len(xs):.0f}"] = float(sorted(xs)[k - 1])
    return out


class Run:
    def __init__(self, args) -> None:
        from probes import Machine, ProcTree, SpeedProbe
        self.args = args
        self.machine = Machine.detect()
        self.speed = SpeedProbe()
        self.procs = ProcTree(self.speed)
        self.work = os.path.join(
            HERE, ".work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
        self.wl = make_workload(args.workload, args.seed, args.size, self.work)
        self.ops: list[tuple[str, bool, str | None]] = []
        self.jobs: list[dict] = []
        self.traced: list[dict] = []
        self.spark = None
        self.t0 = time.perf_counter()

    def setup(self) -> dict:
        """Session start (the input DataFrame is defined, not read):
        CPU seconds of the process tree, scaled and not, and wall
        seconds."""
        from probes import cpu_delta, cpu_total
        c0 = self.procs.sample()
        t0 = time.perf_counter()
        self.spark = start_spark(self.machine)
        self.wl.load(self.spark)
        t1 = time.perf_counter()
        cpu = cpu_total(cpu_delta(c0, self.procs.sample()))
        probe = self.speed.cost_ms(t0, t1)
        return {"setup_s": cpu * REF_PROBE_MS / probe, "raw_cpu_s": cpu,
                "probe_ms": probe, "wall_s": t1 - t0}

    def job(self, i: int, warmup: bool = False) -> None:
        from probes import MB, StatusStore, cpu_delta, cpu_work
        store = StatusStore(self.spark)
        group = f"job-{i}"
        store.set_group(group)
        c0 = self.procs.sample()
        t0 = time.perf_counter()
        out = self.wl.job(self.spark, i)
        t1 = time.perf_counter()
        wall = t1 - t0
        cpu = cpu_delta(c0, self.procs.sample())
        probe = self.speed.cost_ms(t0, t1)
        store.set_group(None)
        st = store.group(group)
        self.ops += self.wl.check(out, i)
        self.jobs.append({
            "warmup": warmup, "wall_s": wall,
            "cpu_s": cpu_work(cpu) * REF_PROBE_MS / probe,
            "raw_cpu_s": cpu_work(cpu), "probe_ms": probe,
            "jit_cpu_s": cpu["jit"], "gc_cpu_s": cpu["gc"],
            "shuffle_write_mb": st["shuffleWriteBytes"] / MB,
            "resume_s": out.get("resume_s"),
            "summary": self.wl.summary(out)})
        self.wl.cleanup(i)

    def traced_iteration(self, i: int, tracer) -> None:
        tracer.run_id = f"{self.args.workload}-s{self.args.seed}-t{i}"
        first = len(tracer.spans)
        with tracer.span("run", workload=self.args.workload):
            out = self.wl.traced(self.spark, tracer, i)
        spans = tracer.spans[first:]
        rec = {"trace.total_s": spans[-1].end - spans[-1].start}
        for layer in LAYERS + ["minhash.kernel"]:
            for f in LAYER_FIELDS:
                rec[f"{layer}.{f}"] = sum(s.counts[f] for s in spans if s.name == layer)
        rec.update(out.pop("extra"))
        self.ops += self.wl.check(out, i)
        # the traced composition must be the same program
        mine, ref = self.wl.summary(out), self.jobs[-1]["summary"]
        self.ops.append(("traced_same_output",
                         all(mine[k] == ref[k] for k in self.wl.same_keys), None))
        self.wl.cleanup(i)
        self.traced.append(rec)

    def measure(self) -> None:
        from probes import Tracer
        tracer = Tracer(self.spark, self.procs) if self.args.trace else None
        # untraced: the warm-up, then jobs until the deadline; traced:
        # the warm-up, then (traced, untraced) pairs until the deadline;
        # late untraced jobs are skipped so a traced run ends within 3
        # minutes
        i = 0
        self.job(i, warmup=True)
        deadline = time.perf_counter() + self.args.seconds
        while True:
            if tracer:
                self.traced_iteration(i + 1, tracer)
                if time.perf_counter() - self.t0 < LATE_S:
                    self.job(i + 2)
                i += 2
            else:
                i += 1
                self.job(i)
            if time.perf_counter() >= deadline:
                break
        if tracer:
            tracer.dump(os.path.join(
                HERE, ".work", f"trace-{self.args.workload}-s{self.args.seed}.jsonl"))

    def close(self) -> None:
        try:
            if self.spark is not None:
                stop_spark(self.spark, self.procs)
        finally:
            self.procs.close()
            self.speed.close()
            shutil.rmtree(self.work, ignore_errors=True)


def results(run: Run, setup: dict, gen_s: float, peak_rss: float):
    from rollup import unexplained_misses_allowed
    warm = run.jobs[0]
    # a traced run that ran late may have timed no untraced job
    jobs = [j for j in run.jobs if not j["warmup"]] or [warm]
    walls = [j["wall_s"] for j in jobs]
    failed = [(n, k) for n, ok, k in run.ops if not ok]
    known: dict[str, int] = {}
    for _, k in failed:
        if k:
            known[k] = known.get(k, 0) + 1
    e2e = {"setup_s": setup["setup_s"],
           "cpu_s": median([j["cpu_s"] for j in jobs]),
           "shuffle_write_mb": median([j["shuffle_write_mb"] for j in jobs])}
    report = {
        "workload": run.args.workload, "seed": run.args.seed,
        "machine": {"cores": run.machine.cores, "mem_mb": run.machine.mem_mb,
                    "driver_memory": run.machine.driver_memory},
        run.wl.unit: run.wl.n_items,
        "input_gen_s": gen_s,
        "setup": {k: v for k, v in setup.items() if k != "setup_s"},
        "warmup_wall_s": [j["wall_s"] for j in run.jobs if j["warmup"]],
        "wall_s": tail(walls),
        **({"resume_s": tail([j["resume_s"] for j in jobs])}
           if warm["resume_s"] is not None else {}),
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
        f"{run.wl.unit}_per_s": {"value": run.wl.n_items / median(walls), "unit": "1/s"},
        "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
        **{k: {"warmup": warm[k], "median": median([j[k] for j in jobs])}
           for k in ("raw_cpu_s", "probe_ms", "jit_cpu_s", "gc_cpu_s")},
        "quality": warm["summary"],
        "fail_ratio": len(failed) / max(len(run.ops), 1),
        "known_defects": known,
        "unexplained_failures": sorted({n for n, k in failed if not k}),
        "warmup_gap": warm["wall_s"] / median(walls) - 1,
    }
    out = {"correct": unexplained_misses_allowed(run.ops),
           "attempted": len(run.ops), "failed": len(failed)}
    if run.args.trace:
        vals = {k: median([t.get(k, 0.0) for t in run.traced]) for k in PER_LAYER}
        vals["trace.overhead_s"] = vals["trace.total_s"] - median(walls)
        out["metrics"] = {k: {"value": v, "unit": PER_LAYER[k]}
                          for k, v in vals.items()}
    else:
        out["metrics"] = report["end_to_end"]
    return report, out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "datasketches_java_spark")):
        print(f"perfbench: no datasketches_java_spark package in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    run = Run(args)
    try:
        configure_env(run.work)
        t0 = time.perf_counter()
        run.wl.generate()
        gen_s = time.perf_counter() - t0
        setup = run.setup()
        run.measure()
        peak_rss = run.procs.peak_rss_mb()
    finally:
        run.close()
    report, result = results(run, setup, gen_s, peak_rss)
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
