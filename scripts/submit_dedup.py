"""spark-submit entry point for the dedup pipeline.

Cluster usage (the production shape required by the north rule):

    bash scripts/package.sh                        # builds dist/dsjs.zip
    spark-submit --py-files dist/dsjs.zip \\
        scripts/submit_dedup.py \\
        --input  <iceberg-table-or-parquet-path> \\
        --output <checkpoint/output root> \\
        [--id-col url --text-col text --threshold 0.8 --with-lcs]

Local run (``--cores N`` runs local[N] with the engine's session
defaults from functions/session.get_spark):

    python scripts/submit_dedup.py --input .cache/webtext_bench_20000/pages.parquet \\
        --output /tmp/dedup_out --cores 4

The job is a thin arg-parser around plans.dedup.dedup_pipeline — all
logic lives in the package so the same code path runs in tests, bench,
and cluster submission.  Per-stage checkpoints under --output make the
job resumable: resubmitting after a failure skips completed stages.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--id-col", default="url")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--threshold", type=float, default=0.8)
    ap.add_argument("--with-lcs", action="store_true")
    ap.add_argument("--drift-p", type=float, default=0.01,
                    help="KS p-value for the epoch drift gate")
    ap.add_argument("--allow-drift", action="store_true",
                    help="resume from checkpoints even when the input "
                         "distribution drifted vs the recorded epoch")
    ap.add_argument("--cores", type=int, default=None,
                    help="local[NN] master for sandbox runs; omit on a "
                         "real cluster (spark-submit provides the master)")
    return ap


def _has_resume_state(output: str) -> bool:
    root = Path(output)
    return root.is_dir() and any(
        (d / "data" / "_SUCCESS").exists() for d in root.iterdir()
        if d.is_dir())


def run(args, spark) -> dict:
    """The submit body, session-injected so tests can drive both gate
    branches in-process.  Returns the metrics dict it prints.

    Drift gate (north rule: resumable checkpoints + per-epoch drift
    detection): before touching checkpoints, sketch length(text) for
    this input and KS-compare against the epoch image stored under
    --output.  A drifted input combined with EXISTING resume state is
    refused — stale stage checkpoints built from a different
    distribution would silently poison the resumed run — unless
    --allow-drift.  The refusing branch leaves the stored epoch image
    untouched (commit='if_clean') so resubmitting the same drifted
    input still refuses.
    """
    from pyspark.sql import functions as F

    from datasketches_java_spark.plans.dedup import (
        dedup_metrics, dedup_pipeline)
    from datasketches_java_spark.streaming.incremental import (
        epoch_drift_check)

    pages = (spark.read.format("iceberg").load(args.input)
             if not args.input.endswith(".parquet")
             and not Path(args.input).exists()
             else spark.read.parquet(args.input))

    resuming = _has_resume_state(args.output)
    refuse = resuming and not args.allow_drift
    drift = epoch_drift_check(
        spark,
        pages.select(F.length(args.text_col).cast("double").alias("_len")),
        state_dir=str(Path(args.output) / "_drift"), col="_len",
        p_value=args.drift_p,
        commit="if_clean" if refuse else "always")
    if drift["drifted"] and refuse:
        return {"error": "epoch drift: input text-length distribution "
                         "diverged from the checkpointed epoch "
                         "(KS d={:.4f}); clear the checkpoints under "
                         "--output or pass --allow-drift".format(drift["d"]),
                "drifted": True, "ks_d": drift["d"], "resumed": False}

    t0 = time.time()
    res = dedup_pipeline(spark, pages, id_col=args.id_col,
                         text_col=args.text_col, threshold=args.threshold,
                         checkpoint_dir=args.output, with_lcs=args.with_lcs)
    m = dedup_metrics(res, args.id_col).collect()[0].asDict()
    m["wall_s"] = round(time.time() - t0, 2)
    m["resumed"] = resuming
    m["drifted"] = drift["drifted"]
    m["ks_d"] = drift["d"]
    return m


def main() -> None:
    args = _parser().parse_args()

    from pyspark.sql import SparkSession

    if args.cores:
        from datasketches_java_spark.functions.session import get_spark
        spark = get_spark("dedup_submit", cores=args.cores)
    else:
        spark = SparkSession.builder.appName("dedup_submit").getOrCreate()

    m = run(args, spark)
    print(json.dumps(m))
    spark.stop()
    if m.get("error"):
        sys.exit(3)


if __name__ == "__main__":
    main()
