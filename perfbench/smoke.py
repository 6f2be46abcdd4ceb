"""Smoke check: every workload, at tiny size, untraced and traced,
prints every metric BENCHMARK.json names, with its unit.

    python3 perfbench/smoke.py

Exits non-zero on the first missing or unexpected metric.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
              1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    bad = 0
    for wl in spec["workloads"]:
        for trace in (0, 1):
            cmd = [*spec["command"], "--workload", wl["name"], "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                                  text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or not lines:
                print(f"{wl['name']} trace={trace}: exit {proc.returncode}\n"
                      f"{proc.stderr[-2000:]}")
                return 1
            res = json.loads(lines[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            ok = (got == wanted[trace] and res["attempted"] >= 1
                  and all(isinstance(v["value"], (int, float))
                          for v in res["metrics"].values()))
            bad += not ok
            print(f"{wl['name']} trace={trace}: "
                  f"{'ok' if ok else 'MISMATCH'} correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}")
            if not ok:
                print("  missing:", sorted(set(wanted[trace]) - set(got)))
                print("  unexpected:", sorted(set(got) - set(wanted[trace])))
                print("  unit mismatch:", sorted(
                    k for k in got if k in wanted[trace] and got[k] != wanted[trace][k]))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
