#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/noise.py --workloads dedup stream --runs 10 \
        --out .perfbench/noise.json

Runs ``perfbench/run.py`` once per seed (seeds 1..runs) for each workload,
from the current directory, and reports per metric the median and the
distance between the first and third quartile as a share of the median
(``statistics.quantiles(values, n=4)``). ``--trace 1`` runs the traced
variant instead and reports the per-layer metrics the same way.
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

RUN_PY = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med,
        "iqr_share": (q3 - q1) / med if med else 0.0,
        "min": min(values),
        "max": max(values),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=None, help="also write the summary here (JSON)")
    args = ap.parse_args()

    summary = {}
    for w in args.workloads:
        values: dict[str, list[float]] = {}
        lines: dict[int, list[str]] = {}
        walls, failed = [], 0
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, RUN_PY, "--workload", w, "--seed", str(seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace)],
                capture_output=True, text=True, timeout=600,
            )
            walls.append(time.perf_counter() - t0)
            if proc.returncode != 0:
                print(proc.stderr[-2000:], file=sys.stderr)
                raise SystemExit(f"{w} seed {seed}: exit {proc.returncode}")
            out = proc.stdout.strip().splitlines()
            lines[seed] = out[:-1]
            result = json.loads(out[-1])
            failed += result["failed"]
            for k, m in result["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"{w} seed {seed}: wall {walls[-1]:.1f} s "
                  + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
        summary[w] = {
            "runs": args.runs,
            "failed": failed,
            "wall_s": spread(walls),
            "metrics": {k: spread(v) for k, v in values.items()},
            "values": values,
            "lines": lines,
        }
    text = json.dumps(summary, indent=1)
    print(json.dumps({w: {k: v for k, v in d.items() if k not in ("values", "lines")}
                      for w, d in summary.items()}, indent=1))
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
