#!/usr/bin/env python3
"""Measure the run-to-run spread of every end-to-end metric.  Run from the
repository root:

    python3 spatialbench/spread.py --runs 10 --first-seed 101 --out spatialbench/spread.json

Runs each workload ``--runs`` times with consecutive seeds (untraced, the
``run_seconds`` of BENCHMARK.json), then reports per workload and metric the
median and the spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median.  A change
whose effect on a metric is smaller than that spread cannot be told apart
from noise on this host.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--workloads", default="", help="comma-separated subset (default: all)")
    ap.add_argument("--out", default="")
    args = ap.parse_args(argv)

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workloads:
        names = [n for n in args.workloads.split(",") if n in names]
    report = {"runs": args.runs, "run_seconds": spec["run_seconds"], "workloads": {}}
    for wl in names:
        values = {m["name"]: [] for m in spec["end_to_end"]}
        walls, host = [], None
        for k in range(args.runs):
            seed = args.first_seed + k
            cmd = [sys.executable, *spec["command"][1:], "--workload", wl, "--seed", str(seed),
                   "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
            walls.append(time.perf_counter() - t0)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                print(proc.stderr[-2000:], file=sys.stderr)
                raise SystemExit(f"{wl} seed {seed}: exit {proc.returncode}")
            res = json.loads(lines[-1])
            host = json.loads(lines[-2])["run_info"]
            if not res["correct"]:
                raise SystemExit(f"{wl} seed {seed}: {res['failed']} of {res['attempted']} jobs failed")
            for name in values:
                values[name].append(res["metrics"][name]["value"])
            print(wl, seed, f"{walls[-1]:.1f}s",
                  {n: round(v[-1], 4) for n, v in values.items()}, flush=True)
        stats = {}
        for name, vals in values.items():
            q1, _, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            stats[name] = {"median": med, "spread": (q3 - q1) / med}
            print(f"  {wl:9s} {name:14s} median {med:12.4f} spread {stats[name]['spread']:.3f}")
        report["workloads"][wl] = {
            "seeds": [args.first_seed, args.first_seed + args.runs - 1],
            "metrics": stats,
            "wall_s_median": statistics.median(walls),
            "wall_s_max": max(walls),
            "host": {k: host[k] for k in ("nproc", "ram_gb", "driver_memory_gb", "master")},
        }
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=2)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
