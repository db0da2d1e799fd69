#!/usr/bin/env python3
"""Run the benchmark once per seed for each workload in BENCHMARK.json
and print, per end-to-end metric, the median and the quartile spread
(Q3 - Q1 as a share of the median) against the metric's bound.

    python3 perfbench/spread.py [--seeds 1,2,...] [--workloads a,b]

Runs one after another, from the repository root, untraced.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import quartile_spread  # noqa: E402


def main() -> int:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default=",".join(str(s) for s in range(1, 11)))
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    args = ap.parse_args()
    seeds = [int(s) for s in args.seeds.split(",")]
    ok = True
    for w in args.workloads.split(","):
        values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
        for seed in seeds:
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            if p.returncode != 0 or not last.startswith("{"):
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
                ok = False
                continue
            res = json.loads(last)
            print(f"{w} seed {seed}: correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
            for k, v in res["metrics"].items():
                values[k].append(v["value"])
        for m in spec["end_to_end"]:
            xs = values[m["name"]]
            if len(xs) < 4:
                continue
            spread = quartile_spread(xs)
            flag = "" if m["name"] == "setup_s" or spread < m["bound"] / 3 else "  <-- wide"
            ok &= not flag
            print(f"  {w:18s} {m['name']:12s} median={statistics.median(xs):.4g} "
                  f"spread={spread:.3f} bound={m['bound']}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
