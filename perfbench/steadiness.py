"""Run the benchmark on several seeds and report each end-to-end metric's
spread: the distance between the first and third quartile of the runs
(``statistics.quantiles(values, n=4)``) as a share of their median,
next to the metric's bound in ``BENCHMARK.json``.

Usage (from the repository root)::

    python3 perfbench/steadiness.py --runs 10 --first-seed 100 \
        --out perfbench/steadiness-set1.json [--workload serve_distinct ...]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--workload", action="append",
                    help="default: every workload in BENCHMARK.json")
    ap.add_argument("--out", help="write the summary JSON here")
    args = ap.parse_args(argv)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    summary: dict = {"run_seconds": spec["run_seconds"], "workloads": {}}
    for name in workloads:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            cmd = spec["command"] + [
                "--workload", name, "--seed", str(seed),
                "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                                  text=True, timeout=180)
            wall = time.perf_counter() - t0
            if proc.returncode != 0:
                sys.stderr.write(proc.stderr[-3000:])
                raise SystemExit(f"{name} seed {seed}: exit "
                                 f"{proc.returncode}")
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            runs.append({"seed": seed, "wall_s": wall, **result})
            print(f"{name} seed={seed} wall={wall:.1f}s "
                  f"correct={result['correct']} "
                  f"attempted={result['attempted']} " + " ".join(
                      f"{k}={v['value']:.4g}"
                      for k, v in result["metrics"].items()),
                  flush=True)
        metrics = {}
        for metric, bound in bounds.items():
            values = [r["metrics"][metric]["value"] for r in runs]
            metrics[metric] = {
                "median": statistics.median(values),
                "spread": spread(values), "bound": bound,
                "values": values}
            print(f"  {metric}: median={metrics[metric]['median']:.4g} "
                  f"spread={metrics[metric]['spread']:.4f} "
                  f"bound={bound}", flush=True)
        summary["workloads"][name] = {
            "all_correct": all(r["correct"] for r in runs),
            "wall_s": [r["wall_s"] for r in runs],
            "attempted": [r["attempted"] for r in runs],
            "metrics": metrics}
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(summary, fh, indent=1)
            fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
