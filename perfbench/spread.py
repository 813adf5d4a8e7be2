"""Run the benchmark on several seeds and report each metric's median and
quartile spread ((Q3 - Q1) / median), the figure a metric's bound in
BENCHMARK.json must stay well above.

    python3 perfbench/spread.py --workload query --seeds 1 2 3 4 5 [--trace 0]

Run from the repository root; runs are sequential, one process each."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.stats import quartile_spread  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", str(args.trace)]
        out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout
        lines = out.strip().splitlines()
        result = json.loads(lines[-1])
        print(f"seed {seed}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']} {lines[-2]}", flush=True)
        print("  " + " ".join(f"{k}={m['value']:.4g}" for k, m in sorted(result["metrics"].items())),
              flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for name, vs in sorted(values.items()):
        spread = quartile_spread(vs) if len(vs) >= 2 and statistics.median(vs) else float("nan")
        bound = bounds.get(name)
        flag = "" if bound is None or spread < bound / 3 else "  <-- above bound/3"
        print(f"{name:40s} median={statistics.median(vs):.6g} spread={spread:.4f}"
              f" bound={bound}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
