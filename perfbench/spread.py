"""Run the benchmark on several seeds and report each end-to-end metric's
median and spread (interquartile distance as a share of the median).

    python3 perfbench/spread.py --workload query_mix --seeds 1 2 3 4 5

Runs are sequential; each is a full ``run.py`` invocation from the
current directory, with the run length from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time

from stats import iqr_share


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)

    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t0 = time.monotonic()
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", str(args.trace)],
            capture_output=True, text=True)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}", file=sys.stderr)
            return 1
        result = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: wall={time.monotonic() - t0:.0f}s correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']} "
              + " ".join(f"{k}={v['value']:.4f}" for k, v in result["metrics"].items()),
              flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])

    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    for name, xs in values.items():
        spread = iqr_share(xs) if len(xs) >= 2 and statistics.median(xs) else 0.0
        bound = bounds.get(name)
        print(f"{name}: median={statistics.median(xs):.4f} spread={spread:.4f}"
              + (f" bound={bound}" if bound else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())
