"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/spread.py --workload linkpred --seeds 1-10 --seconds 20 [--trace 0]

For every metric it prints the median, the quartile spread as a share of the
median (the steadiness the benchmark is held to) and the highest percentile
that still has at least ten samples beyond it, with the sample count.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TAIL_MIN_BEYOND = 10


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest percentile p, in whole percent, with at
    least ten samples above it; None when there are fewer than 20 samples."""
    n = len(values)
    if n < 2 * TAIL_MIN_BEYOND:
        return None
    p = math.floor(100 * (n - TAIL_MIN_BEYOND) / n)
    ordered = sorted(values)
    # Nearest-rank percentile: the smallest value with p% of samples at or below.
    return p, ordered[max(0, math.ceil(p / 100 * n) - 1)]


def summarise(values: list[float]) -> dict:
    out = {"n": len(values), "median": statistics.median(values)}
    if len(values) >= 2:
        out["spread"] = quartile_spread(values)
    tail = tail_percentile(values)
    if tail is not None:
        out[f"p{tail[0]:g}"] = tail[1]
    return out


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range, e.g. 1-10")
    ap.add_argument("--seconds", required=True)
    ap.add_argument("--trace", default="0")
    args = ap.parse_args(argv)
    samples: dict[str, list[float]] = {}
    failed = 0
    for seed in _seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace]
        t0 = time.monotonic()
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        samples.setdefault("run_elapsed_s", []).append(time.monotonic() - t0)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            failed += 1
            continue
        result = json.loads(lines[-1])
        failed += 0 if result["correct"] else 1
        for name, m in result["metrics"].items():
            samples.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), file=sys.stderr)
    print(json.dumps({"workload": args.workload, "failed_runs": failed,
                      "metrics": {k: summarise(v) for k, v in samples.items()}}, indent=1))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
