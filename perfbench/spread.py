"""Run one workload over several seeds and print each end-to-end
metric's median and inter-quartile spread (as a share of the median)
next to its bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload feed_merge --seeds 1 2 3 4 5
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
sys.path.insert(0, ROOT)

from perfbench.stats import spread  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    walls = []
    for seed in args.seeds:
        t = time.perf_counter()
        out = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=True,
        ).stdout.strip().splitlines()
        walls.append(time.perf_counter() - t)
        result = json.loads(out[-1])
        print(f"seed {seed}: {walls[-1]:.1f}s wall, correct={result['correct']} "
              f"{result['failed']}/{result['attempted']} failed", flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vals in values.items():
        sp = spread(vals) if len(vals) >= 2 else float("nan")
        print(f"{name:32s} median {statistics.median(vals):12.4f} "
              f"spread {sp:7.4f} bound {bounds.get(name)}  "
              + " ".join(f"{v:.4g}" for v in vals))
    print(f"wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
