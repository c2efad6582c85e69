"""Run the benchmark over several seeds and report each metric's spread.

Usage (from the repository root)::

    python3 perfbench/spread.py --workload kg_build --seeds 1-10

Reads ``run_seconds`` and the metric bounds from ``BENCHMARK.json``,
runs one untraced process per seed, one after another, and prints per
metric the median and the interquartile range as a share of the median
(``statistics.quantiles(values, n=4)``), next to the metric's bound; then
the runs' elapsed time and what a full pass (4 + 22 runs per workload)
would take at that pace.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec: str) -> "list[int]":
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {}
    elapsed: list[float] = []
    for seed in seeds(args.seeds):
        cmd = [*spec["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        elapsed.append(time.perf_counter() - t0)
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            return 1
        *_, info, last = proc.stdout.strip().splitlines()
        result = json.loads(last)
        info = json.loads(info)["info"]
        print(json.dumps({
            "seed": seed, "elapsed_s": elapsed[-1], "op_walls_s": info["op_walls_s"],
            "host_calibration_s": info["host_calibration_s"], **result,
        }), flush=True)
        if not result["correct"]:
            return 1
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vals in values.items():
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{name:40s} median={med:12.4f} iqr/median={spread:7.4f} bound={bounds.get(name, '-')}")
    runs = 4 + 22 * len(spec["workloads"])
    print(f"run elapsed median={statistics.median(elapsed):.1f} s max={max(elapsed):.1f} s; "
          f"a full pass of {runs} runs at this median: {runs * statistics.median(elapsed):.0f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
