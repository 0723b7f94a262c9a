"""Run the benchmark several times per workload and report, for each
end-to-end metric, the median and the interquartile distance as a share
of the median, plus each run's wall time.

    python3 perfbench/spread.py [--runs 10] [--first-seed 1]

The workloads and the run length are the ones ``BENCHMARK.json`` lists,
so the spread is checked at the length the bounds were set for. Seeds
``first-seed .. first-seed + runs - 1`` are used in turn.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    args = p.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for workload in (w["name"] for w in bench["workloads"]):
        values: dict[str, list[float]] = {}
        walls = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True, check=True,
            )
            walls.append(time.perf_counter() - t0)
            out = json.loads(proc.stdout.strip().splitlines()[-1])
            if not out["correct"] or out["failed"]:
                print(f"{workload} seed {seed}: FAILED CHECK\n{proc.stdout}")
            for name, m in out["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"{workload} seed {seed}: {walls[-1]:.1f}s " + " ".join(f"{k}={v[-1]:.4f}" for k, v in values.items()), flush=True)
        for name, vs in values.items():
            share = stats.iqr_share(vs)
            flag = "ok" if share < bounds[name] / 3 else "NOISY"
            print(f"{workload} {name}: median {stats.median(vs):.4f} iqr/median {share:.4f} bound {bounds[name]} {flag}")
        print(f"{workload} wall: median {stats.median(walls):.1f}s max {max(walls):.1f}s", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
