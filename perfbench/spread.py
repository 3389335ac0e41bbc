"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload lakehouse_mixed --seeds 1 2 3 4 5

Runs the benchmark once per seed (one after the other) and prints, per
metric, the median and the interquartile range as a share of the median,
next to the metric's bound from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        out = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        if out.returncode != 0:
            print(out.stderr[-3000:], file=sys.stderr)
            return 1
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(seed, json.dumps({k: round(v["value"], 4) for k, v in res["metrics"].items()}),
              "failed", res["failed"], flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, xs in values.items():
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{k:14s} median {med:10.4f}  iqr/median {(q3 - q1) / med:6.3f}  "
              f"bound {bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
