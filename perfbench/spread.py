"""Run one workload over several seeds and print each metric's spread.

    python3 perfbench/spread.py --workload filter_fresh --seeds 1-10 [--seconds 8]

For each end-to-end metric: the median and the distance between the first
and third quartiles (``statistics.quantiles(values, n=4)``) as a share of
the median. A benchmark is steady when every share stays well inside the
metric's bound in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    p.add_argument("--seconds", type=int, default=None,
                   help="default: run_seconds from BENCHMARK.json")
    args = p.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {m: [] for m in bounds}
    failed = 0
    for seed in _seeds(args.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            capture_output=True, text=True, check=True).stdout
        res = json.loads(out.strip().splitlines()[-1])
        failed += res["failed"] + (not res["correct"])
        for m, v in res["metrics"].items():
            values[m].append(v["value"])
        print(json.dumps({"seed": seed, **{m: v["value"] for m, v in res["metrics"].items()}}),
              flush=True)
    for m, vals in values.items():
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        print(f"{m:12s} n={len(vals)} median={med:.4g} iqr/median={(q3 - q1) / med:.4f} "
              f"bound={bounds[m]}")
    print(f"failed runs: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
