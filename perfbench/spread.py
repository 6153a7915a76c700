"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload query --seeds 1-10

Spread is the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median; the
end-to-end bounds in BENCHMARK.json are compared against it. Each run's
full output is kept under .bench_out/ for inspection.
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seconds = spec["run_seconds"]
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        name = f"spread-{args.workload}-seed{seed}"
        with open(os.path.join(out_dir, name + ".out"), "w") as fh:
            fh.write(p.stdout + p.stderr)
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}")
            continue
        res = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / abs(med) if med else float("inf")
        bound = bounds.get(k)
        flag = "" if bound is None else (
            f"  bound={bound} {'ok' if spread < bound / 3 else 'WIDE'}")
        print(f"{k:36s} median={med:.6g} q1={q1:.6g} q3={q3:.6g} "
              f"spread={spread:.4f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
