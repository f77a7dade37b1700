"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/steady.py --workload serve --seeds 1-10 --seconds 25
    python3 perfbench/steady.py --workload serve --seeds 1,2 --trace 1

For every metric it prints the median, the quartile distance as a share
of the median (what BENCHMARK.json's bounds are compared against), and
each run's value. With `--trace 1` it also prints which job counts
differed between runs: with one client they should repeat exactly.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--seconds", type=float, default=None,
                    help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    secs = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for s in seeds(args.seeds):
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(s), "--seconds", str(secs),
             "--trace", str(args.trace)],
            cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True)
        wall = time.perf_counter() - t0
        if p.returncode != 0:
            print(f"seed {s}: exit {p.returncode}", flush=True)
            continue
        res = json.loads(p.stdout.strip().splitlines()[-1])
        vals = {k: v["value"] for k, v in res["metrics"].items()}
        runs.append(vals)
        print(f"seed {s}: {wall:.0f}s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={v:.4g}" for k, v in vals.items()
                         if k in bounds or args.trace == 0), flush=True)
    if len(runs) < 2:
        return 1
    print(f"{'metric':36s} {'median':>12s} {'iqr/med':>8s} {'bound':>6s}")
    for k in runs[0]:
        vs = [r[k] for r in runs]
        b = bounds.get(k)
        print(f"{k:36s} {statistics.median(vs):12.4f} {spread(vs):8.3f} "
              f"{b if b is not None else '':>6}")
    if args.trace:
        varying = [k for k in runs[0] if k.endswith("jobs")
                   and len({round(r[k], 6) for r in runs}) > 1]
        print("job counts that differ between runs:", varying or "none")
    return 0


if __name__ == "__main__":
    sys.exit(main())
