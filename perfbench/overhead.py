"""Tracing overhead: traced minus untraced, per end-to-end metric.

    python3 perfbench/overhead.py --seeds 1 2 --seconds 20

Runs every workload with `--trace 0` and then `--trace 1` for each
seed, and prints for each end-to-end metric the median of the untraced
values, the median of the traced ones (the per-layer `traced.*`
metrics) and their difference.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def one_run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=HERE.parent, stdout=subprocess.PIPE, text=True, check=True)
    metrics = json.loads(proc.stdout.strip().splitlines()[-1])["metrics"]
    return {k.removeprefix("traced."): v["value"] for k, v in metrics.items()
            if trace == 0 or k.startswith("traced.")}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2])
    ap.add_argument("--seconds", type=float, default=20)
    args = ap.parse_args()
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    print(f"{'workload':12s} {'metric':12s} {'untraced':>10s} "
          f"{'traced':>10s} {'overhead':>10s}")
    for w in spec["workloads"]:
        runs = {0: [], 1: []}
        for seed in args.seeds:
            for t in (0, 1):
                runs[t].append(one_run(w["name"], seed, args.seconds, t))
        for d in spec["end_to_end"]:
            off, on = (statistics.median(r[d["name"]] for r in runs[t])
                       for t in (0, 1))
            print(f"{w['name']:12s} {d['name']:12s} {off:10.4f} {on:10.4f} "
                  f"{on - off:+10.4f} {d['unit']:4s} "
                  f"{100 * (on - off) / off:+6.1f}%")


if __name__ == "__main__":
    main()
