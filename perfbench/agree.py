"""Repeat-agreement check: run one workload on several seeds and print, for
each end-to-end metric, the median, the quartiles and the spread
(q3 - q1) / median next to the metric's bound from BENCHMARK.json.

    python3 perfbench/agree.py --workload pages_html --seeds 1-10

Run from the repository root. Seeds are run one after another, each in a
fresh process, exactly as perfbench/run.py is run on its own, with
BENCHMARK.json's run_seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    secs = str(spec["run_seconds"])
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        p = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", secs, "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            return 1
        res = json.loads(p.stdout.strip().splitlines()[-1])
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + ", ".join(
            f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()),
            flush=True)
    print(f"{'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}")
    for m in spec["end_to_end"]:
        vals = values[m["name"]]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        print(f"{m['name']:<14}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}"
              f"{spread:>9.3f}{m['bound']:>7}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
