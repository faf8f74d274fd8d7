"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/steady.py --workloads a,b --seeds 1-10 [--trace 0|1] [--out F]

with ``run_seconds`` from BENCHMARK.json.

Runs ``run.py`` once per (workload, seed), one after the other, from the
current directory. For each end-to-end metric it prints the median, the
quartiles (``statistics.quantiles(values, n=4)``) and the spread, the
distance between the quartiles as a share of the median; with ``--out``
it also writes every run's figures as JSON.
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / med if med else 0.0
    return {"median": med, "q1": q1, "q3": q3, "spread": spread, "n": len(values)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        seconds = json.load(fh)["run_seconds"]
    report: dict = {}
    for wl in args.workloads.split(","):
        runs = []
        for seed in seeds(args.seeds):
            t0 = time.perf_counter()
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)]  # fmt: skip
            proc = subprocess.run(cmd, capture_output=True, text=True)
            wall = time.perf_counter() - t0
            if proc.returncode != 0:
                print(proc.stderr[-3000:], file=sys.stderr)
                raise SystemExit(f"{wl} seed {seed}: exit {proc.returncode}")
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            res["seed"], res["run_wall_s"] = seed, wall
            runs.append(res)
            vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
            print(f"{wl} seed={seed} wall={wall:.1f}s correct={res['correct']} {vals}", flush=True)
        names = runs[0]["metrics"]
        summary = {k: summarize([r["metrics"][k]["value"] for r in runs]) for k in names}
        summary["run_wall_s"] = summarize([r["run_wall_s"] for r in runs])
        for k, s in summary.items():
            print(f"  {wl} {k}: median={s['median']:.4g} spread={s['spread']:.3%}")
        report[wl] = {"runs": runs, "summary": summary}
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
