"""Run the benchmark over several seeds and report each end-to-end
metric's spread: the distance between the first and third quartiles of
its values (``statistics.quantiles(values, n=4)``) as a share of their
median, next to the bound ``BENCHMARK.json`` fixes for it.

    python3 perfbench/steadiness.py --runs 10 [--workload NAME ...] [--out FILE]

Runs seeds 1..runs untraced, one process at a time from the repository
root; wall time per run is recorded too, because the whole sweep has a
time budget.
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


def sweep(workload: str, seeds: list[int], seconds: int) -> dict:
    runs = []
    for seed in seeds:
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=False,
        )
        wall = time.perf_counter() - t0
        if out.returncode != 0:
            sys.stderr.write(out.stderr[-4000:])
            raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}")
        result = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append({"seed": seed, "wall_s": round(wall, 2), **result})
        print(f"{workload} seed={seed} wall={wall:.1f}s correct={result['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
    return {"runs": runs}


def spreads(runs: list[dict], bounds: dict[str, float]) -> dict:
    out = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        out[name] = {
            "median": med,
            "spread": (q3 - q1) / med if med else 0.0,
            "bound": bounds.get(name),
        }
    return out


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workload", action="append")
    p.add_argument("--out")
    args = p.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = args.workload or [w["name"] for w in bench["workloads"]]
    seeds = list(range(1, args.runs + 1))
    report = {}
    for name in names:
        res = sweep(name, seeds, bench["run_seconds"])
        res["spread"] = spreads(res["runs"], bounds)
        res["wall_s_median"] = statistics.median(r["wall_s"] for r in res["runs"])
        report[name] = res
        for metric, s in res["spread"].items():
            print(f"{name} {metric}: median={s['median']:.6g} spread={s['spread']:.4f}"
                  f" bound={s['bound']}", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
