"""Seeded end-to-end benchmark of the BM25 engine.

Run from the repository root:

    python3 perfbench/run.py --workload serve_ingest --seed 1 --seconds 8 --trace 0

Inputs come only from ``--seed``.  The run starts one local Spark session
on all cores, sets the workload up four times (``setup_s`` is the median
of the last three), then drives one closed-loop client through the
public API for about ``--seconds`` seconds (each phase runs a minimum
number of operations) and checks every answer against a pure-Python
oracle.  With ``--trace 1`` it instead sets up once and runs
the operations with each layer call in a span, reporting per-layer
figures and the tracing overhead; the spans go to
``.perfbench_traces/<workload>-seed<seed>.json``.

Workload-specific figures are printed by name and unit; the last line of
standard output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}`` carrying the metrics listed in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3


def parse(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run(args) -> dict:
    from perfbench import metrics
    from perfbench.engine import Engine, configure_env
    from perfbench.tracing import NullTracer, Tracer, peak_rss_mb
    from perfbench.workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    cpus = len(os.sched_getaffinity(0))
    configure_env(work, cpus)
    w = WORKLOADS[args.workload](args.seed, args.seconds, work, cpus)
    w.generate()
    eng = Engine(work)
    clock = [("generate", time.perf_counter())]
    try:
        eng.start()
        w.prepare(eng.spark)
        clock.append(("start+prepare", time.perf_counter()))
        if args.trace:
            w.reset()
            eng.spark.stop()
            t0 = time.perf_counter()
            eng.start()
            tr = Tracer(eng.spark)
            tr.record("session.start", t0, time.perf_counter())
            w.setup(eng.spark, tr)
            w.measure(eng.spark, tr)
            tr.finish()
            layers = w.layers(tr)
        else:
            setups = []
            # the first set-up pays the JVM's one-off warm-up (a first
            # shuffle costs ~7 s on 4 cores) and is not counted; stopping
            # the previous session is teardown (0.05-0.45 s of noise), so
            # a set-up is a fresh session start plus the workload's set-up
            for _ in range(1 + SETUP_REPEATS):
                w.reset()
                eng.spark.stop()
                t0 = time.perf_counter()
                eng.start()
                w.setup(eng.spark, NullTracer())
                setups.append(time.perf_counter() - t0)
            clock.append(("setup", time.perf_counter()))
            w.measure(eng.spark, NullTracer())
        clock.append(("measure", time.perf_counter()))
        jvm_mb, py_mb = peak_rss_mb(eng.jvm_pid)
    finally:
        eng.close()
    clock.append(("close", time.perf_counter()))
    print("perfbench: phase seconds " + " ".join(
        f"{name}={t - prev:.1f}" for (_, prev), (name, t) in zip(clock, clock[1:])),
        file=sys.stderr)
    if not args.trace:
        print("perfbench: set-ups " + " ".join(f"{t:.3f}" for t in setups), file=sys.stderr)

    failed_frac = w.failed / w.attempted if w.attempted else 1.0
    if args.trace:
        base, traced = w.untraced_twin_s, w.traced_twin_s
        layers.update({
            "session.start_s": tr.named("session.start")[0].dur,
            "spark.failed_tasks": float(sum(s.failed_tasks for s in tr.spans)),
            "proc.jvm_rss_mb": jvm_mb,
            "proc.python_rss_mb": py_mb,
            "trace.overhead_s": traced - base,
            "trace.overhead_frac": (traced - base) / base if base else 0.0,
            "ops_failed_frac": failed_frac,
        })
        values = {n: float(layers.get(n, 0.0)) for n, *_ in metrics.PER_LAYER}
        tr.dump(
            os.path.join(ROOT, ".perfbench_traces", f"{w.name}-seed{args.seed}.json"),
            {"workload": w.name, "seed": args.seed, "per_layer": values},
        )
        report = {}
    else:
        op_p50_ms, items_per_s, report = w.e2e()
        values = {
            "setup_s": statistics.median(setups[1:]),
            "op_p50_ms": op_p50_ms,
            "items_per_s": items_per_s,
        }
        report["peak_rss_mb"] = (jvm_mb + py_mb, "MB")
        report["ops_failed_frac"] = (failed_frac, "ratio")
    for name, (v, unit) in report.items():
        print(f"{w.name:>14}  {name:<34} {v:>14.6g} {unit}")
    for name, v in values.items():
        print(f"{w.name:>14}  {name:<34} {v:>14.6g} {metrics.UNITS[name]}")
    return {
        "correct": w.failed == 0 and w.attempted > 0,
        "attempted": w.attempted,
        "failed": w.failed,
        "metrics": {n: {"value": v, "unit": metrics.UNITS[n]} for n, v in values.items()},
    }


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "flink_bm25_spark", "__init__.py")):
        print("perfbench: the engine package flink_bm25_spark/ is not in this"
              " checkout; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse(argv)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
