#!/usr/bin/env python3
"""KG-construction benchmark: seeded workloads, checked outputs, and a
traced per-layer run.

    python3 perfbench/run.py --workload kg_dataeng --seed 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Run from the repository root. One run launches one Spark JVM at
``local[4]`` and drives it from this process as a closed loop: a pass
starts only after the previous one has finished and been checked.

``--trace 0`` reports the end-to-end metrics: set-up time (median of
several set-ups), docs/s and process-tree CPU per 1,000 docs (medians
over the timed passes) and peak process-tree RSS. ``--trace 1`` instead
runs a traced session (Spark event log on, spans around every layer
call) and reports the per-layer metrics. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. Everything the run writes stays under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from time import perf_counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3                # set-ups per run; setup_s is their median


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def end_to_end(wl, seconds: float) -> tuple[dict, int, int]:
    from procfs import MemSampler
    setups = [wl.setup() for _ in range(SETUPS)]
    t = perf_counter()
    wl.reference()
    log(f"set-ups {[round(s, 2) for s in setups]} s, "
        f"reference {perf_counter() - t:.2f} s")
    walls, cpus, attempted, failed = [], [], 0, 0
    with MemSampler() as mem:
        deadline = time.monotonic() + seconds
        while time.monotonic() < deadline:
            attempted += 1
            try:
                wall, cpu, bad = wl.checked_pass()
            except Exception:                  # a failed pass is counted
                traceback.print_exc()
                bad = "raised"
            if bad:
                failed += 1
                log(f"pass {attempted} failed: {bad}")
            else:
                walls.append(wall)
                cpus.append(cpu)
    wl.cleanup()
    log(f"passes {[round(w, 2) for w in walls]} s")
    kdocs = wl.n_docs / 1000
    metrics = {"setup_s": statistics.median(setups),
               "peak_pss_mb": mem.peak / 2**20}
    if walls:
        metrics["docs_per_s"] = wl.n_docs / statistics.median(walls)
        metrics["cpu_s_per_kdoc"] = statistics.median(cpus) / kdocs
    return metrics, attempted, failed


def run_one(args) -> int:
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import nobletools_spark
    if os.path.dirname(os.path.dirname(nobletools_spark.__file__)) != ROOT:
        raise SystemExit(f"nobletools_spark is not in {ROOT}")

    from engine import Engine
    from workloads import WORKLOADS, Tracer

    work_root = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work_root, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    engine = Engine(run_dir)
    wl = WORKLOADS[args.workload](engine, work_root, run_dir, args.seed)
    tracer = Tracer(f"{args.workload}-seed{args.seed}-{os.getpid()}")
    try:
        t = perf_counter()
        wl.make_input()
        wl.prepare()
        log(f"input and reference {perf_counter() - t:.2f} s")
        if args.trace:
            metrics, attempted, failed = wl.trace(tracer)
        else:
            metrics, attempted, failed = end_to_end(wl, args.seconds)
    finally:
        t = perf_counter()
        engine.close()
        log(f"close {perf_counter() - t:.2f} s")
        if args.trace:
            tracer.dump(os.path.join(work_root,
                                     f"spans-{tracer.run_id}.json"))
        shutil.rmtree(run_dir, ignore_errors=True)

    wanted = spec()["per_layer" if args.trace else "end_to_end"]
    out = {}
    for m in wanted:
        # a layer the workload does not exercise reports 0
        value = float(metrics.get(m["name"], 0.0))
        out[m["name"]] = {"value": value, "unit": m["unit"]}
        print(f"{m['name']:32s} {value:14.4f} {m['unit']}")
    print(f"{'failed_frac':32s} {failed / attempted:14.4f} ratio")
    print(json.dumps({"correct": failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


def run_all(args) -> int:
    """Every workload in its own process; a summary per workload."""
    results = {}
    for w in spec()["workloads"]:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload",
               w["name"], "--seed", str(args.seed), "--seconds",
               str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr)
            return proc.returncode
        results[w["name"]] = json.loads(proc.stdout.strip().splitlines()[-1])
    for name, r in results.items():
        print(f"== {name}  failed_frac "
              f"{r['failed'] / r['attempted']:.4f} "
              f"({r['failed']}/{r['attempted']})")
        for m, v in r["metrics"].items():
            print(f"   {m:32s} {v['value']:14.4f} {v['unit']}")
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{n}.{m}": v for n, r in results.items()
                    for m, v in r["metrics"].items()}}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    help="a workload name from BENCHMARK.json, or 'all'")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float,
                    help="timed-loop length (default: run_seconds)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds is None:
        args.seconds = spec()["run_seconds"]
    names = [w["name"] for w in spec()["workloads"]]
    if args.workload == "all":
        return run_all(args)
    if args.workload not in names:
        ap.error(f"unknown workload {args.workload!r}; choose from {names}")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
