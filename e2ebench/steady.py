#!/usr/bin/env python3
"""Steadiness mode: run one workload several times, each with another seed,
and print every metric's median, quartiles and spread (IQR / median),
plus each run's scheduler floor and wall time.

    python3 e2ebench/steady.py --workload W [--runs 10] [--first-seed 1]
        [--seconds S] [--trace 0|1]

`--seconds` defaults to `run_seconds` of BENCHMARK.json. Quartiles are
Python's `statistics.quantiles(values, n=4)`. The per-run results are
also appended to e2ebench/work/steady-<workload>.jsonl. A spread above a
third of the metric's bound is flagged.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def one_run(workload, seed, seconds, trace):
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True)
    lines = proc.stdout.strip().splitlines()
    context = next((ln for ln in lines if ln.startswith("# context")), "")
    floor = context.split("sched_floor_s=")[1].split()[0] if "sched_floor_s=" in context else "?"
    return json.loads(lines[-1]), floor, context, time.time() - t0


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description="Repeat one workload and report metric spreads.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    log = BENCH / "work" / f"steady-{a.workload}.jsonl"
    log.parent.mkdir(parents=True, exist_ok=True)

    values = {}
    for i in range(a.runs):
        seed = a.first_seed + i
        res, floor, context, wall = one_run(a.workload, seed, a.seconds, a.trace)
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "sched_floor_s": floor, "context": context,
                                "wall_s": wall, **res}) + "\n")
        shown = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                         if k in bounds)
        print(f"run {i + 1} seed={seed} correct={res['correct']} failed={res['failed']}/"
              f"{res['attempted']} sched_floor_s={floor} wall_s={wall:.1f} {shown}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])

    print(f"\n{a.workload}: {a.runs} runs, seeds {a.first_seed}..{a.first_seed + a.runs - 1}")
    print(f"{'metric':32} {'median':>12} {'q1':>12} {'q3':>12} {'iqr/med':>8} {'bound':>6}")
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(k)
        flag = " <-- above bound/3" if bound and spread > bound / 3 else ""
        print(f"{k:32} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f} "
              f"{bound if bound is not None else '':>6}{flag}")


if __name__ == "__main__":
    main()
