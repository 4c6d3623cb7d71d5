"""Repeat a workload with fresh seeds and report each metric's spread.

    python3 perfbench/repeat.py --workload catalog --runs 10 [--seed0 100]
                                [--traced 1] [--out runs.json]

Runs perfbench/run.py once per seed (seed0, seed0+1, ...), each in its own
process, then prints for every end-to-end metric the median, the quartiles
and the spread (q3 - q1) / median next to the metric's bound in
BENCHMARK.json. With --traced N it also makes N traced runs and reports
the tracing overhead: the traced run's median operation time over the
untraced one, minus one. Run it from the repository root.
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
ROOT = os.path.dirname(HERE)


def spread(values):
    """(median, q1, q3, (q3 - q1) / median) with the quartiles as
    statistics.quantiles(values, n=4) gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{cmd} exited {p.returncode}: {p.stderr[-2000:]}")
    record = json.loads(lines[-2])
    record["wall_s"] = time.monotonic() - t0
    return record, json.loads(lines[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    runs = []
    for i in range(args.runs):
        seed = args.seed0 + i
        record, result = run_once(args.workload, seed, bench["run_seconds"], 0)
        runs.append({"seed": seed, "record": record, "result": result})
        print(f"seed {seed} ({record['wall_s']:.0f} s): "
              f"correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
    traced = []
    for i in range(args.traced):
        seed = args.seed0 + i
        record, result = run_once(args.workload, seed, bench["run_seconds"], 1)
        traced.append({"seed": seed, "record": record, "result": result})

    summary = {}
    print(f"\n{args.workload}: {args.runs} runs")
    print(f"{'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}"
          f"{'bound':>8}  ok")
    for name in bounds:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        med, q1, q3, sp = spread(vals)
        ok = "yes" if sp <= bounds[name] / 3 else (
            "within bound" if sp <= bounds[name] else "NO")
        summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": sp,
                         "bound": bounds[name], "values": vals}
        print(f"{name:<14}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{sp:>9.3f}"
              f"{bounds[name]:>8.2f}  {ok}")
    if traced:
        t_med = statistics.median(
            r["result"]["metrics"]["trace.op_s_p50"]["value"] for r in traced)
        base = summary["op_s_p50"]["median"]
        summary["trace_overhead"] = t_med / base - 1
        print(f"tracing overhead on op_s_p50: {100 * (t_med / base - 1):+.1f}% "
              f"({len(traced)} traced runs)")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "runs": runs,
                       "traced": traced, "summary": summary}, f, indent=1)
    return 0 if all(r["result"]["correct"] for r in runs + traced) else 1


if __name__ == "__main__":
    sys.exit(main())
