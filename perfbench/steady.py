#!/usr/bin/env python3
"""Steadiness check: runs one workload k times, each with its own seed, and
prints for every metric its median, quartiles, the quartile spread as a
share of the median (the figure a metric's `bound` in BENCHMARK.json must
exceed) and the min/max spread.

    python3 perfbench/steady.py --workload stream-gaming --runs 5
    python3 perfbench/steady.py --workload pipelines --runs 3 --overhead

`--overhead` adds as many traced runs, whose counts (jobs, shuffle bytes,
batches, late drops) should show no spread, and reports the tracing
overhead: traced `trace.work_s` against untraced `work_s`, as medians.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed} exited {r.returncode}:\n{r.stderr[-3000:]}")
    return json.loads(lines[-1])


def summary(name, values, unit, bound=None):
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    spread = (q3 - q1) / med if med else 0.0
    flag = ""
    if bound is not None:
        flag = "ok" if spread <= bound / 3 else ("within bound" if spread <= bound else "TOO NOISY")
    print(f"{name:34s} {med:14.4f} {unit:6s} q1 {q1:12.4f} q3 {q3:12.4f} "
          f"iqr/med {spread:6.3f} min/max {min(values):.4f}/{max(values):.4f} {flag}")
    return med


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    seeds = range(1, a.runs + 1)
    traces = [0, 1] if a.overhead else [0]
    medians = {}
    for trace in traces:
        results = []
        for s in seeds:
            results.append(run(a.workload, s, spec["run_seconds"], trace))
            print(f"seed {s}: " + " ".join(f"{k}={v['value']:.4g}"
                                           for k, v in results[-1]["metrics"].items()), flush=True)
        bad = [r for r in results if not r["correct"] or r["failed"]]
        print(f"== {a.workload} trace={trace}: {len(results)} runs, {len(bad)} incorrect, "
              f"ops/run {results[0]['attempted']}")
        for name, m in results[0]["metrics"].items():
            values = [r["metrics"][name]["value"] for r in results]
            medians[name] = summary(name, values, m["unit"], bounds.get(name))
    if a.overhead:
        print(f"tracing overhead on work_s: {medians['trace.work_s'] / medians['work_s'] - 1:+.3f}")


if __name__ == "__main__":
    main()
