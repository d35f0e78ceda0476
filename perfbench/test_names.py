#!/usr/bin/env python3
"""Checks BENCHMARK.json against the benchmark contract, and checks result
lines printed by run.py: every metric name matches [A-Za-z0-9_.-]+ and is
declared in BENCHMARK.json with the unit it is printed with.

    python3 perfbench/test_names.py                    # the declarations only
    python3 perfbench/run.py --workload pipelines --seed 1 --seconds 20 --trace 1 \
        > traced.txt; python3 perfbench/test_names.py traced.txt
"""
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def check_spec(spec):
    problems = []
    if set(spec) != {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}:
        problems.append(f"top-level keys {sorted(spec)}")
    names = []
    for w in spec["workloads"]:
        if set(w) != {"name", "why"} or len(w["why"]) > 200 or "\n" in w["why"]:
            problems.append(f"workload {w}")
        names.append(w["name"])
    for group, keys in (("end_to_end", {"name", "unit", "better", "bound"}),
                        ("per_layer", {"name", "unit", "better"})):
        for m in spec[group]:
            if set(m) != keys or not UNIT.fullmatch(m["unit"]) or m["better"] not in ("lower", "higher"):
                problems.append(f"{group} metric {m}")
            if group == "end_to_end" and not 0 < m["bound"] <= 0.25:
                problems.append(f"bound of {m['name']}")
            names.append(m["name"])
    problems += [f"bad name {n}" for n in names if not NAME.fullmatch(n)]
    problems += [f"name used twice: {n}" for n in set(names) if names.count(n) > 1]
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    if not setup or setup[0]["unit"] != "s" or setup[0]["better"] != "lower":
        problems.append("setup_s missing or not in s, lower-is-better")
    if not 2 <= len(spec["workloads"]) <= 8 or not 1 <= len(spec["end_to_end"]) <= 16:
        problems.append("workload or end-to-end metric count")
    return problems


def check_line(spec, line):
    d = json.loads(line)
    problems = []
    if set(d) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(d)}")
    declared = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    groups = [{m["name"] for m in spec[g]} for g in ("end_to_end", "per_layer")]
    if set(d["metrics"]) not in groups:
        problems.append("metrics are neither every end-to-end nor every per-layer metric")
    for name, v in d["metrics"].items():
        if not NAME.fullmatch(name):
            problems.append(f"bad name {name}")
        elif declared.get(name) != v.get("unit"):
            problems.append(f"{name}: unit {v.get('unit')}, declared {declared.get(name)}")
        if not isinstance(v.get("value"), (int, float)):
            problems.append(f"{name}: value {v.get('value')}")
    return problems


def main(paths):
    spec = load_spec()
    problems = check_spec(spec)
    for p in paths:
        with open(p) as f:
            lines = [line for line in f if line.startswith("{")]
        if not lines:
            problems.append(f"{p}: no result line")
        for line in lines:
            problems += [f"{p}: {x}" for x in check_line(spec, line)]
    for x in problems:
        print("FAIL", x)
    print("ok" if not problems else f"{len(problems)} problems")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
