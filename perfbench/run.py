#!/usr/bin/env python3
"""Fixed-work benchmark of the graft engine.

    python3 perfbench/run.py --workload <stream-gaming|pipelines> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark (cached, see build.py), generates the
workload's inputs from the seed under `.bench_build/perfbench/`, runs the
workload in one JVM with a fixed environment, checks the outputs, and
prints one JSON line: `correct`, `attempted`, `failed` and `metrics`.
Untraced runs report the end-to-end metrics of BENCHMARK.json; traced
runs (`--trace 1`) report its per-layer metrics and write the spans to
`.bench_build/perfbench/trace/`. Every run does the same work whatever
`--seconds` says; the work of each workload is sized to about
BENCHMARK.json's `run_seconds` on a 4-core host.

Exits 0 when every check passes, 1 when a check fails or the run breaks,
2 when the program cannot be built.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import inputs  # noqa: E402

WORKLOADS = ("stream-gaming", "pipelines")
# Per-layer metrics a workload does not exercise, printed as 0. Any other
# declared metric the JVM did not report fails the run.
NOT_EXERCISED = {"stream-gaming": ("pipelines.",), "pipelines": ()}
# Counts that must be above 0, one per listener the workload feeds, so a
# listener that stopped firing fails the run instead of reading as 0.
LIVE = {"stream-gaming": ("exec.jobs", "plan.executions", "streaming.batches"),
        "pipelines": ("exec.jobs", "plan.executions")}
JVM_TIMEOUT_S = 165
BASE = os.path.join(ROOT, ".bench_build", "perfbench")
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def host_cpus():
    return len(os.sched_getaffinity(0))


def driver_mem():
    """The tier-1 SPARK_DRIVER_MEM rule: half the RAM in GiB, within 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def prepare(workload, seed, inp):
    """Generates the inputs; returns what the checks need."""
    os.makedirs(inp)
    if workload == "stream-gaming":
        return inputs.stream_gaming(seed, inp)
    os.symlink(os.path.join(HERE, "fixtures", "sf0.01"), os.path.join(inp, "sf0.01"))
    inputs.pipelines(seed, inp)
    return None


def run_jvm(classes, workload, inp, work, trace):
    jars = build.spark_jars()
    mem = driver_mem()
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_MASTER", "SPARK_GRAFT_CONF", "SPARK_GRAFT_CHECKPOINT_DIR")}
    env.update(SPARK_GRAFT_CPUS=str(host_cpus()), SPARK_DRIVER_MEM=mem,
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d))
    opens = [a for p in OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = ["java"] + opens + [
        f"-Xmx{mem}", "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-cp", f"{classes}:{os.path.join(jars, '*')}",
        "perfbench.Main", workload, inp, work, str(trace)]
    log = os.path.join(work, "jvm.log")
    launched = time.time()
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.isfile(result):
        with open(log, errors="replace") as f:
            tail = f.read()[-6000:]
        raise RuntimeError(f"benchmark JVM exited with {rc}; log tail:\n{tail}")
    with open(result) as f:
        return launched, json.load(f)


def layer_metrics(workload, spec, layers):
    """The declared per-layer metrics from the JVM's figures."""
    dead = [n for n in LIVE[workload] if not layers.get(n)]
    if dead:
        raise RuntimeError(f"no events counted for {dead}: a listener did not fire")
    metrics = {}
    for m in spec["per_layer"]:
        name = m["name"]
        if name in layers:
            value = layers[name]
        elif name.startswith(NOT_EXERCISED[workload]):
            value = 0
        else:
            raise RuntimeError(f"per-layer metric {name} was not measured")
        metrics[name] = {"value": value, "unit": m["unit"]}
    return metrics


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a terminated run still stops its JVM and deletes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        classes = build.ensure()
    except (OSError, ValueError, build.BuildError) as e:
        print(f"perfbench: cannot build: {e}", file=sys.stderr)
        return 2
    work = os.path.join(BASE, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inp = os.path.join(work, "in")
    try:
        events = prepare(a.workload, a.seed, inp)
        launched, res = run_jvm(classes, a.workload, inp, work, a.trace)
        out = os.path.join(work, "out")
        if a.workload == "stream-gaming":
            problems = checks.check_stream_gaming(out, events, res["extra"])
        else:
            problems = checks.check_pipelines(inp, out)
        problems += res["failures"]
        ops = res["op_ms"]
        if a.trace:
            spans = os.path.join(work, "spans.jsonl")
            os.makedirs(os.path.join(BASE, "trace"), exist_ok=True)
            shutil.move(spans, os.path.join(BASE, "trace", f"{a.workload}-seed{a.seed}.spans.jsonl"))
            metrics = layer_metrics(a.workload, spec, res["layers"])
        else:
            values = {"setup_s": res["first_op_ms"] / 1000.0 - launched,
                      "work_s": res["work_s"], "work_cpu_s": res["work_cpu_s"]}
            metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
    except Exception as e:  # a broken run prints no result
        print(f"perfbench: {a.workload} seed {a.seed}: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps({"correct": not problems, "attempted": len(ops),
                      "failed": len(res["failures"]), "metrics": metrics}))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
