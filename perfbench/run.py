#!/usr/bin/env python3
"""The repository benchmark: one seeded workload, measured end to end (or,
with --trace 1, layer by layer), with its correctness checks.

    python3 perfbench/run.py --workload doc_store --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine from source on first use
(see build.py), runs the workload in one JVM at local[nproc], checks its
outputs, and prints one JSON line last:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
The full run artifact (every figure, the machine stamp and, when traced,
the span file) is kept under .bench_build/perfbench/artifacts/.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("wire_ingest", "doc_store", "fold_suite")
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def units():
    """Metric name -> unit for end-to-end and per-layer metrics."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def oracle_check(work):
    """fold_suite: the repo's DuckDB oracle over the Verify-layout dump."""
    dump = os.path.join(work, "fold_suite", "verify")
    data = os.path.join(work, "fold_suite", "data")
    r = subprocess.run([sys.executable, os.path.join(build.ROOT, "scripts", "check_correctness.py"),
                        dump, data], capture_output=True, text=True, timeout=120, cwd=work)
    m = re.search(r"(\d+) pass, (\d+) fail", r.stdout)
    if r.returncode != 0 or not m or int(m.group(2)) != 0 or int(m.group(1)) == 0:
        return [f"oracle: {line}" for line in r.stdout.splitlines() if line.startswith("FAIL")] \
            or [f"oracle check failed: {r.stdout[-300:]} {r.stderr[-300:]}"]
    return []


def run_jvm(cmd, work, out, workload):
    """Run the workload's JVM to completion; its result file, parsed."""
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: {workload} did not finish within {JVM_TIMEOUT_S} s")
    if rc != 0 or not os.path.exists(out):
        sys.exit(f"perfbench: {workload} exited with {rc}")
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    e2e_units, layer_units = units()
    build.build()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(build.OUT, "work", f"{tag}-{os.getpid()}")
    arts = os.path.join(build.OUT, "artifacts")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(arts, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dderby.system.home=" + work,
            "-Dlog4j2.configurationFile=" + os.path.join(build.ROOT, "perfbench", "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--out", out])
    try:
        res = run_jvm(cmd, work, out, a.workload)
        problems = list(res["problems"])
        if a.workload == "fold_suite":
            problems += oracle_check(work)
        failed = res["failed"] + (len(problems) - len(res["problems"]))
        attempted = max(1, res["attempted"])
        with open(os.path.join(arts, tag + ".json"), "w") as fh:
            json.dump(dict(res, problems=problems, failed=failed,
                           failed_ratio=failed / attempted), fh, indent=1, sort_keys=True)
        if os.path.exists(out + ".spans.json"):
            shutil.move(out + ".spans.json", os.path.join(arts, tag + ".spans.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.trace:
        layer = dict(res["per_layer"], failed_ratio=failed / attempted)
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u}
                   for n, u in layer_units.items()}
    else:
        metrics = {n: {"value": float(res["end_to_end"][n]), "unit": u}
                   for n, u in e2e_units.items()}
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
