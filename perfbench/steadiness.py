#!/usr/bin/env python3
"""Steadiness check of the benchmark: run every workload once per seed and
report, per candidate end-to-end figure, the median, the quartiles and the
spread (interquartile distance over the median), overall and for each half
of the seeds (two sets of runs of the same code).

    python3 perfbench/steadiness.py --seeds 1-10 --out perfbench/evidence/steadiness.json

A figure "repeats within a tenth" on a workload when the two sets' medians
differ by at most a tenth of the first set's median and its spread over all
runs is at most half the largest bound the benchmark may set (0.25). Only a
figure that repeats on every workload is gated end to end; setup_s is gated
whatever it reads, because every benchmark must gate its set-up time.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARTIFACTS = os.path.join(ROOT, ".bench_build", "perfbench", "artifacts")
# every workload-generic figure a run measures: the gated ones and the two
# kept per-layer for not repeating
CANDIDATES = ("setup_s", "op_p50_ms", "op_mean_ms", "rows_per_s", "peak_rss_mb")
MAX_BOUND = 0.25


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def figures(workload, seed):
    """Every candidate figure of a run, from the run's artifact."""
    with open(os.path.join(ARTIFACTS, f"{workload}-seed{seed}-trace0.json")) as fh:
        art = json.load(fh)
    both = dict(art["per_layer"], **art["end_to_end"])
    return {m: both[m] for m in CANDIDATES}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seeds = seeds_of(a.seeds)
    report = {"run_seconds": spec["run_seconds"], "seeds": seeds, "workloads": {},
              "criterion": "sets' medians within 0.1 of the first, and spread <= "
                           f"{MAX_BOUND / 2} over all runs"}
    for w in (x["name"] for x in spec["workloads"]):
        runs = []
        for s in seeds:
            t0 = time.time()
            r = subprocess.run([sys.executable, os.path.join(ROOT, spec["command"][1]),
                                "--workload", w, "--seed", str(s),
                                "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                               capture_output=True, text=True, cwd=ROOT)
            line = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
            res = json.loads(line) if line.startswith("{") else None
            if r.returncode != 0 or not res or not res["correct"]:
                sys.exit(f"{w} seed {s} failed: {r.stderr[-2000:]}")
            run = {"seed": s, "wall_s": time.time() - t0, "metrics": figures(w, s)}
            runs.append(run)
            print(w, s, f"{run['wall_s']:.1f} s", run["metrics"], file=sys.stderr, flush=True)
        half = len(runs) // 2
        metrics = {}
        for m in CANDIDATES:
            vals = [r["metrics"][m] for r in runs]
            s1, s2 = summary(vals[:half]), summary(vals[half:])
            st = {"bound": bounds.get(m), "all": summary(vals), "set1": s1, "set2": s2}
            st["repeats"] = (abs(s2["median"] - s1["median"]) <= 0.1 * s1["median"]
                             and st["all"]["spread"] <= MAX_BOUND / 2)
            metrics[m] = st
        report["workloads"][w] = {"runs": runs, "metrics": metrics,
                                  "wall_s_total": sum(r["wall_s"] for r in runs)}
        for m, s in metrics.items():
            print(f"  {w} {m}: median {s['all']['median']:.4g} spread {s['all']['spread']:.3f} "
                  f"(bound {s['bound']}) set1 {s['set1']['median']:.4g} "
                  f"set2 {s['set2']['median']:.4g} repeats {s['repeats']}",
                  file=sys.stderr, flush=True)
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
