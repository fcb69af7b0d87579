#!/usr/bin/env python3
"""Measure the baseline of the current checkout and write BASELINE.json.

    python3 perfbench/baseline.py [--runs 10] [--first-seed 1] [--seconds 10]
                                  [--workloads <name> ...]

For each workload: `--runs` untraced runs, each with its own seed, and
one traced run. Records the median and quartiles of every end-to-end
metric, failed_frac with the failing queries by name, the traced run's
per-layer table, and the tracing overhead (traced cold_s/warm_s minus
the untraced medians). With --workloads, only those entries of an
existing BASELINE.json are measured again.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import workloads  # noqa: E402


def run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, check=True)
    result = json.loads(r.stdout.decode().strip().splitlines()[-1])
    with open(os.path.join(BENCH, ".work", "reports",
                           f"{workload}-seed{seed}-trace{trace}.json")) as f:
        return result, json.load(f)


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3, "iqr_over_median": (q3 - q1) / q2,
            "runs": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--workloads", nargs="+", choices=list(workloads.WORKLOADS),
                    default=list(workloads.WORKLOADS))
    args = ap.parse_args()
    path = os.path.join(BENCH, "BASELINE.json")
    out = {"runs_per_workload": args.runs, "seconds": args.seconds, "workloads": {}}
    if os.path.exists(path):
        with open(path) as f:
            out["workloads"] = json.load(f)["workloads"]
    for w in args.workloads:
        values, failures, attempted, failed = {}, {}, 0, 0
        for seed in range(args.first_seed, args.first_seed + args.runs):
            result, report = run(w, seed, args.seconds, 0)
            attempted += result["attempted"]
            failed += result["failed"]
            failures.update(report["failures"])
            for k, m in result["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(w, seed, {k: round(m["value"], 3) for k, m in result["metrics"].items()},
                  file=sys.stderr, flush=True)
        e2e = {k: summary(v) for k, v in values.items()}
        traced, report = run(w, args.first_seed, args.seconds, 1)
        layers = {k: m["value"] for k, m in traced["metrics"].items()}
        out["workloads"][w] = {
            "queries": {q: {"module": m, "action": a} for q, m, a in workloads.WORKLOADS[w]},
            "end_to_end": e2e,
            "failed_frac": failed / max(attempted, 1),
            "failures": failures,
            "per_layer": layers,
            "tracing_overhead_s": {
                "cold_s": layers["trace.cold_s"] - e2e["cold_s"]["median"],
                "warm_s": layers["trace.warm_s"] - e2e["warm_s"]["median"]},
            "traced_self_time_s": report["self_time_s"],
            "host": report["host"],
        }
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
