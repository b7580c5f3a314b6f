#!/usr/bin/env python3
"""Record the traced-run artifact later changes compare against.

    python3 benchmark/record_baseline.py --seed N [--runs R] [--out FILE]

For each workload of BENCHMARK.json, runs the benchmark untraced and
traced R times each, alternating, on the same seed. Writes every
per-layer metric of the traced runs (median over runs) and the tracing
overhead: the traced median of op_p50_ms and ops_per_s against the
untraced median.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        check=True)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        sys.exit(f"{workload} seed {seed} trace {trace}: outputs did not check out")
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", default=os.path.join(BENCH, "baseline", "seed_commit.json"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = spec["run_seconds"]
    report = {"seed": a.seed, "runs": a.runs, "seconds": seconds,
              "cores": os.cpu_count(), "workloads": {}}
    for w in (x["name"] for x in spec["workloads"]):
        plain, traced = [], []
        for _ in range(a.runs):
            plain.append(run(w, a.seed, seconds, 0)["metrics"])
            traced.append(run(w, a.seed, seconds, 1)["metrics"])
        layers = {k: {"value": statistics.median(m[k]["value"] for m in traced),
                      "unit": traced[0][k]["unit"]} for k in traced[0]}
        untraced = {k: statistics.median(m[k]["value"] for m in plain)
                    for k in ("op_p50_ms", "ops_per_s")}
        overhead = {
            "op_p50_ms": {"untraced": untraced["op_p50_ms"],
                          "traced": layers["traced.op_p50_ms"]["value"]},
            "ops_per_s": {"untraced": untraced["ops_per_s"],
                          "traced": layers["traced.ops_per_s"]["value"]},
        }
        for v in overhead.values():
            v["traced_over_untraced"] = v["traced"] / v["untraced"]
        report["workloads"][w] = {"tracing_overhead": overhead,
                                  "per_layer": layers}
        print(f"{w}: op_p50_ms traced/untraced "
              f"{overhead['op_p50_ms']['traced_over_untraced']:.3f}", flush=True)
    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    with open(a.out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
