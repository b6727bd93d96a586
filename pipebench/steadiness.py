#!/usr/bin/env python3
"""Run every workload on several seeds and report each end-to-end
metric's median and spread (interquartile distance over the median,
quartiles as `statistics.quantiles(values, n=4)` gives them) next to
its bound from BENCHMARK.json.

    python3 pipebench/steadiness.py --runs 10 [--first-seed 1]
        [--workloads a,b] [--out pipebench/steadiness.json] [--trace-runs 1]

Runs one workload at a time, one run at a time. With --trace-runs n it
also makes n traced runs per workload, so the tracing overhead (traced
median over untraced median) can be reported.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload, seed, seconds, trace):
    t0 = time.time()
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds),
                          "--trace", str(trace)],
                         cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        sys.exit(f"{workload} seed {seed} failed:\n{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    result["unscaled"] = next((json.loads(l.split(" ", 1)[1]) for l in lines
                               if l.startswith("unscaled: ")), {})
    result["probe_ms"] = next((float(l.split()[3]) for l in lines
                               if l.startswith("host probe median: ")), None)
    result["wall_s"] = time.time() - t0
    return result


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--trace-runs", type=int, default=0)
    ap.add_argument("--out", default="")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for w in names:
        runs = [one_run(w, args.first_seed + i, bench["run_seconds"], 0)
                for i in range(args.runs)]
        traced = [one_run(w, args.first_seed + i, bench["run_seconds"], 1)
                  for i in range(args.trace_runs)]
        rec = {"seeds": [args.first_seed + i for i in range(args.runs)],
               "all_correct": all(r["correct"] and r["failed"] == 0 for r in runs + traced),
               "attempted": [r["attempted"] for r in runs],
               "probe_ms": [r["probe_ms"] for r in runs],
               "wall_s": [round(r["wall_s"], 1) for r in runs + traced],
               "metrics": {}}
        for m, bound in bounds.items():
            vals = [r["metrics"][m]["value"] for r in runs]
            raw = [r["unscaled"][m] for r in runs]
            rec["metrics"][m] = {"values": vals, "median": statistics.median(vals),
                                 "spread": spread(vals), "bound": bound,
                                 "unscaled": raw, "unscaled_spread": spread(raw)}
        if traced:
            t_p50 = statistics.median(r["metrics"]["trace.latency_p50_ms"]["value"] for r in traced)
            t_ops = statistics.median(r["metrics"]["trace.ops_per_s"]["value"] for r in traced)
            rec["tracing_overhead"] = {
                "latency_p50": t_p50 / rec["metrics"]["latency_p50_ms"]["median"] - 1,
                "ops_per_s": 1 - t_ops / rec["metrics"]["ops_per_s"]["median"]}
            rec["traced"] = [r["metrics"] for r in traced]
        record["workloads"][w] = rec
        print(f"== {w}: correct={rec['all_correct']} wall={rec['wall_s']}")
        for m, v in rec["metrics"].items():
            flag = "ok" if v["spread"] <= v["bound"] / 3 else (
                "WITHIN BOUND" if v["spread"] <= v["bound"] else "TOO NOISY")
            print(f"   {m:16s} median {v['median']:10.3f}  spread {v['spread']:.3f}  "
                  f"bound {v['bound']}  {flag}  (unscaled spread {v['unscaled_spread']:.3f})")
        if traced:
            print(f"   tracing overhead {rec['tracing_overhead']}")
        sys.stdout.flush()
    if args.out:
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
