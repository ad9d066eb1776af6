#!/usr/bin/env python3
"""Steadiness and tracing-overhead report for the benchmark.

Usage (from the repository root):

    python3 perfbench/report.py --workload serve --seeds 1-10 [--trace 0|1|both]

Runs `perfbench/run.py` once per seed, one run at a time, with the run
length from BENCHMARK.json, and prints for every metric its median, its
quartiles and its spread: the distance between the quartiles over the
median, as `statistics.quantiles(values, n=4)` gives them. With
`--trace both` every seed runs untraced and then traced, and the
tracing overhead is the traced cycle time (`bench.cycle_s`) over the
untraced one (`cycle_s`), seed by seed; its median is reported.

The last line of standard output is the whole report as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", trace],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"seed {seed} trace {trace} failed: {p.stderr.strip()[-500:]}")
    return json.loads(lines[-1])


def summary(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="a seed or a range, e.g. 1-10")
    ap.add_argument("--trace", default="0", choices=("0", "1", "both"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]

    traces = ["0", "1"] if a.trace == "both" else [a.trace]
    values = {t: {} for t in traces}
    runs = failed = 0
    for seed in seeds_of(a.seeds):
        for t in traces:
            r = run(a.workload, seed, seconds, t)
            runs += 1
            failed += 0 if r["correct"] else 1
            for k, m in r["metrics"].items():
                values[t].setdefault(k, []).append(m["value"])
            print(f"seed {seed} trace {t} correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']}", flush=True)

    report = {"workload": a.workload, "seeds": a.seeds, "run_seconds": seconds,
              "runs": runs, "incorrect_runs": failed, "metrics": {}}
    for t in traces:
        for k, v in values[t].items():
            report["metrics"][k] = s = summary(v)
            if t == "0" or not k.endswith(("_bytes", "_tasks", ".jobs")):
                print(f"{k:48s} median {s['median']:12.4f}  q1 {s['q1']:12.4f}  "
                      f"q3 {s['q3']:12.4f}  spread {s['spread']:.3f}")
    if a.trace == "both":
        ratios = [tr / un for tr, un in zip(values["1"]["bench.cycle_s"],
                                           values["0"]["cycle_s"])]
        report["tracing_overhead"] = summary([r - 1 for r in ratios])
        print(f"tracing overhead on cycle_s: median "
              f"{report['tracing_overhead']['median']:+.3f} over {len(ratios)} seeds")
    print(json.dumps(report))


if __name__ == "__main__":
    main()
