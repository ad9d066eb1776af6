#!/usr/bin/env python3
"""Interleaved A/B of the perfbench workloads: a base revision against the
working tree.

Usage (from anywhere inside the repository):

    python3 tools/perfbench_ab.py --base REV --workload serve|collect \
        --pairs 10 --seed0 201 [--trace 0|1] [--seconds S] \
        [--work DIR] [--out FILE]

Exports REV with `git archive` into `<work>/base` (an export, not a
`git worktree`: it registers nothing in the repository) and copies the
working tree (tracked and untracked, non-ignored files) into
`<work>/change`, so edits made while the A/B runs do not leak into it.
Both are made afresh on every invocation. Each side is built once up
front by `perfbench/run.py`'s own build and class-archive steps, then
the tool runs `--pairs` pairs of runs through each side's own
`perfbench/report.py` `run`, pair i on seed `seed0 + i`, alternating
which side runs first, one run at a time. `--seconds` defaults to
BENCHMARK.json's `run_seconds`; REV must carry `perfbench/`.

For every metric it prints each side's `report.summary` (median and
quartiles), the change/base median ratio, how many pairs the change won
(direction from BENCHMARK.json, ties count for neither) and whether the
median gap exceeds the base's interquartile range. Every run's
correctness and failed-operation count is reported too. The last line
of standard output is the whole report as JSON; `--out` also writes it
to a file.
"""
import argparse
import importlib.util
import json
import os
import shutil
import subprocess
import sys

ROOT = subprocess.run(["git", "rev-parse", "--show-toplevel"], check=True,
                      capture_output=True, text=True,
                      cwd=os.path.dirname(os.path.abspath(__file__))).stdout.strip()


def git(*args, **kw):
    return subprocess.run(["git", "-C", ROOT, *args], check=True, capture_output=True, **kw)


def export_base(rev, dest):
    sha = git("rev-parse", rev, text=True).stdout.strip()
    os.makedirs(dest)
    subprocess.run(["tar", "-x", "-C", dest], input=git("archive", sha).stdout, check=True)
    return sha


def snapshot_worktree(dest):
    names = git("ls-files", "-z", "--cached", "--others", "--exclude-standard",
                text=True).stdout.split("\0")
    for rel in names:
        if rel and os.path.isfile(os.path.join(ROOT, rel)):
            os.makedirs(os.path.dirname(os.path.join(dest, rel)), exist_ok=True)
            shutil.copy2(os.path.join(ROOT, rel), os.path.join(dest, rel))


def report_module(checkout, side):
    """The checkout's own `perfbench/report.py`: its `run` runs that
    checkout's `perfbench/run.py` from that checkout's root."""
    spec = importlib.util.spec_from_file_location(
        f"report_{side}", os.path.join(checkout, "perfbench", "report.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def prepare(checkout):
    """Build once, outside the timed runs."""
    subprocess.run(
        [sys.executable, "-c",
         "import sys; sys.path.insert(0, 'perfbench'); import run; "
         "run.class_archive(open(run.build()).read().strip())"],
        cwd=checkout, check=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="git revision of the base side")
    ap.add_argument("--workload", required=True, choices=("collect", "serve"))
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=201)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--work", default=os.path.join(ROOT, ".bench_ab"))
    ap.add_argument("--out")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}

    sides = {"base": os.path.join(a.work, "base"), "change": os.path.join(a.work, "change")}
    for path in sides.values():
        shutil.rmtree(path, ignore_errors=True)
    sha = export_base(a.base, sides["base"])
    snapshot_worktree(sides["change"])
    reports = {}
    for side, path in sides.items():
        prepare(path)
        reports[side] = report_module(path, side)

    runs = {"base": [], "change": []}
    for i in range(a.pairs):
        seed = a.seed0 + i
        for side in ("base", "change") if i % 2 == 0 else ("change", "base"):
            r = reports[side].run(a.workload, seed, seconds, a.trace)
            runs[side].append(r)
            print(f"pair {i + 1}/{a.pairs} seed {seed} {side}: correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']}", flush=True)

    summary = reports["change"].summary
    metrics = {}
    for name in sorted(runs["base"][0]["metrics"]):
        b = [r["metrics"][name]["value"] for r in runs["base"]]
        c = [r["metrics"][name]["value"] for r in runs["change"]]
        lower = better.get(name, "lower") == "lower"
        wins = sum(1 for x, y in zip(b, c) if (y < x if lower else y > x))
        bs, cs = summary(b), summary(c)
        gap = abs(cs["median"] - bs["median"]) > bs["q3"] - bs["q1"]
        ratio = cs["median"] / bs["median"] if bs["median"] else None
        metrics[name] = {"base": bs, "change": cs, "ratio": ratio,
                         "change_wins": wins, "pairs": len(b),
                         "gap_exceeds_base_iqr": gap,
                         "base_values": b, "change_values": c}
        print(f"{name:48s} base {bs['median']:12.4f} ({bs['q1']:.4f}/{bs['q3']:.4f})  "
              f"change {cs['median']:12.4f} ({cs['q1']:.4f}/{cs['q3']:.4f})  ratio "
              f"{'      -' if ratio is None else f'{ratio:7.3f}'}  "
              f"wins {wins}/{len(b)}{'  >IQR' if gap else ''}")

    report = {
        "workload": a.workload, "base": sha, "pairs": a.pairs,
        "seeds": f"{a.seed0}-{a.seed0 + a.pairs - 1}", "run_seconds": seconds,
        "trace": a.trace,
        "correct": {s: all(r["correct"] for r in rs) for s, rs in runs.items()},
        "failed": {s: sum(r["failed"] for r in rs) for s, rs in runs.items()},
        "metrics": metrics}
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
