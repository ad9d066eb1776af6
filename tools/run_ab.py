#!/usr/bin/env python3
"""Interleaved same-window A/B bench of two git revisions.

Builds each revision in its own git worktree, then alternates full
Bench runs (warm + reset regimes) A,B,A,B,... in the same host window,
each launch settle-gated on the 1-min load average like the probes.
Per-query RESET walls are read from each run's BENCH_LOCAL.json
(written into a per-run temp cwd so the repo's committed capture is
never clobbered), and the artifact reports the per-query reset median
ratio over the queries both revisions share — ~1.0 means a movement
between two captures was the host window, not code. Each run's raw
totals, iteration walls and load stamps ride along; Bench reports no
load-normalized figures.

Usage: python3 tools/run_ab.py <revA> <revB> <labelA> <labelB> <out.json> [reps]

Dev tooling only; the engine never depends on this.
"""
import glob
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

REPO = "/root/repo"


def settle(max_wait=300.0, target=4.0):
    t0 = time.time()
    load = os.getloadavg()[0]
    while load > target and time.time() - t0 < max_wait:
        time.sleep(5)
        load = os.getloadavg()[0]
    return load


def build_worktree(rev, path):
    if not os.path.isdir(path):
        subprocess.run(["git", "-C", REPO, "worktree", "add", "--detach",
                        path, rev], check=True)
    subprocess.run(["sbt", "-batch", "compile"], cwd=path, check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)


def run_bench(classes_dir, cwd):
    """One full Bench run (warm + reset regimes) from `classes_dir`,
    with BENCH_LOCAL.json landing in `cwd`. Returns the parsed full
    JSON."""
    # the build compiles against /opt/spark/jars (unmanaged classpath),
    # so that scala-library IS the build's — prefer it over whatever
    # versions the coursier cache happens to hold, and fail with the
    # missing path named rather than an IndexError on an empty ls
    candidates = sorted(glob.glob("/opt/spark/jars/scala-library*.jar")) or \
        sorted(glob.glob(os.path.expanduser(
            "~/.cache/coursier/v1/https/repo1.maven.org/maven2/org/"
            "scala-lang/scala-library/2.13.*/scala-library-*.jar")))
    if not candidates:
        sys.exit("run_ab: no scala-library jar under /opt/spark/jars or the "
                 "coursier cache — cannot assemble the Bench classpath")
    scala_lib = candidates[-1]
    add_opens = []
    for p in ("java.lang java.lang.invoke java.lang.reflect java.io java.net "
              "java.nio java.util java.util.concurrent "
              "java.util.concurrent.atomic sun.nio.ch sun.nio.cs "
              "sun.security.action sun.util.calendar").split():
        add_opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.1")
    load0 = settle()
    print(f"   [launch at load {load0:.1f}]", flush=True)
    subprocess.run(
        ["java", *add_opens, "-Dspark.ui.enabled=false",
         "-Dspark.sql.session.timeZone=UTC", "-Xmx8g",
         "-cp", f"{classes_dir}:/opt/spark/jars/*:{scala_lib}",
         "graft.Bench"],
        cwd=cwd, env=env, check=True,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(os.path.join(cwd, "BENCH_LOCAL.json")) as f:
        return json.loads(f.read())


def reset_mins(full):
    """Per-query best reset wall from a full BENCH_LOCAL map (clean
    attempts only)."""
    out = {}
    for q, walls in full.get("query_iters_reset", {}).items():
        ok = [w for w in walls if w >= 0]
        if ok:
            out[q] = min(ok)
    return out


def main():
    rev_a, rev_b, lab_a, lab_b, out = sys.argv[1:6]
    reps = int(sys.argv[6]) if len(sys.argv) > 6 else 2
    wt_a = f"/tmp/ab_{lab_a}"
    wt_b = f"/tmp/ab_{lab_b}"
    print(f"== building {lab_a} ({rev_a}) and {lab_b} ({rev_b})", flush=True)
    build_worktree(rev_a, wt_a)
    build_worktree(rev_b, wt_b)

    runs = {}
    per_q = {lab_a: [], lab_b: []}
    for rep in range(1, reps + 1):
        for lab, wt in ((lab_a, wt_a), (lab_b, wt_b)):
            print(f"== {lab} rep {rep}", flush=True)
            with tempfile.TemporaryDirectory() as cwd:
                full = run_bench(f"{wt}/target/scala-2.13/classes", cwd)
            runs[f"{lab}_{rep}"] = {
                "value": full["value"], "value_reset": full["value_reset"],
                "iter_walls": full.get("iter_walls"),
                "reset_walls": full.get("reset_walls"),
                "load": full.get("load"),
            }
            per_q[lab].append(reset_mins(full))
            print(f"   warm {full['value']:.2f}s reset {full['value_reset']:.2f}s",
                  flush=True)

    # per-query reset median across reps, then B/A ratio on shared queries
    def med(entries):
        keys = set.intersection(*(set(e) for e in entries)) if entries else set()
        return {q: statistics.median(e[q] for e in entries) for q in keys}
    ma, mb = med(per_q[lab_a]), med(per_q[lab_b])
    shared = sorted(set(ma) & set(mb))
    ratios = {q: round(mb[q] / ma[q], 3) for q in shared if ma[q] > 0}
    med_ratio = round(statistics.median(ratios.values()), 3) if ratios else None
    worst = sorted(ratios.items(), key=lambda kv: -kv[1])[:10]

    artifact = {
        "metric": f"ab_{lab_a}_vs_{lab_b}",
        "revs": {lab_a: rev_a, lab_b: rev_b},
        "reps": reps,
        "regime": "warm+reset interleaved same-window, settle-gated",
        "per_query_reset_median_ratio": med_ratio,
        "n_shared_queries": len(shared),
        "only_in_" + lab_b: sorted(set(mb) - set(ma)),
        "worst_ratios": dict(worst),
        "runs": runs,
        "per_query_reset_medians": {lab_a: {q: round(v, 3) for q, v in ma.items()},
                                    lab_b: {q: round(v, 3) for q, v in mb.items()}},
    }
    with open(out, "w") as f:
        json.dump(artifact, f, indent=1)
    print(json.dumps({k: artifact[k] for k in
                      ("metric", "per_query_reset_median_ratio",
                       "n_shared_queries", "worst_ratios")}, indent=1))


if __name__ == "__main__":
    main()
