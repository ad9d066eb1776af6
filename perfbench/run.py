#!/usr/bin/env python3
"""Run one benchmark workload against graft and print its result.

Usage (from the repository root):

    python3 perfbench/run.py --workload collect|curate|serve \
        --seed N --seconds S --trace 0|1

The first run in a checkout builds graft and the benchmark with sbt
(offline) and caches the classpath under `.bench_build/`; later runs
start the JVM directly. All inputs are generated from the seed inside a
fresh directory under `.bench_build/`, which is removed afterwards.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
TRAINED = os.path.join(BUILD, "trained.txt")
WORKLOADS = ("collect", "serve")
HEAP = "3g"
# the first run in a checkout builds, trains and runs within 900 s
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 360
TRAIN_TIMEOUT_S = 300

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the same list as the root build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, to know when to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def build():
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no {need} at the repository root: nothing to build")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return cp_file
    for stale in (cp_file, ARCHIVE, TRAINED):
        if os.path.exists(stale):
            os.remove(stale)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    # keep sbt's scratch files (server sockets, temp jars) in the checkout
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += (f" -Djava.io.tmpdir={tmp} -Dsbt.server.autostart=false"
                        " -XX:-UsePerfData")
    log = os.path.join(BUILD, "build.log")
    with open(log, "wb") as fh:
        try:
            rc, _ = run_bounded(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=fh,
                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            die(f"build timed out; see {log}")
    if rc != 0 or not os.path.exists(cp_file):
        die(f"build failed (exit {rc}); see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return cp_file


def run_jvm(classpath, name, args, timeout, jvm_flags=()):
    """Run perfbench.Main in a fresh work directory; return (rc, stdout),
    with rc None if it ran out of time."""
    work = os.path.join(BUILD, f"work-{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{HEAP}", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + list(jvm_flags)
           + ["-cp", classpath, "perfbench.Main", "--work", work,
              "--cpus", str(len(os.sched_getaffinity(0)))] + list(args))
    log = os.path.join(BUILD, f"{name}.log")
    try:
        with open(log, "wb") as err:
            return run_bounded(cmd, timeout, cwd=work, stdout=subprocess.PIPE,
                               stderr=err, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        return None, b""
    finally:
        shutil.rmtree(work, ignore_errors=True)


def class_archive(classpath):
    """JVM flags that load the benchmark's classes from a shared archive.

    Spark loads many thousands of classes; parsing and verifying them
    costs seconds in every fresh JVM. One short training pass over all
    workloads, right after a build, dumps the loaded classes; every run
    then maps them instead. Without an archive runs still work, only
    slower to start, so a failed pass is not retried before the next build.
    """
    if not os.path.exists(TRAINED):
        rc, _ = run_jvm(classpath, "train", ["--workload", "train", "--seed", "1",
                                             "--seconds", "1", "--trace", "0"],
                        TRAIN_TIMEOUT_S, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
        if rc != 0 and os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
        with open(TRAINED, "w") as f:
            f.write(f"{rc}\n")
    return [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    with open(build()) as f:
        classpath = f.read().strip()
    flags = class_archive(classpath)
    name = f"{a.workload}-{a.seed}-{a.trace}"
    rc, out = run_jvm(classpath, name,
                      ["--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", a.trace],
                      RUN_TIMEOUT_S, flags)
    log = os.path.join(BUILD, f"{name}.log")
    lines = out.decode("utf-8", "replace").strip().splitlines()
    if rc is None:
        die(f"{name} exceeded {RUN_TIMEOUT_S} s; see {log}")
    if rc != 0 or not lines:
        die(f"benchmark JVM exited {rc}; see {log}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        die(f"malformed result line: {lines[-1]}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
