#!/usr/bin/env python3
"""graft's benchmark: one closed-loop workload, one seed, one result line.

    python3 perfbench/run.py --workload changefeed_merge --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds graft and
the harness with sbt (offline) into the build directory ($CARGO_TARGET_DIR,
default .bench_build); later runs reuse the build while the sources are
unchanged. The harness JVM drives graft's public functions on
local[N] (N = min(4, nproc)) from one client thread, checks every
output, and writes a run record that this script folds into metrics.

Output: the run's detail (every workload metric by name, with unit and
sample count, the environment, and any failed checks) as one JSON line,
then the result line the benchmark contract asks for, last:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
run measures an untraced and a traced window and reports the per-layer
metrics plus the tracing overhead. The exit code is 0 only when every
check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import fold  # noqa: E402

WORKLOADS = ("changefeed_merge", "table_serve", "corpus_dedup")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint(root):
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src"]
    for top in tops:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile graft and the harness; return the runtime classpath."""
    stamp = os.path.join(build_dir, "classpath.json")
    fp = source_fingerprint(root)
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    env = dict(os.environ, PERFBENCH_BUILD_DIR=build_dir)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as fh:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=env, stdout=fh,
            stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    if proc.returncode != 0:
        fail(f"build failed (exit {proc.returncode}); see {log}")
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l
           and os.pathsep in l]
    if not cps:
        fail(f"build printed no classpath; see {log}")
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": cps[-1]}, fh)
    return cps[-1]


def run_jvm(classpath, args, work):
    """Run the harness JVM; return its run record."""
    out = os.path.join(work, "run.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = min(4, os.cpu_count() or 1)
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # A fixed heap and young generation, so the peak RSS reflects what the
    # workload keeps, not when the collector chose to grow the heap; no
    # hsperfdata file, so the JVM writes nothing outside the work directory.
    cmd += ["-Xms3g", "-Xmx3g", "-Xmn512m", "-XX:+UseParallelGC",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--work", work, "--out", out]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    if code != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        fail(f"harness JVM exited with {code}:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a graft checkout ({need} is missing)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(root, build_dir)

    work = os.path.join(build_dir, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rec = run_jvm(classpath, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(build_dir, f"last-{args.workload}.json"), "w") as fh:
        json.dump(rec, fh)

    result, detail = fold.report(rec, traced=bool(args.trace))
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
