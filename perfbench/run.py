#!/usr/bin/env python3
"""Benchmark entry point: builds the program and the harness from source,
generates the seeded input, runs one measured workload and prints the
result JSON as the last stdout line.

Run from the repository root:

    python3 perfbench/run.py --workload site_batches --seed 1 --seconds 30 --trace 0

Build outputs and scratch files stay under $CARGO_TARGET_DIR (default
.bench_build) in the current directory; sbt's own outputs go to the
usual target/ directories. See perfbench/README.md.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
# Spark on JDK 17 needs these when the session is built outside spark-submit.
OPENS = [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for x in ("--add-opens", p + "=ALL-UNNAMED")]
BUILD_TIMEOUT = 850
GEN_TIMEOUT = 60
RUN_TIMEOUT = 150


def log(msg):
    print("[run.py] " + msg, file=sys.stderr, flush=True)


def run(cmd, cwd, timeout, env=None, capture=False):
    """Run a command in its own process group; when it ends or times out,
    kill whatever is left of the group."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else sys.stderr,
                         stderr=sys.stderr, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    finally:
        # stop anything the command left behind in its process group
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
    return p.returncode, out


def source_stamp():
    """Hash of every source the build reads, so edits force a rebuild."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    pdir = os.path.join(ROOT, "project")
    if os.path.isdir(pdir):
        files += [os.path.join(pdir, f) for f in os.listdir(pdir)
                  if f.endswith(".sbt") or f == "build.properties"]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath(build_dir):
    """Compile program and harness with sbt once per source state; return
    the runtime classpath."""
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath")
    stamp = source_stamp()
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read().strip() == stamp and all(os.path.exists(x) for x in cp.split(os.pathsep)):
                return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building program and harness with sbt")
    rc, out = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                  BENCH, BUILD_TIMEOUT, env=env, capture=True)
    lines = [l.strip() for l in (out or "").splitlines()]
    cps = [l for l in lines if os.pathsep in l and not l.startswith("[") and "perfbench" in l]
    if rc != 0 or not cps:
        sys.stderr.write(out or "")
        raise RuntimeError("sbt build failed (exit %s)" % rc)
    os.makedirs(build_dir, exist_ok=True)
    shutil.rmtree(os.path.join(build_dir, "gatedata"), ignore_errors=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=4, help="Spark local[N] width")
    ap.add_argument("--shuffle", type=int, default=32, help="spark.sql.shuffle.partitions")
    args = ap.parse_args()
    # on SIGTERM, unwind so that the running command's process group is killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("no program sources here (build.sbt, src/main/scala): run from the repository root")
        return 2

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    try:
        cp = classpath(build_dir)
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        log("build failed: %s" % e)
        return 3

    work = os.path.join(build_dir, "work", "%s-%d-%d" % (args.workload, args.seed, args.trace))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    jvm = [java, "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false"] + OPENS + ["-cp", cp]
    # the gates read the same data for every seed, so it is generated once
    # per build (a rebuild clears it)
    shared = args.workload == "operator_gates"
    data = os.path.join(build_dir, "gatedata") if shared else os.path.join(work, "data")
    try:
        if not os.path.isfile(os.path.join(data, "truth.tsv")):
            shutil.rmtree(data, ignore_errors=True)
            rc, _ = run(jvm + ["-Xmx1g", "perfbench.Gen", args.workload, str(args.seed), data],
                        ROOT, GEN_TIMEOUT)
            if rc != 0:
                log("input generation failed (exit %d)" % rc)
                shutil.rmtree(data, ignore_errors=True)
                return 4
        rc, out = run(jvm + ["-Xms2g", "-Xmx3g", "perfbench.Main", "--workload", args.workload,
                             "--seed", str(args.seed), "--seconds", str(args.seconds),
                             "--trace", str(args.trace), "--data", data, "--work", work,
                             "--cores", str(args.cores), "--shuffle", str(args.shuffle)],
                      ROOT, RUN_TIMEOUT, capture=True)
    except subprocess.TimeoutExpired as e:
        log("timed out after %s s" % e.timeout)
        return 5
    lines = [l for l in (out or "").splitlines() if l.strip()]
    result = [l for l in lines if l.startswith("{") and '"correct"' in l]
    for l in lines:
        if l not in result:
            print(l, file=sys.stderr)
    if args.trace and os.path.isfile(os.path.join(work, "spans.json")):
        kept = os.path.join(build_dir, "spans-%s-%d.json" % (args.workload, args.seed))
        shutil.copyfile(os.path.join(work, "spans.json"), kept)
        log("spans: " + os.path.relpath(kept, ROOT))
    shutil.rmtree(work, ignore_errors=True)
    if not result:
        log("no result line (exit %d)" % rc)
        return rc or 6
    print(result[-1], flush=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
