#!/usr/bin/env python3
"""Firehose -> _bulk service benchmark.

    python3 perfbench/run.py --workload firehose_trickle --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds the program and the benchmark from
source with sbt (perfbench/jvm), copies the compiled classes into a
build keyed by a hash of the sources, then runs the driver JVM on that
copy; its last stdout line is the result JSON. See perfbench/README.md.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import threading

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
JVM = os.path.join(BENCH, "jvm")
WORK = os.path.join(BENCH, "work")
SBT_LAUNCH = os.path.join(JVM, "target", "launch")
WORKLOADS = ("firehose_trickle", "firehose_backlog")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of every input the build reads, so a cached build is reused
    only for the same tree."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), JVM]
    for top in tops:
        if os.path.isfile(top):
            paths = [top]
        else:
            paths = []
            for d, dirs, files in os.walk(top):
                # build outputs and sbt's nested project dirs are not inputs
                dirs[:] = sorted(x for x in dirs if x != "target" and not (x == "project" and d != JVM))
                paths += [os.path.join(d, f) for f in files]
        for p in sorted(paths):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Return the launch dir for this tree: classpath.txt and javaopts.txt,
    with every compiled-class directory copied under it.

    sbt compiles into shared target dirs that any other build of this
    checkout (a root `sbt test` of another commit, say) overwrites, so the
    classes a run uses are copied into work/launch-<source hash> once and
    never read from target/ again."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft", "streaming")):
        log("no program sources here (build.sbt, src/main/scala/graft/streaming); nothing to benchmark")
        sys.exit(2)
    digest = source_hash()
    launch = os.path.join(WORK, "launch-" + digest[:20])
    if os.path.isfile(os.path.join(launch, "done")):
        return launch
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    # the Serve children get the root build's forked-JVM options; pin the
    # heap they derive from so every checkout launches the same service
    env["SPARK_DRIVER_MEM"] = "4g"
    log("building (sbt writeLaunch in perfbench/jvm)")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"], cwd=JVM, env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0 or not os.path.isfile(os.path.join(SBT_LAUNCH, "classpath.txt")):
        log(f"build failed ({r.returncode})")
        sys.exit(2)
    if os.path.isdir(WORK):
        for old in os.listdir(WORK):
            if old.startswith("launch-"):
                shutil.rmtree(os.path.join(WORK, old))
    os.makedirs(launch)
    with open(os.path.join(SBT_LAUNCH, "classpath.txt")) as f:
        entries = [l.strip() for l in f if l.strip()]
    cp = []
    for i, e in enumerate(entries):
        if os.path.isdir(e):
            copy = os.path.join(launch, f"classes{i}")
            shutil.copytree(e, copy)
            e = copy
        cp.append(e)
    with open(os.path.join(launch, "classpath.txt"), "w") as f:
        f.write("\n".join(cp) + "\n")
    shutil.copy(os.path.join(SBT_LAUNCH, "javaopts.txt"), launch)
    open(os.path.join(launch, "done"), "w").close()
    return launch


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    return "tree-" + source_hash()[:16]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    launch = build()
    with open(os.path.join(launch, "classpath.txt")) as f:
        cp = ":".join(l.strip() for l in f if l.strip())
    with open(os.path.join(launch, "javaopts.txt")) as f:
        opts = [l.strip() for l in f if l.strip()]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = [o for o in opts if not o.startswith("-Xmx")] + ["-Xmx3g", "-Djava.io.tmpdir=" + tmp]
    cmd = ["java"] + opts + ["-cp", cp, "graft.perfbench.Driver",
                             "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                             "--trace", str(a.trace), "--work", WORK, "--launch", launch,
                             "--commit", commit()]
    p = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE, text=True)
    # the driver stops its children on SIGTERM; a run never exceeds 170 s
    timer = threading.Timer(170, p.terminate)
    timer.start()
    last = None
    try:
        for line in p.stdout:
            line = line.rstrip("\n")
            if line.startswith('{"correct"'):
                last = line
            else:
                print(line, flush=True)
        code = p.wait()
    except BaseException:
        p.terminate()
        try:
            p.wait(timeout=40)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
        raise
    finally:
        timer.cancel()
    if last is None:
        log(f"driver exited {code} without a result")
        sys.exit(code or 3)
    print(last, flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
