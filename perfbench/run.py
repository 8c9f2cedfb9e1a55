#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. On first use (or when any engine or
benchmark source changed) it builds the engine and the harness with sbt,
offline, and caches the runtime classpath under the build directory
($CARGO_TARGET_DIR, default .bench_build). It then launches one JVM for
the run, whose last stdout line is the result JSON. The JVM's scratch
directory lives under the build directory and is removed afterwards.
Every run's result line is also kept in <build dir>/results/ for diff.py.
"""

import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bulk", "lifecycle", "curation", "bulk_write", "bulk_read")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# Spark on JDK 17 needs these when the session is not started by spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"
ARCHIVE = "classes.jsa"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads from this checkout."""
    h = hashlib.sha256()
    files = []
    for top in ("build.sbt", "project/build.properties", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        if os.path.isfile(os.path.join(ROOT, top)):
            files.append(top)
    for tree in ("src/main", "perfbench/src"):
        for dirpath, _, names in os.walk(os.path.join(ROOT, tree)):
            files.extend(os.path.relpath(os.path.join(dirpath, n), ROOT) for n in names)
    for rel in sorted(files):
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def jar_dirs(entries, lib):
    """Class directories as jars: the class-data-sharing archive only
    accepts jar entries on the class path."""
    os.makedirs(lib, exist_ok=True)
    out = []
    for i, e in enumerate(entries):
        if os.path.isdir(e):
            target = os.path.join(lib, f"classes-{i}.jar")
            with zipfile.ZipFile(target, "w", zipfile.ZIP_STORED) as z:
                for dirpath, _, names in sorted(os.walk(e)):
                    for n in sorted(names):
                        p = os.path.join(dirpath, n)
                        z.write(p, os.path.relpath(p, e))
            out.append(target)
        else:
            out.append(e)
    return os.pathsep.join(out)


def java_cmd(classpath, tmp, extra):
    # The parallel collector: on a 4-core box it ran every workload faster
    # than G1, and peak RSS under G1's adaptive heap sizing varied by up to
    # a third between runs of the same workload.
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return cmd + extra + ["-cp", classpath]


def build(build_dir):
    """Compile engine + harness once per source state; return the classpath.

    The build also records a class-data-sharing archive from a training run
    of every workload, which cuts JVM and session start-up of each run."""
    stamp_file = os.path.join(build_dir, "classpath.stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    for stale in (stamp_file, cp_file, os.path.join(build_dir, ARCHIVE)):
        if os.path.exists(stale):
            os.remove(stale)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts + [env.get("SBT_OPTS", "")]).strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"]
    print("perfbench: building engine and harness with sbt ...", file=sys.stderr)
    try:
        out = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail(f"build failed (sbt exit {out.returncode})")
    entries = lines[-1].strip().split(os.pathsep)
    if not all(os.path.exists(e) for e in entries):
        sys.stderr.write(out.stdout[-4000:])
        fail("build printed no usable classpath")
    classpath = jar_dirs(entries, os.path.join(build_dir, "lib"))

    print("perfbench: recording the class-data-sharing archive ...", file=sys.stderr)
    work = os.path.join(build_dir, "work", "train")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    archive = os.path.join(build_dir, ARCHIVE)
    train = java_cmd(classpath, tmp, [f"-XX:ArchiveClassesAtExit={archive}"])
    try:
        subprocess.run(train + ["graftbench.Train", work], cwd=ROOT, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass  # runs simply start without the archive
    shutil.rmtree(work, ignore_errors=True)

    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no engine sources under {ROOT}/src/main/scala; run from a full checkout")
    build_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    if os.path.commonpath([build_dir, ROOT]) != ROOT:
        fail("the build directory must lie inside the checkout")
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one build at a time per checkout
        classpath = build(build_dir)

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(build_dir, "work", f"{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    trace_out = os.path.join(build_dir, "traces", f"{tag}.json")
    archive = os.path.join(build_dir, ARCHIVE)
    share = [f"-XX:SharedArchiveFile={archive}"] if os.path.isfile(archive) else []
    cmd = java_cmd(classpath, tmp, share) + [
        "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace,
        "--work", work, "--trace-out", trace_out]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    if result is not None:
        os.makedirs(os.path.join(build_dir, "results"), exist_ok=True)
        with open(os.path.join(build_dir, "results", f"{tag}.json"), "w") as f:
            f.write("\n".join(lines) + "\n")
    sys.stdout.write(out)
    sys.stdout.flush()
    if proc.returncode != 0:
        fail(f"run failed (exit {proc.returncode}); a result line, if any, reports the failed ops")


if __name__ == "__main__":
    main()
