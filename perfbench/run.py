#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload ingest|query --seed N \
        --seconds S --trace 0|1

Run it from the repository root. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt pulls in the root
build); later runs reuse that build until a source file changes. The
last line of standard output is one JSON result object. All files the
run makes stay under perfbench/.work and the sbt target directories.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("ingest", "query")
RUN_LIMIT_S = 170  # the whole run, build excluded
BUILD_LIMIT_S = 840


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file whose change means a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for dirpath, dirnames, filenames in os.walk(src):
            dirnames.sort()
            files += [os.path.join(dirpath, f) for f in sorted(filenames)]
    return files


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def heap_size():
    """The Spark driver heap: half the RAM in GiB, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(max(g, 2), 8)}g"
    except OSError:
        pass
    return "2g"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


BUILD_DIR = os.path.join(WORK, "build")
LAUNCH = os.path.join(BUILD_DIR, "launch.txt")
CDS_ARCHIVE = os.path.join(BUILD_DIR, "classes.jsa")


def build():
    """Build once per source stamp; returns (classpath, java options)."""
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    want = stamp()
    if os.path.exists(LAUNCH) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == want:
                return read_launch(LAUNCH)
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    os.makedirs(BUILD_DIR)
    launch = os.path.join(HERE, "target", "launch.txt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log_path = os.path.join(BUILD_DIR, "build.log")
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                 "compile", "writeLaunch"],
                cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S, start_new_session=True)
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = -1
    if code != 0 or not os.path.exists(launch):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (exit {code}); log in {log_path}")
    classpath, java_opts = read_launch(launch)
    with open(LAUNCH, "w") as fh:
        fh.write("\n".join([jar_classpath(classpath)] + java_opts) + "\n")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return read_launch(LAUNCH)


def jar_classpath(classpath):
    """The classpath with each class directory packed into a jar: the
    JVM's class-data-sharing archive only covers classes from jars.
    """
    out = []
    for i, entry in enumerate(classpath.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(BUILD_DIR, f"classes-{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as zf:
                for dirpath, dirnames, filenames in os.walk(entry):
                    dirnames.sort()
                    for f in sorted(filenames):
                        p = os.path.join(dirpath, f)
                        zf.write(p, os.path.relpath(p, entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def read_launch(path):
    with open(path) as fh:
        lines = [ln.rstrip("\n") for ln in fh]
    return lines[0], [ln for ln in lines[1:] if ln]


def run_jvm(args, classpath, java_opts):
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    heap = heap_size()
    opts = [o for o in java_opts if not o.startswith(("-Xms", "-Xmx"))]
    report = os.path.join(WORK, "reports", f"trace-{args.workload}-{args.seed}.json")
    # Class-data sharing: the first run after a build dumps the loaded
    # classes at exit, later runs map them instead of loading and
    # verifying Spark's classes again (JVM start-up only).
    cds = (f"-XX:SharedArchiveFile={CDS_ARCHIVE}" if os.path.exists(CDS_ARCHIVE)
           else f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}")
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}", cds] + opts +
           ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores()), "--work", os.path.join(run_dir, "data"),
            "--report", report if args.trace else ""])
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_LIMIT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(run_dir, ignore_errors=True)
    result = None
    for line in out.splitlines():
        if line.startswith('{"correct"'):
            result = json.loads(line)
        elif line.strip():
            print(line, file=sys.stderr)
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}")
    if result is None:
        fail("benchmark JVM printed no result")
    return result


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; expected one of {', '.join(WORKLOADS)}")
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no engine sources here ({need} is missing)")
    t0 = time.time()
    classpath, java_opts = build()
    print(f"perfbench: build ready in {time.time() - t0:.1f} s", file=sys.stderr)
    result = run_jvm(args, classpath, java_opts)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
