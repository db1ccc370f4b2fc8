#!/usr/bin/env python3
"""End-to-end benchmark of the sync pipeline: one run of one workload.

    python3 perfbench/run.py --workload clone_http --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark program with sbt (offline) into .bench_build/; later runs reuse
the build while the sources are unchanged. Prints a summary of every
metric and, as the last line, one JSON object with the keys correct,
attempted, failed and metrics. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
BENCH = os.path.join(ROOT, "perfbench")
WORKLOADS = ("clone_http", "refresh_views")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these outside spark-submit; the same list as the
# engine's build.sbt
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_fingerprint():
    """Hash of the names, sizes and times of every build input."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        st = os.stat(p)
        h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build saw the same sources;
    returns the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    fp = sources_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=BUILD_TIMEOUT_S)
        out.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed (exit {r.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    print(f"# built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of an engine checkout (build.sbt and src/main/scala/graft)")
    os.makedirs(BUILD, exist_ok=True)
    cp = build()

    run = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", f"{run}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    for d in ("logs", "spans"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    # a fixed heap, so the collector's sizing does not vary between
    # runs; no perf-data file outside the checkout
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--cpus", str(cpus)]
    if a.trace == "1":
        cmd += ["--spans", os.path.join(BUILD, "spans", f"{run}.jsonl")]
    log = os.path.join(BUILD, "logs", f"{run}.log")
    try:
        with open(log, "w") as err:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                               timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {JVM_TIMEOUT_S} s; see {log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = r.stdout.splitlines()
    if r.returncode != 0 or not lines:
        sys.stdout.write(r.stdout)
        fail(f"run failed (exit {r.returncode}); see {log}")
    result = json.loads(lines[-1])
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
