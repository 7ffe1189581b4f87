#!/usr/bin/env python3
"""Benchmark entry point: build the engine from this checkout, run one
workload, and print the result line.

    python3 perfbench/run.py --workload fanout_mixed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The engine and the harness compile with
sbt into perfbench/target (rebuilt only when a source file changed). A
first plain JVM writes the seed's inputs; a second one measures, so
neither sbt's start-up nor input generation lands in the measuring JVM.
All scratch data lives under .bench_build/perfbench.
The last line of standard output is one JSON object (see README.md).
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(WORK, "build.stamp")
WORKLOADS = ("trickle_pgoutput", "fanout_mixed")
RUN_TIMEOUT_S = 170  # both JVMs together
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 outside spark-submit needs these (the list spark-submit
# would inject; the engine's own build uses the same set).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_fingerprint():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    fp = sources_fingerprint()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == fp:
                return fp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
            "-Dsbt.global.base=" + os.path.join(WORK, "sbt-global")]
    repos = os.path.expanduser("~/.sbt/repositories")
    if env.get("COURSIER_MODE") == "offline":
        opts += ["-Dsbt.offline=true"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     "-Dsbt.repository.config=" + repos]
    cmd = ["sbt", "--batch"] + opts + ["writeClasspath"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S,
                       stdin=subprocess.DEVNULL)
    if p.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(p.stdout.decode(errors="replace")[-4000:])
        die("build failed")
    with open(STAMP, "w") as fh:
        fh.write(fp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return fp


def total_mem_mb():
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return 4096


def java_cmd(args, fp):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap_mb = max(1024, min(3072, total_mem_mb() // 4))
    return (["java"]
            + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
            # a fixed young generation: peak RSS then tracks the old
            # generation's high-water mark, not the collector's young sizing
            + [f"-Xmx{heap_mb}m", "-Xmn512m", "-Djava.io.tmpdir=" + tmp,
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
               "-cp", cp, "graft.perfbench.Main",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--work", WORK, "--repo", ROOT, "--source-fp", fp])


def run_jvm(cmd, deadline):
    """Run one JVM to completion within the deadline; its stdout lines."""
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.decode(errors="replace").splitlines() if l.strip()]
    if p.returncode != 0:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        die(f"benchmark JVM exited with code {p.returncode}", 1)
    return lines


def run(args, fp):
    deadline = time.time() + RUN_TIMEOUT_S
    cmd = java_cmd(args, fp)
    t0 = time.time()
    run_jvm(cmd + ["--prepare", "1"], deadline)
    lines = run_jvm(cmd + ["--prepare-s", f"{time.time() - t0:.3f}"], deadline)
    if not lines or not lines[-1].startswith("{"):
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        die("benchmark JVM printed no result", 1)
    for l in lines:
        print(l)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        die(f"engine sources not found under {ENGINE_SRC}; "
            "run from the root of a full checkout")
    if not os.environ.get("SPARK_HOME"):
        die("SPARK_HOME is not set (the engine runs on a Spark distribution)")
    os.makedirs(WORK, exist_ok=True)
    run(args, build())


if __name__ == "__main__":
    main()
