#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first call builds the engine
and the harness with sbt (offline) and caches the runtime classpath under
perfbench/out/; every call then starts one JVM that runs the workload and
prints a report, with the result JSON as the last line of stdout.

Workloads: medallion_batch, operator_gates.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CLASSPATH_FILE = os.path.join(OUT, "classpath.txt")
WORKLOADS = ("medallion_batch", "operator_gates")
DEADLINE_S = 175  # the whole call, build excluded
BUILD_DEADLINE_S = 850

# Spark on JDK 17 outside spark-submit needs these (same list as the
# engine's build.sbt javaOptions).
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
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources_mtime():
    """Newest modification time over everything the build compiles."""
    newest = 0.0
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    for f in files:
        newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compile with sbt unless the cached classpath is newer than every source."""
    if os.path.exists(CLASSPATH_FILE) and os.path.getmtime(CLASSPATH_FILE) > sources_mtime():
        with open(CLASSPATH_FILE) as f:
            cp = f.read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_DEADLINE_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (exit {proc.returncode})")
    lines = [l.strip() for l in proc.stdout.splitlines()]
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    if not cps:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build printed no classpath")
    cp = cps[-1]
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp + "\n")
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources next to the benchmark (looked in {ROOT})")
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    cp = build()

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    tmp = os.path.join(OUT, "tmp")
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Xmx2g", "-XX:+UseG1GC",
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={OUT}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", OUT,
    ]
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep shuffle and
    # block files inside the checkout either way
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log_path = os.path.join(OUT, f"{args.workload}.stderr.log")
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(cmd, cwd=OUT, env=env, stdin=subprocess.DEVNULL,
                                  stdout=subprocess.PIPE, stderr=log, text=True,
                                  timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            fail(f"workload exceeded {DEADLINE_S} s; see {log_path}")
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write("".join(open(log_path).readlines()[-40:]))
        fail(f"workload exited {proc.returncode}; see {log_path}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
