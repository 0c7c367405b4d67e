#!/usr/bin/env python3
"""graft benchmark entry point.

Usage (from the repository root):
    python3 graftbench/run.py --workload <mobility|streaming>
        --seed <n> --seconds <s> --trace <0|1>

Builds graft from `src/main/scala` together with the harness in
`graftbench/src` (scalac from the Spark distribution, cached by source hash
under `graftbench/work/build`), runs one workload in a fresh JVM and prints
the run's result object as the last line of standard output. Everything the
run reads or writes lives under `graftbench/work`. Exits non-zero without a
result when the build, the set-up or the run fails.
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

BENCH = os.path.dirname(os.path.realpath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
WORKLOADS = ("mobility", "streaming")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (the repo's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def scala_sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def spark_jars():
    """The jars of the Spark installation: `$SPARK_HOME`, else the first
    `spark-submit` on `PATH` that belongs to a distribution with the
    Scala compiler the build needs."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isfile(os.path.join(jars, "scala-compiler-2.13.17.jar")):
            return jars
    fail("no Spark distribution with scala-compiler 2.13.17 (set SPARK_HOME)")


def jvm_cmd(build_dir, jars):
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    classpath = [os.path.join(build_dir, "graftbench.jar")] + sorted(
        os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))
    return cmd + ["-cp", os.pathsep.join(classpath), "graftbench.Main",
                  "--cache", os.path.join(WORK, "cache"),
                  "--pins", os.path.join(BENCH, "pins.txt")]


def run_logged(cmd, log_path, timeout):
    """Run in the benchmark's working directory with a fresh temp dir; kill
    the whole process group on timeout. Returns the exit code or None."""
    run_dir, tmp = os.path.join(WORK, "run"), os.path.join(WORK, "tmp")
    os.makedirs(run_dir, exist_ok=True)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    shutil.rmtree(tmp, ignore_errors=True)
    return code


def build(jars):
    """Compile program + harness into one jar, once per distinct source
    tree."""
    program = scala_sources(os.path.join(ROOT, "src", "main", "scala"))
    if not program:
        fail("no program sources under src/main/scala")
    harness = scala_sources(os.path.join(BENCH, "src"))
    h = hashlib.sha256()
    for f in program + harness:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(WORK, "build", h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, "ok")):
        return out
    shutil.rmtree(os.path.join(WORK, "build"), ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(program + harness) + "\n")
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-Ybackend-parallelism", "4", "-d", classes,
                        "-classpath", cp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("build failed")
    with zipfile.ZipFile(os.path.join(out, "graftbench.jar"), "w") as z:
        for base, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                path = os.path.join(base, f)
                z.write(path, os.path.relpath(path, classes))
    shutil.rmtree(classes)
    open(os.path.join(out, "ok"), "w").write(f"{time.time() - t0:.1f}\n")
    print(f"graftbench: built {len(program)} program + {len(harness)} harness sources "
          f"in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def run_jvm(build_dir, jars, args):
    out = os.path.join(WORK, "out")
    os.makedirs(out, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    result = os.path.join(out, "result.json")
    if os.path.exists(result):
        os.remove(result)
    cmd = jvm_cmd(build_dir, jars) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--result", result,
        "--report", os.path.join(out, f"report-{tag}.json"),
        "--spans", os.path.join(out, f"spans-{tag}.jsonl")]
    log_path = os.path.join(out, f"log-{tag}.txt")
    code = run_logged(cmd, log_path, RUN_TIMEOUT_S)
    if code != 0 or not os.path.isfile(result):
        with open(log_path, "rb") as fh:
            sys.stderr.write(fh.read().decode(errors="replace")[-4000:])
        fail("run timed out" if code is None else f"run failed (exit {code})", 3)
    with open(result) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    jars = spark_jars()
    build_dir = build(jars)
    res = run_jvm(build_dir, jars, args)
    print(json.dumps(res, separators=(",", ":")))


if __name__ == "__main__":
    main()
