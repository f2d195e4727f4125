#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its result.

    python3 perfbench/run.py --workload construct|sample|graph|query \
        --seed N --seconds S --trace 0|1 [--smoke 0|1]

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (output under .bench_build/) and records a
class-data archive of one untimed smoke pass; later runs
reuse both while the sources are unchanged, so each run spends its time in
the engine rather than in JVM class loading. The harness runs in one JVM with
one SparkSession at local[nproc]. Its last stdout line is one JSON object
with the keys correct, attempted, failed and metrics; the line before it is
an info object. Traced runs also write their spans to .bench_build/traces/.
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

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("construct", "sample", "graph", "query")
# the whole run, build excluded, must end well inside three minutes
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840
JDK17_OPENS = [
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


def source_stamp():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    inputs = [os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(BENCH, "src")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the recorded build matches the sources;
    return the runtime classpath and whether it was rebuilt."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=BUILD_LIMIT_S)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-8000:])
        fail(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    if cp.startswith("[") or ".jar" not in cp:
        sys.stderr.write(p.stdout[-8000:])
        fail("build did not report a classpath")
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, True


def java_cmd(cp, work, jvm_opts, harness_args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # JVM log lines go to stderr: stdout carries only the result
    cmd = [java, "-Xmx3g", "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + jvm_opts + ["-cp", cp, "graftbench.Main"] + harness_args + \
        ["--work", work, "--out", os.path.join(BUILD, "traces")]


def run_harness(cmd, work, limit):
    """Run the harness in its own process group; return (exit code, stdout)."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {limit}s")
    shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out


def class_archive(cp, rebuilt):
    """Path of the class-data archive for this build, recorded on first use
    by a smoke pass of the sample workload; None if the JVM could not
    record one."""
    archive = os.path.join(BUILD, "classes.jsa")
    failed = archive + ".failed"
    if rebuilt:
        for p in (archive, failed):
            if os.path.exists(p):
                os.remove(p)
    if not os.path.exists(archive) and not os.path.exists(failed):
        t0 = time.time()
        work = os.path.join(BUILD, "work", f"archive-{os.getpid()}")
        code, _ = run_harness(java_cmd(cp, work, [f"-XX:ArchiveClassesAtExit={archive}"],
                                       ["--workload", "sample", "--seed", "1", "--seconds", "1",
                                        "--trace", "0", "--smoke", "1"]),
                              work, BUILD_LIMIT_S)
        if code != 0 and os.path.exists(archive):
            os.remove(archive)
        if not os.path.exists(archive):
            open(failed, "w").close()
        print(f"perfbench: class archive {'recorded' if os.path.exists(archive) else 'FAILED'}"
              f" in {time.time() - t0:.1f}s", file=sys.stderr)
    return archive if os.path.exists(archive) else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--smoke", default="0", choices=("0", "1"))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("no engine sources under src/main/scala/graft: run from a checkout root")
    if not os.path.isfile(os.path.join(BENCH, "build.sbt")):
        fail("perfbench/build.sbt missing: run from a checkout root")
    cp, rebuilt = build()
    archive = class_archive(cp, rebuilt)

    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    code, out = run_harness(
        java_cmd(cp, work, [f"-XX:SharedArchiveFile={archive}"] if archive else [],
                 ["--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", args.trace,
                  "--smoke", args.smoke]),
        work, RUN_LIMIT_S)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed",
                                                       "metrics"}:
        sys.stderr.write(out[-4000:])
        fail(f"harness exited {code} without a result")
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
