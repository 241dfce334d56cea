#!/usr/bin/env python3
"""perfbench: builds the program from source and runs one workload.

Run from the root of a checkout:

    python3 perfbench/run.py --workload crawl_4k --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

The program (src/main/scala) and the benchmark (perfbench/src) are
compiled together with the Scala compiler that ships with the Spark jars
the project builds against, into .bench_build/perfbench/, once per
source state. Each run starts one JVM, which runs the workload as a
closed loop on local[min(4, cpus)] and prints its result; the last line
of stdout here is that result as JSON. Inputs, outputs and state live in
a work dir (default .bench_work/<run>) that is deleted at exit.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
OUT = os.path.join(ROOT, ".bench_out")
WORKLOADS = ["crawl_4k", "crawl_33k", "curate_drops"]
RUN_TIMEOUT_S = 170
SMOKE_TIMEOUT_S = 600
BUILD_TIMEOUT_S = 600

# Spark 4 on JDK 17 outside spark-submit needs these (as the project's
# build.sbt passes them to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-Xss4m", "-XX:+UseG1GC"] + [
    a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars the project builds against: $SPARK_HOME/jars, else
    the unmanagedBase that the project's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    die("cannot find the Spark jars (set SPARK_HOME, or run from a checkout with build.sbt)")


def sources():
    prog = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    if not prog:
        die("no program sources under src/main/scala: run from the root of a checkout")
    if not bench:
        die("no benchmark sources under perfbench/src")
    return prog + bench


def build(jars):
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(BUILD, "classes-" + stamp)
    if os.path.isfile(os.path.join(classes, ".complete")):
        return classes, stamp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    tmpdir = os.path.join(BUILD, "tmp")
    os.makedirs(tmpdir, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmpdir,
           "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    t0 = time.time()
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout.decode(errors="replace")[-8000:])
        die("build failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, classes)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != classes:
            shutil.rmtree(old, ignore_errors=True)
    print("perfbench: built %s in %.1f s" % (stamp, time.time() - t0), file=sys.stderr)
    return classes, stamp


def loadavg():
    try:
        return [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except OSError:
        return None


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, timeout=10,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        return p.stdout.decode().strip() or None if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cmd, log_path, timeout):
    """Runs the JVM in its own process group; returns (code, stdout lines)."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, cwd=ROOT,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    return p.returncode, out.decode(errors="replace").splitlines()


def main():
    # a terminated run must not leave its JVM behind: turn SIGTERM into an
    # exception so run_jvm kills the JVM's process group
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--workdir", help="where inputs, outputs and state go (deleted at exit)")
    ap.add_argument("--smoke", action="store_true",
                    help="every workload at toy sizes, one traced run and a corrupted-digest run")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required")

    jars = spark_jars()
    classes, stamp = build(jars)
    name = "smoke" if a.smoke else "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    work = os.path.abspath(a.workdir or os.path.join(ROOT, ".bench_work", "%s-%d" % (name, os.getpid())))
    os.makedirs(OUT, exist_ok=True)
    spans = os.path.join(OUT, "spans-%s.json" % name)
    # native libraries unpacked by the JVM and Spark's scratch files stay
    # in the work dir, and so inside the checkout
    tmpdir = os.path.join(work, "tmp")
    os.makedirs(tmpdir, exist_ok=True)
    flags = JVM_FLAGS + ["-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmpdir]
    cmd = ["java"] + flags + ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
                              "perfbench.Main", "--workdir", work, "--spans", spans]
    if a.smoke:
        cmd.append("--smoke")
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
    load_before = loadavg()
    cmd += ["--launch-ms", str(int(time.time() * 1000))]
    try:
        code, lines = run_jvm(cmd, os.path.join(OUT, "jvm-%s.log" % name),
                              SMOKE_TIMEOUT_S if a.smoke else RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": len(os.sched_getaffinity(0)), "loadavg_before": load_before,
        "loadavg_after": loadavg(), "jvm_flags": flags, "git_commit": git_commit(),
        "source_stamp": stamp, "spans": spans if a.trace and not a.smoke else None,
    }
    if a.smoke:
        for line in lines:
            if line.startswith("PERFBENCH_SMOKE "):
                print(line)
        return code
    info = [json.loads(l[len("PERFBENCH_INFO "):]) for l in lines if l.startswith("PERFBENCH_INFO ")]
    results = [l for l in lines if l.startswith("{")]
    if not results:
        sys.stderr.write("\n".join(open(os.path.join(OUT, "jvm-%s.log" % name)).read().splitlines()[-40:]) + "\n")
        die("the benchmark JVM exited with code %d and no result" % code)
    result = json.loads(results[-1])
    record.update(info[-1] if info else {})
    with open(os.path.join(OUT, "result-%s.json" % name), "w") as f:
        json.dump({"record": record, "result": result}, f, indent=1)
    print("PERFBENCH_RECORD " + json.dumps(record))
    print(json.dumps(result))
    return 0 if result["correct"] and code == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
