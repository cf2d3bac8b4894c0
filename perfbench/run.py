#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test
    python3 perfbench/run.py --record-expected

Run from the repository root. Compiles the engine (src/main/scala) and
the benchmark (perfbench/src) with the Scala compiler that ships in the
Spark distribution into .bench_build/ (reused while the sources are
unchanged), then runs one workload in a fresh JVM. The last stdout line
is the result object; see perfbench/README.md.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")


WORKLOADS = ("batch-build", "batch-exec", "stream-catchup", "stream-live")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print("graftbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the Spark holding `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def sources(*dirs):
    files = []
    for d in dirs:
        files += glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True)
    return sorted(files)


def compile_to(out, srcs, jars, extra_cp=()):
    """Compiles `srcs` into `out` unless a build of the same sources is there."""
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scalac_cp = ":".join(os.path.join(jars, j) for j in (
        "scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar", "scala-reflect-2.13.17.jar"))
    cp = ":".join(list(extra_cp) + sorted(glob.glob(os.path.join(jars, "*.jar"))))
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", scalac_cp, "scala.tools.nsc.Main", "-usejavacp",
         "-nowarn", "-d", tmp, "-classpath", cp] + srcs)
    if r.returncode != 0:
        fail("compilation failed")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    print("graftbench: compiled %d files in %.1f s" % (len(srcs), time.time() - t0), file=sys.stderr)


def heap_mb():
    """A quarter of the machine's memory, between 1 and 6 GiB."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return max(1024, min(6144, total_kb // 4 // 1024))


def java_cmd(cp, main, args, work):
    tmpdir = os.path.join(work, "tmp")
    os.makedirs(tmpdir, exist_ok=True)
    opens = []
    for p in ADD_OPENS:
        opens += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    heap = heap_mb()
    # fixed heap and young-generation size: G1's adaptive resizing made
    # the resident-memory peak swing by a sixth between identical runs
    return (["java"] + opens + [
        "-Xms%dm" % heap, "-Xmx%dm" % heap, "-XX:+UnlockExperimentalVMOptions",
        "-XX:G1NewSizePercent=20", "-XX:G1MaxNewSizePercent=20",
        "-XX:ReservedCodeCacheSize=512m",
        "-Djava.io.tmpdir=" + tmpdir, "-Dspark.ui.enabled=false",
        "-Dlog4j.configurationFile=" + os.path.join(ROOT, "perfbench", "log4j2.properties"),
        "-cp", cp, main] + args)


def run_jvm(cmd, work):
    """Runs the JVM, forwarding stdout; stderr goes to a log in `work`."""
    log_path = os.path.join(work, "stderr.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=ROOT)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("run exceeded %d s" % RUN_TIMEOUT_S)
    if proc.returncode != 0:
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        sys.stderr.write(tail)
        fail("benchmark JVM exited with %d" % proc.returncode)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record-expected", action="store_true")
    a = ap.parse_args()
    if not (a.self_test or a.record_expected) and a.workload not in WORKLOADS:
        fail("--workload must be one of " + ", ".join(WORKLOADS))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("run from the repository root: src/main/scala is missing")
    jars = spark_jars()
    classes = os.path.join(BUILD, "classes")
    compile_to(classes, sources("src/main/scala", "perfbench/src"), jars)
    cp = classes + ":" + os.path.join(jars, "*")
    if a.self_test:
        tests = os.path.join(BUILD, "test-classes")
        compile_to(tests, sources("perfbench/test"), jars, [classes])
        work = os.path.join(BUILD, "work", "self-test")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        sys.stdout.write(run_jvm(java_cmd(tests + ":" + cp, "graftbench.SelfTest", [work], work),
                                 work))
        return
    workload = "record-expected" if a.record_expected else a.workload
    work = os.path.join(BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--root", ROOT]
    out = run_jvm(java_cmd(cp, "graftbench.Main", args, work), work)
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines or not lines[-1].startswith('{"correct"'):
        fail("no result line")
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
