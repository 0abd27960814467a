#!/usr/bin/env python3
"""Run one workload of the RAG benchmark from the root of a checkout.

    python3 ragbench/run.py --workload serve --seed 1 --seconds 10 --trace 0
    python3 ragbench/run.py --self-test

Builds the engine (src/main/scala) and the harness (ragbench/src) with the
Scala compiler that ships in the Spark distribution ($SPARK_HOME/jars, or that
of the spark-submit on PATH), once per source change, then runs the harness on the JVM. The harness prints its
report and, as the last line of standard output, one JSON result. See
ragbench/README.md.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(BENCH, ".build")
RESULTS = os.path.join(BENCH, ".results")
WORK = os.path.join(BENCH, ".work")
BUILD_TIMEOUT_S = 840
# the harness must finish inside the 180 s a run may take
RUN_BUDGET_S = 170
HEAP = "3g"
# JDK 17 module opens Spark needs outside spark-submit (the list
# org.apache.spark.launcher.JavaModuleOptions gives, as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"ragbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """$SPARK_HOME/jars, or the jars of a Spark distribution whose bin is on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if os.path.isdir(jars) and any(n.startswith("scala-compiler") for n in os.listdir(jars)):
            return jars
    fail("no Spark distribution with a Scala compiler found; set SPARK_HOME")


def scala_sources(*dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compile_once(name, sources, classpath):
    """Compiles `sources` into .build/<name> unless the same sources already are."""
    digest = hashlib.md5()
    for f in sources:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    digest.update(classpath.encode())
    out = os.path.join(BUILD, name)
    stamp = out + ".stamp"
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".sources"
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources))
    log = out + ".log"
    print(f"ragbench: compiling {len(sources)} sources into {os.path.relpath(out, ROOT)}", flush=True)
    with open(log, "w") as fh:
        code = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.path.join(spark_jars(), "*"),
             "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile],
            stdout=fh, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S).returncode
    if code != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"compile of {name} failed (log: {os.path.relpath(log, ROOT)})")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return out


def build():
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"no engine sources at {os.path.relpath(ENGINE_SRC, ROOT)}/graft; "
             "run from the root of a checkout")
    jars = os.path.join(spark_jars(), "*")
    return compile_once("classes", scala_sources(ENGINE_SRC, os.path.join(BENCH, "src")), jars)


def commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none"
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else "none"


def java(classpath, main, args, work, log):
    """Runs one JVM in its own process group; kills the group on timeout."""
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", "-Xss4m", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, main] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_BUDGET_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_BUDGET_S} s and was stopped (log: {os.path.relpath(log, ROOT)})", 3)
    sys.stdout.write(out)
    sys.stdout.flush()
    if proc.returncode != 0:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
    return proc.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=["serve", "serve_write", "batch_eval"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true", help="run the harness's own tests")
    a = ap.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    classes = build()
    jars = os.path.join(spark_jars(), "*")
    os.makedirs(RESULTS, exist_ok=True)
    name = "self-test" if a.self_test else f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(WORK, f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(RESULTS, f"{name}.log")
    try:
        if a.self_test:
            tests = compile_once("test-classes", scala_sources(os.path.join(BENCH, "test")),
                                 f"{classes}:{jars}")
            code = java(f"{tests}:{classes}:{jars}", "ragbench.SelfTest", [], work, log)
        else:
            code = java(f"{classes}:{jars}", "ragbench.Main", [
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--results", RESULTS,
                "--commit", commit(), "--sources", ENGINE_SRC], work, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
