#!/usr/bin/env python3
"""Benchmark launcher for the annotation-ingest engine.

Run from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds the program (`src/main/scala`) and the benchmark (`perfbench/scala`)
with the Scala compiler that ships in Spark's jar directory, into
`.bench_build/`, then runs `perfbench.Main` in one JVM and relays its
output. The last stdout line is the JSON result. Exits non-zero, without a
result line, if the program sources or the toolchain are missing, the build
fails, or the run exceeds its time limit.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "scala")
RUN_LIMIT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as the
# repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die("no Spark jar directory with a Scala compiler found (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compile_tree(srcs, out_dir, classpath, log):
    os.makedirs(out_dir, exist_ok=True)
    argfile = out_dir + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", out_dir, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        die(f"build failed, see {log.name}")


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the program, then the benchmark against it; each step is
    skipped when its stamp shows the same sources."""
    if not os.path.isdir(PROGRAM_SRC):
        die(f"program sources not found at {PROGRAM_SRC}")
    prog, bench = sources(PROGRAM_SRC), sources(BENCH_SRC)
    if not prog or not bench:
        die("no Scala sources to build")
    jars = spark_jars()
    main_cls = os.path.join(BUILD, "classes", "main")
    bench_cls = os.path.join(BUILD, "classes", "bench")
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    for out, srcs, cp in [(main_cls, prog, jars),
                          (bench_cls, prog + bench, os.pathsep.join([main_cls, jars]))]:
        stamp, want = out + ".stamp", digest(srcs)
        if os.path.exists(stamp) and open(stamp).read() == want:
            continue
        subprocess.run(["rm", "-rf", out, stamp], check=True)
        with open(os.path.join(BUILD, "logs", "build.log"), "a") as log:
            compile_tree([s for s in srcs if s.startswith(BENCH_SRC)] if out == bench_cls else srcs,
                         out, cp, log)
        with open(stamp, "w") as f:
            f.write(want)
    return os.pathsep.join([main_cls, bench_cls, jars])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["ingest", "reingest", "catalog"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-expected", metavar="FILE",
                    help="catalog only: write the result digests to FILE instead of checking them")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    cp = build()
    if a.selftest:
        args = ["--selftest", "1"]
        log_name = "selftest.log"
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--root", ROOT]
        if a.record_expected:
            args += ["--record-expected", os.path.abspath(a.record_expected)]
        log_name = f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"] + opens +
           ["-cp", cp, "perfbench.Main"] + args)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log_path = os.path.join(BUILD, "logs", log_name)
    with open(log_path, "w") as log:
        # Spark's scratch space must stay in the checkout (spark.local.dir);
        # this variable would override it
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=log,
                                text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"run exceeded {RUN_LIMIT_S} s, see {log_path}", 3)
    lines = out.splitlines()
    if proc.returncode not in (0, 1):
        # a crash: keep the diagnostics, but never end on a result line
        for line in lines:
            if not line.startswith("{"):
                print(line)
        print(f"perfbench: exit code {proc.returncode}, see {log_path}", file=sys.stderr)
        sys.exit(proc.returncode)
    # 0: correct; 1: the run finished but some output was wrong
    print("\n".join(lines))
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
