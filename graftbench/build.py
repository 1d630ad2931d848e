#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles graft's main sources (`src/main/scala`) and the benchmark harness
(`graftbench/src`) with the Scala compiler that ships in Spark's jar
directory, so no build tool's start-up ever lands in a benchmark run.

    python3 graftbench/build.py            # from the repository root

Output goes to `.bench_build/graftbench/`:
`main/` and `bench/` class directories, each beside a `.stamp` file holding
a hash of the sources it was compiled from. A directory whose stamp matches
is reused, so only the first run in a checkout pays the compile (about 35 s
on 4 cores).
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def build_dir():
    return os.path.join(ROOT, ".bench_build", "graftbench")


def scala_sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(spark_jars()))).encode())
    return h.hexdigest()


def scalac(srcs, classpath, out_dir, work):
    os.makedirs(out_dir)
    argfile = os.path.join(work, os.path.basename(out_dir) + ".args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx1536m",
           "-Djava.io.tmpdir=" + work, "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out_dir, "-classpath", classpath, "@" + argfile]
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def compiled(out_dir, srcs, classpath, extra_stamp=""):
    """Compile `srcs` into `out_dir` unless its stamp already matches."""
    stamp = source_stamp(srcs) + extra_stamp
    stamp_file = out_dir + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return stamp
    shutil.rmtree(out_dir, ignore_errors=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    work = out_dir + ".tmp"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    scalac(srcs, classpath, os.path.join(work, "classes"), work)
    os.rename(os.path.join(work, "classes"), out_dir)
    shutil.rmtree(work)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return stamp


def build():
    """Return (main_classes, bench_classes), compiling what changed."""
    main_files = scala_sources(MAIN_SRC) if os.path.isdir(MAIN_SRC) else []
    if not main_files:
        raise SystemExit("graftbench: no graft sources under src/main/scala")
    if not os.path.isdir(spark_jars()):
        raise SystemExit("graftbench: no Spark jars at " + spark_jars())
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    jars = os.path.join(spark_jars(), "*")
    main_dir, bench_dir = os.path.join(out, "main"), os.path.join(out, "bench")
    main_stamp = compiled(main_dir, main_files, jars)
    compiled(bench_dir, scala_sources(BENCH_SRC), main_dir + os.pathsep + jars, main_stamp)
    return main_dir, bench_dir


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    print("\n".join(build()))
