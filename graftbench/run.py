#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

    python3 graftbench/run.py --workload commit_stream --seed 1 --seconds 10 --trace 0

Run from the repository root. The command builds graft and the harness from
the working tree (graftbench/build.py; reused while the sources are
unchanged), then launches one JVM straight from the compiled classes with a
fixed heap. The JVM sets up a fresh table under a fresh directory, warms up,
runs the workload as a closed loop with one client for --seconds, checks
every answer against the benchmark's own model of the table, and reports.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics of a traced run with `--trace 1`. The
line before it carries each latency's sample count and tail percentile.

Everything a run writes stays under `.bench_build/` and `.bench_runs/` in
the repository root; the per-run directory is removed when the run ends.
A failed run prints the tail of the JVM's log to standard error.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("commit_stream", "sql_dml")
HEAP = "1g"
# JDK 17 module opens Spark needs outside spark-submit (same list as
# build.sbt's forked-run flags).
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", type=int, choices=(0, 1), default=0,
                    help="1: feed the checks a deliberately wrong model and "
                         "exit 0 only if they catch it")
    return ap.parse_args(argv)


def main(argv):
    args = parse_args(argv)
    main_cls, bench_cls = build.build()
    runs = os.path.join(build.ROOT, ".bench_runs")
    work = os.path.join(runs, "run-%d-%d" % (os.getpid(), time.time_ns()))
    os.makedirs(os.path.join(work, "tmp"))
    cpus = min(4, os.cpu_count() or 1)
    jars = os.path.join(build.spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xms" + HEAP, "-Xmx" + HEAP,
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dfile.encoding=UTF-8", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-cp", os.pathsep.join([bench_cls, main_cls, jars]), "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--selftest", str(args.selftest), "--cpus", str(cpus),
            "--workdir", work, "--tracedir", os.path.join(runs, "traces")]
    env = dict(os.environ, LC_ALL="C.UTF-8")
    log_path = os.path.join(work, "jvm.log")
    rc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    env=env, start_new_session=True)
            try:
                rc = proc.wait(timeout=args.seconds + 150)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                print("graftbench: JVM timed out", file=sys.stderr)
        result_path = os.path.join(work, "result.json")
        if rc != 0 or not os.path.exists(result_path):
            with open(log_path, errors="replace") as fh:
                sys.stderr.write("".join(fh.readlines()[-60:]))
            print("graftbench: JVM exited with %s" % rc, file=sys.stderr)
            return 1
        with open(os.path.join(work, "detail.json")) as fh:
            print(fh.read().strip())
        with open(result_path) as fh:
            result = json.load(fh)
        print(json.dumps(result, separators=(", ", ": ")))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
