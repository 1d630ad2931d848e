#!/usr/bin/env python3
"""Steadiness check of the graft benchmark, and its smoke test.

    python3 graftbench/steadiness.py --workload sql_dml [--runs 10] [--gap 300]
    python3 graftbench/steadiness.py --smoke

Set mode runs one workload at BENCHMARK.json's run_seconds in two sets of
`--runs` runs: seeds 1..runs, then, `--gap` seconds later, seeds
runs+1..2*runs. For every end-to-end metric of BENCHMARK.json it prints each
set's median and spread (distance between the first and third quartile as a
share of the median) and how far the second median moved in the metric's
worse direction; then each operation kind's median latency per set, which
shows the kinds that no class median falls on. It fails when a spread or a
move exceeds the metric's bound, or when any run answered wrongly or had a
failed operation.

Smoke mode makes a short run of every workload (a one-second window, so
two rounds), one short traced run, and the self-test of every workload (the
checks must catch a deliberately wrong model). It checks the harness and the
model end to end in a few minutes.

Every run's result and detail line is appended to
`.bench_runs/steadiness-<workload>.jsonl`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, seed, seconds, trace=0, selftest=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if selftest:
        cmd += ["--selftest", "1"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return p.returncode, None, p.stderr[-3000:]
    return 0, json.loads(lines[-1]), json.loads(lines[-2])["detail"] if len(lines) > 1 else None


def spread(values):
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q[2] - q[0]) / med if med else float("inf")


def one_set(workload, seeds, log):
    rows = []
    for s in seeds:
        rc, res, detail = run(workload, s, SPEC["run_seconds"])
        if rc != 0:
            sys.exit("run failed (seed %d):\n%s" % (s, detail))
        rows.append((res, detail))
        log.write(json.dumps({"time": time.time(), "result": res, "detail": detail}) + "\n")
        log.flush()
        print("  seed %-4d attempted %-5d failed %-3d %s" % (
            s, res["attempted"], res["failed"],
            " ".join("%s=%.4g" % (k, v["value"]) for k, v in res["metrics"].items())),
            flush=True)
    return rows


def check_sets(workload, sets):
    ok = True
    for i, rows in enumerate(sets):
        bad = [d["seed"] for r, d in rows if not r["correct"] or r["failed"]]
        if bad:
            print("FAIL: set %d has wrong answers or failed operations at seeds %s" % (i + 1, bad))
            ok = False
    print("%-22s %5s %12s %8s %12s %8s %8s" % (
        "metric", "bound", "median1", "spread1", "median2", "spread2", "move"))
    for m in SPEC["end_to_end"]:
        name, bound = m["name"], m["bound"]
        stats = [spread([r["metrics"][name]["value"] for r, _ in rows]) for rows in sets]
        line = "%-22s %5.2f" % (name, bound)
        for med, sp in stats:
            line += " %12.5g %8.4f" % (med, sp)
        (m1, _), (m2, _) = stats
        move = (m2 - m1) / m1 if m["better"] == "lower" else (m1 - m2) / m1
        line += " %8.4f" % move
        if any(sp > bound for _, sp in stats):
            ok = False
            line += " SPREAD>BOUND"
        if move > bound:
            ok = False
            line += " MOVE>BOUND"
        print(line)
    print("%-22s %5s %12s %8s %12s %8s" % ("operation kind p50", "", "median1", "spread1", "median2", "spread2"))
    for kind in sorted(sets[0][0][1]["op_p50_ms"]):
        print("%-28s" % kind + "".join(" %12.5g %8.4f" % spread([d["op_p50_ms"][kind] for _, d in rows])
                                       for rows in sets))
    print("%s: %s" % (workload, "steady" if ok else "NOT steady"))
    return ok


def smoke():
    ok = True
    names = [w["name"] for w in SPEC["workloads"]]
    e2e = [m["name"] for m in SPEC["end_to_end"]]
    layers = [m["name"] for m in SPEC["per_layer"]]
    for w in names:
        rc, res, detail = run(w, 1, 1)
        good = rc == 0 and res["correct"] and res["failed"] == 0 and \
            sorted(res["metrics"]) == sorted(e2e) and \
            all(res["metrics"][n]["value"] > 0 for n in e2e)
        print("%-16s short run: %s" % (w, "ok" if good else "FAIL %s" % (res or detail)))
        ok &= good
        rc, res, detail = run(w, 1, 1, selftest=1)
        print("%-16s self-test (wrong model caught): %s" % (w, "ok" if rc == 0 else "FAIL"))
        ok &= rc == 0
    rc, res, detail = run(names[0], 1, 1, trace=1)
    good = rc == 0 and res["correct"] and sorted(res["metrics"]) == sorted(layers)
    print("%-16s traced run: %s" % (names[0], "ok" if good else "FAIL %s" % (res or detail)))
    ok &= good
    print("smoke: %s" % ("ok" if ok else "FAILED"))
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--workload")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--gap", type=float, default=300, help="seconds between the sets")
    a = ap.parse_args()
    if a.smoke:
        sys.exit(0 if smoke() else 1)
    if not a.workload:
        ap.error("--workload or --smoke is required")
    os.makedirs(os.path.join(ROOT, ".bench_runs"), exist_ok=True)
    log = open(os.path.join(ROOT, ".bench_runs", "steadiness-%s.jsonl" % a.workload), "a")
    sets = []
    for i in range(2):
        if i:
            time.sleep(a.gap)
        seeds = range(1 + i * a.runs, 1 + (i + 1) * a.runs)
        print("set %d, seeds %d..%d" % (i + 1, seeds[0], seeds[-1]), flush=True)
        sets.append(one_set(a.workload, seeds, log))
    sys.exit(0 if check_sets(a.workload, sets) else 1)


if __name__ == "__main__":
    main()
