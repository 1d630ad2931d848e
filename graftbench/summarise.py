#!/usr/bin/env python3
"""Per-layer summary of the graft benchmark, with the tracing overhead.

    python3 graftbench/summarise.py [--seed 1]

For each workload of BENCHMARK.json this makes one untraced and one traced
run at run_seconds with the same seed, then prints every per-layer metric by
name (one column per workload, each figure per operation of its class) and, per
operation class, the traced median CPU time and wall time against the
untraced ones: the tracing overhead. The spans of each traced run are kept under
`.bench_runs/traces/`.
"""
import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
from steadiness import SPEC, run  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    names = [w["name"] for w in SPEC["workloads"]]
    layers, overhead = {}, {}
    for w in names:
        rc0, plain, d0 = run(w, a.seed, SPEC["run_seconds"], trace=0)
        rc1, traced, d1 = run(w, a.seed, SPEC["run_seconds"], trace=1)
        if rc0 or rc1:
            sys.exit("%s: run failed\n%s" % (w, d0 if rc0 else d1))
        if not (plain["correct"] and traced["correct"]):
            sys.exit("%s: wrong answers (untraced %s, traced %s)" % (w, plain, traced))
        layers[w] = traced["metrics"]
        overhead[w] = {c: {k: (d1["latency"][c][k], d0["latency"][c][k])
                           for k in ("cpu_p50_ms", "wall_p50_ms")}
                       for c in d0["latency"]}
    print("%-28s %-6s" % ("per-layer metric", "unit") + "".join(" %15s" % w for w in names))
    for m in SPEC["per_layer"]:
        print("%-28s %-6s" % (m["name"], m["unit"]) +
              "".join(" %15.4g" % layers[w][m["name"]]["value"] for w in names))
    print()
    print("tracing overhead: traced p50 / untraced p50 (ms), seed %d" % a.seed)
    for w in names:
        for k in ("cpu_p50_ms", "wall_p50_ms"):
            print("%-16s %-4s" % (w, k[:4]) + "".join(
                "  %s %.1f/%.1f=%.2fx" % (c, v[k][0], v[k][1], v[k][0] / v[k][1] if v[k][1] else float("nan"))
                for c, v in sorted(overhead[w].items())))
    print(json.dumps({"layers": {w: {k: v["value"] for k, v in layers[w].items()} for w in names},
                      "overhead": overhead}))


if __name__ == "__main__":
    main()
