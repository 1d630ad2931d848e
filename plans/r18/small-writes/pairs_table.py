#!/usr/bin/env python3
"""Table of alternating parent/change pairs of graftbench runs:

    python3 plans/r18/small-writes/pairs_table.py plans/r18/small-writes/pairs_sql_dml.jsonl
"""
import json
import statistics
import sys

BETTER = {"setup_s": -1, "ops_per_cpu_s": 1, "write_cpu_p50_ms": -1, "read_cpu_p50_ms": -1,
          "travel_cpu_p50_ms": -1, "meta_cpu_p50_ms": -1, "bytes_per_user_byte": -1, "heap_mb": -1}

runs = [json.loads(l) for l in open(sys.argv[1]) if l.strip()]
by = {(r["side"], r["seed"]): r for r in runs}
seeds = sorted({r["seed"] for r in runs if ("parent", r["seed"]) in by and ("change", r["seed"]) in by})
ok = all(by[(s, x)]["result"]["correct"] for s in ("parent", "change") for x in seeds)
failed = sum(by[(s, x)]["result"]["failed"] for s in ("parent", "change") for x in seeds)
print(f"runs parent {len(seeds)} change {len(seeds)}; correct all: {ok}; failed ops: {failed}")


def q(xs):
    xs = sorted(xs)
    qs = statistics.quantiles(xs, n=4, method="inclusive")
    return qs[0], statistics.median(xs), qs[2]


def table(title, get, better):
    print(f"{title:<24} {'parent q1/med/q3':>27} {'change q1/med/q3':>27}   move   wins")
    for name, sign in better.items():
        p = [get(by[("parent", s)], name) for s in seeds]
        c = [get(by[("change", s)], name) for s in seeds]
        pq, cq = q(p), q(c)
        move = (cq[1] - pq[1]) / pq[1]
        wins = sum(1 for a, b in zip(p, c) if (b - a) * sign > 0)
        print(f"{name:<24} {pq[0]:>8.4g}/{pq[1]:>8.4g}/{pq[2]:>8.4g} {cq[0]:>8.4g}/{cq[1]:>8.4g}/{cq[2]:>8.4g}"
              f" {move:+.3f}  {wins:>2}/{len(seeds)}  parentIQR {pq[2] - pq[0]:.4g}")


table("metric", lambda r, n: r["result"]["metrics"][n]["value"], BETTER)
print()


def detail(r):
    d = json.loads(r["detail"])
    return d.get("detail", d)


classes = ["write", "read", "travel", "meta"]
table("wall p50 (ms)", lambda r, n: detail(r)["latency"][n]["wall_p50_ms"],
      {c: -1 for c in classes if all(c in detail(by[("parent", s)])["latency"] for s in seeds)})
print()
print("per-kind CPU medians (ms): median over runs of each run's op_p50_ms")
kinds = sorted(detail(by[("parent", seeds[0])])["op_p50_ms"])
for k in kinds:
    p = [detail(by[("parent", s)])["op_p50_ms"][k] for s in seeds]
    c = [detail(by[("change", s)])["op_p50_ms"][k] for s in seeds]
    pm, cm = statistics.median(p), statistics.median(c)
    lower = sum(1 for a, b in zip(p, c) if b < a)
    print(f"{k:<24} {pm:>8.1f}  {cm:>8.1f} {(cm - pm) / pm:+.3f}  change lower in {lower}/{len(seeds)} pairs")
