#!/usr/bin/env python3
"""Spark jobs per statement kind, from the spans of a traced graftbench run:

    python3 plans/r18/dml-jobs/jobs_by_kind.py .bench_runs/traces/trace-sql_dml-21.jsonl

A traced run (`graftbench/run.py --trace 1`, or `graftbench/summarise.py`)
writes one span per line; each carries the id of the operation it belongs
to. For every operation kind this prints how many operations the trace
holds and the Spark jobs (`layer == "spark"` spans) of each of them.
"""
import collections
import json
import sys

kind = {}
jobs = collections.Counter()
for line in open(sys.argv[1]):
    s = json.loads(line)
    if s["layer"] == "op":
        kind[s["op"]] = s["name"]
    elif s["layer"] == "spark":
        jobs[s["op"]] += 1
per_kind = collections.defaultdict(list)
for op, name in sorted(kind.items()):
    per_kind[name].append(jobs[op])
print("%-24s %4s %10s  %s" % ("operation kind", "ops", "mean jobs", "jobs per op"))
for name in sorted(per_kind):
    js = per_kind[name]
    print("%-24s %4d %10.2f  %s" % (name, len(js), sum(js) / len(js), " ".join(map(str, js))))
