#!/usr/bin/env python3
"""Alternating parent/change pairs of untraced graftbench runs:

    python3 plans/r18/dml-jobs/pairs.py <parent-tree> <change-tree> <workload> <out.jsonl> <seed>...

For each seed it runs `graftbench/run.py --workload <workload> --seed <seed>
--seconds 10 --trace 0` once in each tree; the parent runs first at even
positions of the seed list, the change first at odd ones. Each run appends
one line {"side", "seed", "rc", "result", "detail"} to out.jsonl (result and
detail are run.py's last two output lines). Turn the file into a table with
`python3 plans/r18/small-writes/pairs_table.py <out.jsonl>`.
"""
import json
import subprocess
import sys


def run(tree, workload, seed):
    p = subprocess.run([sys.executable, "graftbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", "10", "--trace", "0"],
                       cwd=tree, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    result = json.loads(lines[-1]) if p.returncode == 0 else None
    detail = lines[-2] if p.returncode == 0 and len(lines) > 1 else p.stderr[-2000:]
    return p.returncode, result, detail


def main(parent, change, workload, out, seeds):
    trees = {"parent": parent, "change": change}
    for i, seed in enumerate(int(s) for s in seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            rc, result, detail = run(trees[side], workload, seed)
            with open(out, "a") as f:
                f.write(json.dumps({"side": side, "seed": seed, "rc": rc,
                                    "result": result, "detail": detail}) + "\n")
            print(side, seed, rc, result and result["metrics"].get("write_cpu_p50_ms"), flush=True)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4], sys.argv[5:])
