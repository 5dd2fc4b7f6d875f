#!/usr/bin/env python3
"""Spark jobs per op of a traced lakebench run.

    python3 tools/jobs_by_op.py .bench_build/spans/<workload>-<seed>-1.jsonl

A traced run (`lakebench/run.py --trace 1`) writes one JSON object per line:
"op" spans (one per timed op), "call" spans (the public calls an op made)
and "job" spans (each Spark job, with the op it ran under and the call site
Spark names it by, e.g. "collect at CommitLog.scala:2535"). This prints,
for each op in order, its job count and its jobs' call sites, then per verb
the number of ops, the total jobs and the jobs per op.
"""

import collections
import json
import sys


def load(path):
    ops, jobs = [], collections.defaultdict(list)
    with open(path) as f:
        for line in f:
            s = json.loads(line)
            if s["span"] == "op":
                ops.append(s)
            elif s["span"] == "job":
                jobs[s["op"]].append(s)
    for js in jobs.values():
        js.sort(key=lambda j: (j["start"], j["id"]))
    return ops, jobs


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__.strip())
    ops, jobs = load(argv[1])
    per_verb = collections.OrderedDict()
    for op in ops:
        js = jobs.get(op["id"], [])
        ok = "" if op.get("ok", True) else "  FAILED"
        print(f"op {op['id']:>4} {op['name']:<20} {len(js):>3} jobs{ok}")
        for j in js:
            print(f"        {j['name']}")
        per_verb.setdefault(op["name"], []).append(len(js))
    print()
    print(f"{'verb':<20} {'ops':>4} {'jobs':>5} {'jobs/op':>8}  per op")
    for verb, counts in per_verb.items():
        print(f"{verb:<20} {len(counts):>4} {sum(counts):>5} "
              f"{sum(counts) / len(counts):>8.3f}  {counts}")
    total = sum(sum(c) for c in per_verb.values())
    n = sum(len(c) for c in per_verb.values())
    print(f"{'all':<20} {n:>4} {total:>5} {total / max(n, 1):>8.3f}")


if __name__ == "__main__":
    main(sys.argv)
