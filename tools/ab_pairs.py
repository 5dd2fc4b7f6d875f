#!/usr/bin/env python3
"""A/B the lake benchmark between two checkouts, in alternating pairs.

    python3 tools/ab_pairs.py <parentDir> <changeDir> --workload W --seeds A-B
    python3 tools/ab_pairs.py <parentDir> <changeDir> --workload all --seeds A-B

For each seed from A to B (inclusive) it runs
`python3 lakebench/run.py --workload W --seed S --trace 0` once in each
checkout, one after the other. Pair i runs the parent first when i is even
and the change first when i is odd, so drift on the machine falls on both
sides alike. Each checkout builds its own engine into its own .bench_build/.

It then prints, for every end-to-end metric that BENCHMARK.json declares:
the parent's and the change's median with their quartiles [q1, q3], and on
how many pairs the change was better. A metric whose change median is worse
than the parent median by more than its bound is flagged WORSE. BENCHMARK.json
is read from the parent checkout and never written.

`--workload all` does this for every workload BENCHMARK.json lists, one after
the other on the same seeds, and ends with one verdict line per workload: OK,
or WORSE with the flagged metrics (a failed run counts as WORSE). That is the
rule "no end-to-end metric worse than its bound on any workload". The exit
status is 1 when a metric is flagged or a run failed, else 0.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    lo, _, hi = text.partition("-")
    lo, hi = int(lo), int(hi or lo)
    if hi < lo:
        raise argparse.ArgumentTypeError(f"empty seed range {text}")
    return list(range(lo, hi + 1))


def run_once(checkout, workload, seed, timeout):
    """One benchmark run; its JSON result, or None when it failed."""
    cmd = [sys.executable, "lakebench/run.py", "--workload", workload,
           "--seed", str(seed), "--trace", "0"]
    try:
        p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                           timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"  {checkout} seed {seed}: timed out", file=sys.stderr)
        return None
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        tail = (p.stderr.strip().splitlines() or ["no output"])[-1]
        print(f"  {checkout} seed {seed}: exit {p.returncode}: {tail}",
              file=sys.stderr)
        return None
    try:
        return json.loads(lines[-1])
    except json.JSONDecodeError:
        print(f"  {checkout} seed {seed}: last line is not JSON",
              file=sys.stderr)
        return None


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def worse_by(parent, change, better):
    """How much worse `change` is than `parent`, as a fraction of parent."""
    delta = change - parent if better == "lower" else parent - change
    if parent == 0:
        return float("inf") if delta > 0 else 0.0
    return delta / abs(parent)


def fmt(x):
    return f"{x:.4g}"


def ab(args, workload, metrics):
    """A/B one workload; the names of the flagged metrics and the count of
    pairs with a failed run."""
    sides = {"parent": args.parent, "change": args.change}
    results = {"parent": [], "change": []}
    failed = 0
    for i, seed in enumerate(args.seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {}
        for side in order:
            pair[side] = run_once(sides[side], workload, seed, args.timeout)
        if pair["parent"] is None or pair["change"] is None:
            failed += 1
            continue
        for side in results:
            results[side].append(pair[side])
        ok = "  ".join(
            f"{s} {pair[s]['attempted'] - pair[s]['failed']}/"
            f"{pair[s]['attempted']} ok" for s in order)
        print(f"{workload} pair {i} seed {seed} ({order[0]} first): {ok}",
              file=sys.stderr)

    n = len(results["parent"])
    print(f"{workload}: {n} pairs, seeds {args.seeds[0]}-"
          f"{args.seeds[-1]}, {failed} pair(s) with a failed run")
    flagged = []
    for m in metrics:
        name, better, bound = m["name"], m["better"], m["bound"]
        p = [r["metrics"][name]["value"] for r in results["parent"]
             if name in r["metrics"]]
        c = [r["metrics"][name]["value"] for r in results["change"]
             if name in r["metrics"]]
        if not p or len(p) != len(c):
            print(f"  {name:18s} missing from some runs")
            flagged.append(name)
            continue
        wins = sum(1 for a, b in zip(p, c) if worse_by(a, b, better) < 0)
        pm, cm = statistics.median(p), statistics.median(c)
        (p1, p3), (c1, c3) = quartiles(p), quartiles(c)
        w = worse_by(pm, cm, better)
        flag = f"  WORSE by {w:.1%} > bound {bound:.0%}" if w > bound else ""
        if flag:
            flagged.append(name)
        print(f"  {name:18s} {fmt(pm)} [{fmt(p1)}, {fmt(p3)}] -> "
              f"{fmt(cm)} [{fmt(c1)}, {fmt(c3)}] {m['unit']}, "
              f"{better} is better, wins {wins}/{n}{flag}")
    return flagged, failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True,
                    help="a workload BENCHMARK.json lists, or 'all'")
    ap.add_argument("--seeds", type=parse_seeds, required=True,
                    help="inclusive range A-B, e.g. 901-910")
    ap.add_argument("--timeout", type=int, default=900,
                    help="seconds allowed for one run, build included")
    args = ap.parse_args()

    with open(os.path.join(args.parent, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    if args.workload == "all":
        workloads = names
    elif args.workload in names:
        workloads = [args.workload]
    else:
        ap.error(f"unknown workload {args.workload}; one of {names} or all")

    verdicts = []
    for w in workloads:
        flagged, failed = ab(args, w, bench["end_to_end"])
        why = flagged + ([f"{failed} failed pair(s)"] if failed else [])
        verdicts.append((w, why))
    if args.workload == "all":
        for w, why in verdicts:
            print(f"VERDICT {w}: " +
                  (f"WORSE ({', '.join(why)})" if why else "OK"))
    return 1 if any(why for _, why in verdicts) else 0


if __name__ == "__main__":
    sys.exit(main())
