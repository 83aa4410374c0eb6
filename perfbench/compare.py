#!/usr/bin/env python3
"""Compare two checkouts with the benchmark, pair by pair.

    python3 perfbench/compare.py --a PARENT --b CHANGE [--out pairs.jsonl]
    python3 perfbench/compare.py --from pairs.jsonl

PARENT and CHANGE are checkout roots that each hold perfbench/. For each
workload of BENCHMARK.json it runs `perfbench/run.py` in both, ten times,
with a new seed per pair and the side that goes first alternating, and
appends every result line to --out. It then prints one row per workload and
end-to-end metric: each side's median and quartiles, the share of pairs
each side wins (ties count for neither) and a verdict against the bounds in
BENCHMARK.json:

- incorrect: some run of B is incorrect, or B's runs fail more entries
  than A's; no gain counts then;
- improved: B wins at least 9 in 10 pairs and the medians differ, in B's
  favour, by more than A's quartile distance;
- worse: B's median is worse than A's by more than the bound;
- unresolved: A's quartile distance is wider than the bound, unless every
  run of B is better than every run of A;
- unchanged: otherwise.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# the rule needs ten pairs to call a change improved or worse
PAIRS = 10


def run_side(root, workload, seed, seconds):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        workload, "--seed", str(seed), "--seconds",
                        str(seconds), "--trace", "0"], cwd=root,
                       capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"run failed in {root}: {r.stderr.strip()[-500:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def verdict(a, b, better, bound, b_failing):
    sign = 1 if better == "lower" else -1
    ma, mb = statistics.median(a), statistics.median(b)
    q1, q3 = quartiles(a)
    wins_b = sum(1 for x, y in zip(a, b) if sign * (x - y) > 0)
    wins_a = sum(1 for x, y in zip(a, b) if sign * (y - x) > 0)
    n = len(a)
    worse_by = sign * (mb - ma) / ma if ma else 0.0
    if b_failing:
        v = "incorrect"
    elif wins_b >= 0.9 * n and sign * (ma - mb) > q3 - q1:
        v = "improved"
    elif worse_by > bound:
        v = "worse"
    elif (q3 - q1) / ma > bound and not \
            all(sign * (x - y) > 0 for x in a for y in b):
        v = "unresolved"
    else:
        v = "unchanged"
    return v, wins_a / n, wins_b / n


def report(rows, spec):
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    print(f"{'workload':8} {'metric':14} {'A median [q1,q3]':>28} "
          f"{'B median [q1,q3]':>28} {'A wins':>6} {'B wins':>6}  verdict")
    for w in sorted({r["workload"] for r in rows}):
        mine = [r for r in rows if r["workload"] == w]
        b_failing = any(not r["b"]["correct"] for r in mine) or \
            sum(r["b"]["failed"] for r in mine) > \
            sum(r["a"]["failed"] for r in mine)
        for name, m in bounds.items():
            a = [r["a"]["metrics"][name]["value"] for r in mine]
            b = [r["b"]["metrics"][name]["value"] for r in mine]
            v, wa, wb = verdict(a, b, m["better"], m["bound"], b_failing)
            fa, fb = quartiles(a), quartiles(b)
            print(f"{w:8} {name:14} "
                  f"{statistics.median(a):10.4f} [{fa[0]:.4f},{fa[1]:.4f}] "
                  f"{statistics.median(b):10.4f} [{fb[0]:.4f},{fb[1]:.4f}] "
                  f"{wa:6.0%} {wb:6.0%}  {v}")
        bad = [r for r in mine if not (r["a"]["correct"] and r["b"]["correct"])]
        if bad:
            print(f"{w:8} incorrect results in {len(bad)} of {len(mine)} pairs")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--a")
    ap.add_argument("--b")
    ap.add_argument("--out", default=".bench_build/pairs.jsonl")
    ap.add_argument("--from", dest="src")
    args = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.src:
        with open(args.src) as fh:
            rows = [json.loads(line) for line in fh if line.strip()]
    else:
        if not (args.a and args.b):
            ap.error("give --a and --b, or --from")
        rows = []
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "a") as out:
            for w in (w["name"] for w in spec["workloads"]):
                for i in range(PAIRS):
                    seed = 1000 + i
                    sides = [("a", args.a), ("b", args.b)]
                    row = {"workload": w, "seed": seed,
                           "first": sides[i % 2][0]}
                    for key, root in (sides if i % 2 == 0 else sides[::-1]):
                        row[key] = run_side(root, w, seed, spec["run_seconds"])
                    rows.append(row)
                    out.write(json.dumps(row) + "\n")
                    out.flush()
    report(rows, spec)


if __name__ == "__main__":
    main()
