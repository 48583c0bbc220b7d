#!/usr/bin/env python3
"""A/B comparison of two checkouts on the benchmark's end-to-end metrics.

    # run 10 alternating pairs per workload and report
    python3 perfbench/compare.py run --parent ../parent --change . \\
        --pairs 10 --out ab.jsonl
    # report again from the recorded runs
    python3 perfbench/compare.py report ab.jsonl

Each pair runs the parent and the change once on the same seed; which side
runs first alternates. One row per end-to-end metric x workload gives each
side's median and quartiles and a verdict:

  better          the change wins at least 9/10 of the pairs, ties
                  counting for neither, and its median is better than the
                  parent's by more than the parent's interquartile range;
  unresolved      not better, and the parent's spread (IQR / median)
                  exceeds the bound, so the runs cannot tell, unless every
                  change run beats every parent run;
  out of bound    the change's median is worse than the parent's by more
                  than the metric's bound;
  within bound    otherwise: no gain is claimed, and any loss is within
                  the bound, however consistent.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_one(root, workload, seed, seconds):
    cmd = [sys.executable, os.path.join(root, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    if out.returncode != 0:
        raise SystemExit(f"run failed in {root}: {workload} seed {seed}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def quartiles(xs):
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(parent, change, better, bound):
    """Verdict for one metric from paired samples (parent[i], change[i])."""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    pq1, pmed, pq3 = quartiles(parent)
    _, cmed, _ = quartiles(change)
    iqr = pq3 - pq1
    gap = sign * (cmed - pmed)
    n = len(parent)
    if wins * 10 >= 9 * n and gap > iqr:
        return "better"
    if pmed and iqr / abs(pmed) > bound:
        if all(sign * (c - p) > 0 for c in change for p in parent):
            return "better"
        return "unresolved"
    if pmed and -gap / abs(pmed) > bound:
        return "out of bound"
    return "within bound"


def report(rows, spec):
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    print(f"{'workload':<18} {'metric':<14} {'parent q1/med/q3':<32} "
          f"{'change q1/med/q3':<32} {'wins':>5} verdict")
    for w in sorted({r["workload"] for r in rows}):
        pairs = [r for r in rows if r["workload"] == w]
        for name, m in metrics.items():
            p = [r["parent"]["metrics"][name]["value"] for r in pairs]
            c = [r["change"]["metrics"][name]["value"] for r in pairs]
            if len(p) < 2:
                continue
            sign = 1 if m["better"] == "higher" else -1
            wins = sum(1 for a, b in zip(p, c) if sign * (b - a) > 0)
            fmt = lambda xs: "/".join(f"{v:.4g}" for v in quartiles(xs))
            print(f"{w:<18} {name:<14} {fmt(p):<32} {fmt(c):<32} "
                  f"{wins:>2}/{len(p):<2} {verdict(p, c, m['better'], m['bound'])}")
    failed = sum(r[s]["failed"] for r in rows for s in ("parent", "change"))
    print(f"failed operations over all runs: {failed}")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--workloads", nargs="*")
    r.add_argument("--first-seed", type=int, default=1000)
    r.add_argument("--out", required=True)
    p = sub.add_parser("report")
    p.add_argument("file")
    args = ap.parse_args()

    if args.cmd == "report":
        with open(args.file) as fh:
            rows = [json.loads(l) for l in fh if l.strip()]
        report(rows, load_spec(os.path.dirname(HERE)))
        return

    parent, change = os.path.abspath(args.parent), os.path.abspath(args.change)
    spec = load_spec(change)
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    rows = []
    with open(args.out, "a") as fh:
        for i in range(args.pairs):
            seed = args.first_seed + i
            for w in workloads:
                order = [("parent", parent), ("change", change)]
                if i % 2:
                    order.reverse()
                row = {"workload": w, "seed": seed, "first": order[0][0]}
                for side, root in order:
                    row[side] = run_one(root, w, seed, spec["run_seconds"])
                rows.append(row)
                fh.write(json.dumps(row) + "\n")
                fh.flush()
    report(rows, spec)


if __name__ == "__main__":
    main()
