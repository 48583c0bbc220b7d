#!/usr/bin/env python3
"""Write a capture: end-to-end medians, per-layer metrics and top lists.

    python3 perfbench/capture.py --runs runs.jsonl --out perfbench/captures/seed

`--runs` holds untraced results, one JSON object a line:
{"workload": ..., "seed": ..., "result": <run.py result line>}; without it,
five untraced runs per workload are made. One traced run per workload
(seed 1) gives the per-layer metrics, the spans and the tracing overhead
(traced - untraced median wall_s). Writes <out>.md and <out>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def top(spans, key, n=5):
    """Level-2 spans by name, valued by the median of `key` over passes."""
    by = {}
    for s in spans:
        if s["level"] == 2 and not s["attrs"].get("untimed"):
            by.setdefault(s["name"], []).append(s)
    vals = [(k, ss[0]["attrs"].get("module", ""), statistics.median(map(key, ss)))
            for k, ss in by.items()]
    return sorted([v for v in vals if v[2] > 0], key=lambda v: -v[2])[:n]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]
    if args.runs:
        with open(args.runs) as fh:
            runs = [json.loads(l) for l in fh if l.strip()]
    else:
        runs = [{"workload": w, "seed": s, "result": run(w, s, spec["run_seconds"], 0)}
                for s in range(1, 6) for w in workloads]

    md = ["# Capture", ""]
    raw = {"untraced": runs, "traced": {}}
    for w in workloads:
        rs = [r["result"] for r in runs if r["workload"] == w]
        md += [f"## {w}", "",
               f"End-to-end, {len(rs)} untraced runs (seeds "
               f"{', '.join(str(r['seed']) for r in runs if r['workload'] == w)}); "
               f"failed operations: {sum(r['failed'] for r in rs)} of "
               f"{sum(r['attempted'] for r in rs)}.", "",
               "| metric | unit | q1 | median | q3 | spread (IQR / median) | bound |",
               "| --- | --- | ---: | ---: | ---: | ---: | ---: |"]
        for m in spec["end_to_end"]:
            v = [r["metrics"][m["name"]]["value"] for r in rs]
            q1, med, q3 = statistics.quantiles(v, n=4)[0], statistics.median(v), \
                statistics.quantiles(v, n=4)[2]
            md.append(f"| `{m['name']}` | {m['unit']} | {q1:.4g} | {med:.4g} | {q3:.4g} "
                      f"| {(q3 - q1) / med:.3f} | {m['bound']} |")
        traced = run(w, 1, spec["run_seconds"], 1)
        with open(os.path.join(HERE, "out", f"trace-{w}-1.json")) as fh:
            trace = json.load(fh)
        raw["traced"][w] = {"result": traced, "trace": trace}
        untraced_wall = statistics.median(r["metrics"]["wall_s"]["value"] for r in rs)
        passes = [s for s in trace["spans"] if s["level"] == 1]
        traced_wall = statistics.median(
            s["end_ms"] - s["start_ms"] - sum(c["end_ms"] - c["start_ms"]
                                              for c in trace["spans"]
                                              if c["parent"] == s["id"]
                                              and c["attrs"].get("untimed"))
            for s in passes) / 1e3
        md += ["", f"Tracing overhead: traced pass {traced_wall:.3f} s − untraced "
               f"median `wall_s` {untraced_wall:.3f} s = {traced_wall - untraced_wall:+.3f} s "
               "(median pass of one traced run, seed 1).", "",
               "Per-layer metrics (traced run, seed 1):", "",
               "| metric | value | unit |", "| --- | ---: | --- |"]
        for m in spec["per_layer"]:
            x = traced["metrics"][m["name"]]
            md.append(f"| `{m['name']}` | {x['value']:.6g} | {x['unit']} |")
        spans = trace["spans"]
        build = {}
        for s in spans:
            if s["level"] == 3 and s["name"] == "build":
                build[s["parent"]] = s["end_ms"] - s["start_ms"]
        rows = [
            ("build-heavy (build ms)", lambda s: build.get(s["id"], 0.0)),
            ("shuffle-heavy (shuffle write bytes)", lambda s: s["attrs"].get("shuffle_write_bytes", 0)),
            ("non-codegen (operators outside whole-stage codegen)",
             lambda s: s["attrs"].get("non_codegen_nodes", 0)),
        ]
        for title, f in rows:
            md += ["", f"Top {title}, median over the traced run's passes:", ""]
            for name, module, v in top(spans, f):
                md.append(f"- `{name}` ({module}): {v:.6g}")
        md.append("")
    with open(args.out + ".md", "w") as fh:
        fh.write("\n".join(md) + "\n")
    with open(args.out + ".json", "w") as fh:
        json.dump(raw, fh)


if __name__ == "__main__":
    main()
