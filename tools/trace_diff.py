#!/usr/bin/env python3
"""Per-query diff of two perfbench trace files.

Usage: python3 tools/trace_diff.py A.json B.json

A and B are trace documents written by `perfbench/run.py --trace 1`
(`.bench_out/trace-<workload>-seed<n>.json`). For every query traced in
either file, prints one row: the Spark jobs it launched (construct, plan
and exec together) and its construct, plan and exec seconds, each the
median over the traced passes, as `A -> B`. The last row sums the
per-query medians, i.e. one pass of every query.
"""
import json
import statistics
import sys


def per_query(path):
    """query name -> list of {jobs, construct, plan, exec}, one per traced run."""
    with open(path) as f:
        spans = json.load(f)["spans"]
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def jobs(s):
        return len(s.get("jobs", [])) + sum(jobs(c) for c in kids.get(s["id"], []))

    out = {}
    for q in spans:
        parent = by_id.get(q["parent"])
        if not q["name"].startswith("query:") or parent is None or not parent["name"].startswith("pass:"):
            continue
        run = {"jobs": jobs(q), "construct": 0.0, "plan": 0.0, "exec": 0.0}
        for c in kids.get(q["id"], []):
            if c["name"] in ("construct", "plan", "exec"):
                run[c["name"]] += c["end"] - c["start"]
        out.setdefault(q["name"][len("query:"):], []).append(run)
    return out


def medians(runs):
    return {k: statistics.median(r[k] for r in runs) for k in ("jobs", "construct", "plan", "exec")}


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = per_query(argv[1]), per_query(argv[2])
    names = sorted(set(a) | set(b))
    cols = (("jobs", "{:g}"), ("construct", "{:.3f}"), ("plan", "{:.3f}"), ("exec", "{:.3f}"))
    header = ["query", "passes"] + [c if c == "jobs" else c + "_s" for c, _ in cols]
    rows = []
    total = {"A": {c: 0.0 for c, _ in cols}, "B": {c: 0.0 for c, _ in cols}}
    for n in names:
        ma = medians(a[n]) if n in a else None
        mb = medians(b[n]) if n in b else None
        row = [n, f"{len(a.get(n, []))}/{len(b.get(n, []))}"]
        for c, fmt in cols:
            va = fmt.format(ma[c]) if ma else "-"
            vb = fmt.format(mb[c]) if mb else "-"
            row.append(f"{va} -> {vb}")
        for side, m in (("A", ma), ("B", mb)):
            for c, _ in cols:
                total[side][c] += m[c] if m else 0.0
        rows.append(row)
    rows.append(["all (sum of medians)", ""] +
                [f"{fmt.format(total['A'][c])} -> {fmt.format(total['B'][c])}" for c, fmt in cols])
    widths = [max(len(r[i]) for r in rows + [header]) for i in range(len(header))]
    print(f"A = {argv[1]}\nB = {argv[2]}")
    for r in [header] + rows:
        print("  ".join(v.ljust(w) for v, w in zip(r, widths)).rstrip())


if __name__ == "__main__":
    main(sys.argv)
