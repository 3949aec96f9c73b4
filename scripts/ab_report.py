#!/usr/bin/env python3
"""Summarize an ab_r16 run: per query, median of the 3 per-JVM medians
for A and B, plus MEDIAN job counts across reps (r16 ADVICE: the first
rep's job count alone can mislead when AQE replans between reps).
Queries present on only one side are flagged explicitly instead of
printing nan ratios. Usage: ab_report.py <name>"""
import json, sys, glob, statistics as st
name = sys.argv[1]
def record(path):
    """The captured line that carries the per-query map, or None: a capture
    may hold log lines, several JSON lines or a truncated tail."""
    found = None
    for line in open(path, errors="replace").read().splitlines():
        try:
            d = json.loads(line)
        except ValueError:
            continue
        if isinstance(d, dict) and isinstance(d.get("queries"), dict):
            found = d
    return found
def load(side):
    out = {}
    for f in sorted(glob.glob(f"target/ab_r16/{name}_{side}[0-9].json")):
        d = record(f)
        if d is None:
            print(f"ab_report: skipping {f}: no line carries \"queries\"", file=sys.stderr)
            continue
        for q, v in d["queries"].items():
            out.setdefault(q, []).append((v[0], v[2]))
    return out
A, B = load("A"), load("B")
print(f"{'query':45s} {'A_med':>7s} {'B_med':>7s} {'B/A':>6s} {'jobsA':>6s} {'jobsB':>6s}")
for q in sorted(set(A) | set(B)):
    if q not in A or q not in B:
        side = "A" if q in A else "B"
        print(f"{q:45s}  ONE-SIDED ({side} only) — not comparable")
        continue
    am = st.median([x[0] for x in A[q]])
    bm = st.median([x[0] for x in B[q]])
    ja = int(st.median([x[1] for x in A[q]]))
    jb = int(st.median([x[1] for x in B[q]]))
    print(f"{q:45s} {am:7.2f} {bm:7.2f} {bm/am:6.2f} {ja:6d} {jb:6d}")
