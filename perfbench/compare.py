#!/usr/bin/env python3
"""Compare two sets of benchmark result files.

    python3 perfbench/compare.py BASE_DIR [NEW_DIR]

Each directory holds the records run.py writes to perfbench/results/ (one
per workload, seed and trace setting). For every workload and end-to-end
metric of BENCHMARK.json the command prints each side's median and
quartiles, the run-to-run spread (quartile distance over median) and a
verdict against the metric's bound:

  better / worse  the median moved by more than the bound
  unchanged       it moved by less than the bound
  unresolved      a side's spread is wider than the bound, and not every
                  new run beats every base run

Traced records (--trace 1) add the per-layer counters: each side's value
and the delta. A counter is non-deterministic, listed but not compared,
when the traced runs of one side disagree on it or a traced run saw it
differ between its two passes. With one directory only the spreads are printed.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    recs = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        r = json.load(open(f))
        if "workload" in r:
            recs.setdefault((r["workload"], r["trace"]), []).append(r)
    return recs


def summary(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
    return q2, q1, q3, (q3 - q1) / q2 if q2 else float("inf")


def verdict(a, b, better, bound):
    ma, mb = summary(a)[0], summary(b)[0]
    worse_by = (mb - ma) / ma if better == "lower" else (ma - mb) / ma
    if max(summary(a)[3], summary(b)[3]) > bound:
        beats = (max(b) < min(a)) if better == "lower" else (min(b) > max(a))
        return "better" if beats else "unresolved"
    if worse_by > bound:
        return "worse"
    return "better" if worse_by < -bound else "unchanged"


def fmt(s):
    med, q1, q3, spread = s
    return f"{med:10.4f} [{q1:.4f}, {q3:.4f}] spread {spread:6.1%}"


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    base = load(argv[1])
    new = load(argv[2]) if len(argv) == 3 else None
    workloads = sorted({w for w, _ in base})
    for w in workloads:
        runs_a = base.get((w, 0), [])
        runs_b = new.get((w, 0), []) if new else []
        print(f"== {w}: {len(runs_a)} base runs" + (f", {len(runs_b)} new runs" if new else ""))
        for m in spec["end_to_end"]:
            a = [r["end_to_end"][m["name"]] for r in runs_a]
            if not a:
                continue
            line = f"  {m['name']:14s} {m['unit']:>3s} bound {m['bound']:.0%}  base {fmt(summary(a))}"
            b = [r["end_to_end"][m["name"]] for r in runs_b]
            if b:
                line += f"  new {fmt(summary(b))}  {verdict(a, b, m['better'], m['bound'])}"
            print(line)
        fails = [r["failed_frac"] for r in runs_a + runs_b]
        if fails:
            print(f"  failed_frac max {max(fails):.4f}")
        traced_a = base.get((w, 1), [])
        traced_b = new.get((w, 1), []) if new else []
        if traced_a and (traced_b or not new):
            print(f"  counters (traced runs: {len(traced_a)} base, {len(traced_b)} new)")
            for k in sorted(traced_a[0]["per_layer"]):
                if k.endswith(("_s", "core_util", "_mb")):
                    continue
                sides = [[r["per_layer"][k] for r in runs] for runs in (traced_a, traced_b) if runs]
                # a counter is used only when every traced run of a side
                # agrees on it and no run found it varying between passes
                nondet = (any(len(set(vs)) > 1 for vs in sides) or
                          any(k in r["nondeterministic"] for r in traced_a + traced_b))
                values = " ".join(f"{min(vs):.0f}..{max(vs):.0f}" for vs in sides)
                if nondet:
                    print(f"    {k:34s} {values}  non-deterministic, not compared")
                elif traced_b:
                    va, vb = sides[0][0], sides[1][0]
                    print(f"    {k:34s} {va:16.0f} -> {vb:16.0f}  delta {vb - va:+.0f}")
                else:
                    print(f"    {k:34s} {sides[0][0]:16.0f}")

if __name__ == "__main__":
    main(sys.argv)
