#!/usr/bin/env python3
"""Side-by-side comparison of two sets of graft benchmark results.

Usage: python3 graftbench/compare.py A B [--moved 0.10]

A and B are result directories written by run.py --out (or single result
files). For each workload it prints the median and quartiles of every
end-to-end metric over A's runs and over B's runs, then the per-layer
metrics (from --trace 1 runs) whose median moved by more than --moved, the
largest move first, and the tracing overhead of each side: the median over
the seeds run both ways of traced pass_s minus untraced pass_s.
"""
import argparse
import glob
import json
import os
import statistics


def load(path):
    files = [path] if os.path.isfile(path) else glob.glob(os.path.join(path, "*-t[01].json"))
    runs = {}
    for f in sorted(files):
        r = json.load(open(f))
        runs.setdefault((r["workload"], r["trace"]), []).append(r)
    return runs


def stats(runs, name):
    v = [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]
    if not v:
        return None
    if len(v) == 1:
        return v[0], v[0], v[0], 1
    q = statistics.quantiles(v, n=4)
    return statistics.median(v), q[0], q[2], len(v)


def fmt(s):
    return "-" if s is None else f"{s[0]:11.4f} [{s[1]:.4f}, {s[2]:.4f}] n={s[3]}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--moved", type=float, default=0.10)
    args = ap.parse_args()
    a, b = load(args.a), load(args.b)
    for wl in sorted({k[0] for k in list(a) + list(b)}):
        print(f"== {wl}")
        ea, eb = a.get((wl, 0), []), b.get((wl, 0), [])
        names = sorted({k for r in ea + eb for k in r["metrics"]})
        print(f"  {'end to end':28s} {'A median [q1, q3]':>38s}   {'B median [q1, q3]':>38s}   B/A")
        for n in names:
            sa, sb = stats(ea, n), stats(eb, n)
            ratio = f"{sb[0] / sa[0]:.3f}" if sa and sb and sa[0] else "-"
            unit = (ea + eb)[0]["metrics"][n]["unit"]
            print(f"  {n + ' (' + unit + ')':28s} {fmt(sa):>38s}   {fmt(sb):>38s}   {ratio}")
        for side, runs in (("A", ea), ("B", eb)):
            if runs:
                att = sum(r["attempted"] for r in runs)
                print(f"  failed_frac {side}: {sum(r['failed'] for r in runs) / att:.4f} "
                      f"of {att} executions")
        la, lb = a.get((wl, 1), []), b.get((wl, 1), [])
        if la and lb:
            moved = []
            for n in sorted({k for r in la + lb for k in r["metrics"]}):
                sa, sb = stats(la, n), stats(lb, n)
                if not sa or not sb:
                    continue
                base = max(abs(sa[0]), abs(sb[0]))
                if base and abs(sb[0] - sa[0]) / base > args.moved:
                    moved.append((abs(sb[0] - sa[0]) / base, n, sa[0], sb[0]))
            print(f"  per layer, moved by more than {args.moved:.0%}:")
            for _, n, va, vb in sorted(moved, reverse=True):
                print(f"    {n:40s} {va:14.4f} -> {vb:14.4f}")
            if not moved:
                print("    (none)")
        for side, e, t in (("A", ea, la), ("B", eb, lb)):
            untraced = {r["seed"]: r["metrics"]["pass_s"]["value"] for r in e}
            traced = {r["seed"]: r["metrics"]["trace.pass_s"]["value"] for r in t}
            seeds = sorted(set(untraced) & set(traced))
            if seeds:
                d = statistics.median(traced[s] - untraced[s] for s in seeds)
                rel = statistics.median((traced[s] - untraced[s]) / untraced[s] for s in seeds)
                print(f"  tracing overhead {side}: {d:+.4f} s per pass ({rel:+.1%}), "
                      f"median over seeds {', '.join(map(str, seeds))}")


if __name__ == "__main__":
    main()
