#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or summarize the spread of one.

    python3 perfbench/compare.py <set A> [<set B>] [--bench BENCHMARK.json]

A set is a directory searched for `result.json` run artifacts (run.py
leaves one per run under `<build>/runs/`), or a JSON-lines file whose
records are `{"workload": ..., "seed": ..., "result": <run.py's last line>}`.

For every workload x end-to-end metric it prints each set's median and
quartiles and the spread (interquartile range over median). With two sets it
adds the change of the median, the share of seed-matched pairs that B wins,
and a verdict: `unresolved` when either set's spread exceeds the metric's
bound, else `worse` / `better` when the medians differ by more than the
bound, else `same`.
"""
import argparse
import glob
import json
import os
import statistics


def load_set(path):
    """{workload: {seed: metrics}} of the set's untraced runs."""
    records = []
    if os.path.isdir(path):
        for p in sorted(glob.glob(os.path.join(path, "**", "result.json"), recursive=True)):
            with open(p) as f:
                r = json.load(f)
            records.append({"workload": r["args"]["workload"], "seed": r["args"]["seed"],
                            "trace": r["args"]["trace"], "result": r["result"]})
    else:
        with open(path) as f:
            records = [json.loads(line) for line in f if line.strip()]
    out = {}
    for r in records:
        if r.get("trace", 0):
            continue
        out.setdefault(r["workload"], {})[r["seed"]] = {
            k: v["value"] for k, v in r["result"]["metrics"].items()}
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b", nargs="?")
    ap.add_argument("--bench", default="BENCHMARK.json")
    args = ap.parse_args()
    with open(args.bench) as f:
        bench = json.load(f)
    metrics = [(m["name"], m["bound"], m["better"]) for m in bench["end_to_end"]]
    a = load_set(args.a)
    b = load_set(args.b) if args.b else {}
    worst = 0
    for wl in sorted(set(a) | set(b)):
        print(f"== {wl}: A {len(a.get(wl, {}))} runs" + (f", B {len(b.get(wl, {}))} runs" if b else ""))
        for name, bound, better in metrics:
            xa = [m[name] for m in a.get(wl, {}).values() if name in m]
            if not xa:
                continue
            qa = quartiles(xa)
            line = (f"  {name:24s} A med {qa[1]:.6g} [{qa[0]:.6g}, {qa[2]:.6g}] "
                    f"spread {spread(xa):.3f} (bound {bound})")
            if b:
                xb = [m[name] for m in b.get(wl, {}).values() if name in m]
                if not xb:
                    continue
                qb = quartiles(xb)
                sign = 1 if better == "lower" else -1
                change = (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
                pairs = [(a[wl][s][name], b[wl][s][name]) for s in a[wl] if s in b.get(wl, {})]
                wins = sum(1 for x, y in pairs if sign * (y - x) < 0) / len(pairs) if pairs else 0.0
                if max(spread(xa), spread(xb)) > bound:
                    verdict = "unresolved"
                elif sign * change > bound:
                    verdict, worst = "worse", 1
                elif -sign * change > bound:
                    verdict = "better"
                else:
                    verdict = "same"
                line += (f" | B med {qb[1]:.6g} [{qb[0]:.6g}, {qb[2]:.6g}] spread {spread(xb):.3f}"
                         f" change {change:+.3f} B wins {wins:.2f} of {len(pairs)} pairs: {verdict}")
            elif name != "setup_s" and spread(xa) > bound / 3:
                line += "  (spread above a third of the bound)"
            print(line)
    return worst


if __name__ == "__main__":
    raise SystemExit(main())
