#!/usr/bin/env python3
"""Summarise and compare benchmark result files.

  python3 perfbench/compare.py summary <results> [--json OUT]
      Per workload: median, quartiles and spread ((Q3-Q1)/median) of every
      end-to-end metric over the untraced runs, the per-layer medians of
      the traced runs, and the tracing overhead (traced minus untraced
      median of each end-to-end metric).

  python3 perfbench/compare.py diff <parent results> <change results> \
      [--claim WORKLOAD/METRIC ...]
      Per workload x end-to-end metric: each side's median and quartiles,
      the ratio change/parent (base: the parent median) and a verdict under
      the bounds in BENCHMARK.json: better, no worse, worse or unresolved.
      For each named claim it prints the pair-win count over runs paired by
      seed. Per-layer medians are printed beside, without a verdict.

<results> is a directory of result files (.bench_build/results by default
in a checkout) or a list of files, as perfbench/run.py writes them.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
E2E = {m["name"]: m for m in BENCH["end_to_end"]}
LAYERS = {m["name"]: m for m in BENCH["per_layer"]}
# a gain counts only if the change wins this share of the seed pairs
PAIR_WIN_SHARE = 0.9


def load(paths):
    files = []
    for p in paths:
        files += sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
    runs = []
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if "workload" in r and "end_to_end" in r:
            runs.append(r)
    return runs


def values(runs, workload, trace, section, metric):
    return [r[section][metric]["value"] for r in runs
            if r["workload"] == workload and r["trace"] == trace and metric in r[section]]


def quart(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (None, None, None)
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spread(xs):
    q1, med, q3 = quart(xs)
    return (q3 - q1) / med if med else 0.0


def fmt(x):
    return "-" if x is None else f"{x:.4g}"


def summary(runs):
    out = {}
    for w in sorted({r["workload"] for r in runs}):
        rec = {"end_to_end": {}, "per_layer": {}, "tracing_overhead": {}}
        plain = [r for r in runs if r["workload"] == w and r["trace"] == 0]
        traced = [r for r in runs if r["workload"] == w and r["trace"] == 1]
        print(f"== {w}: {len(plain)} untraced runs (seeds {sorted(r['seed'] for r in plain)}), "
              f"{len(traced)} traced")
        for m in E2E:
            xs = values(runs, w, 0, "end_to_end", m)
            if not xs:
                continue
            q1, med, q3 = quart(xs)
            rec["end_to_end"][m] = {"median": med, "q1": q1, "q3": q3, "spread": spread(xs),
                                    "n": len(xs), "unit": E2E[m]["unit"], "bound": E2E[m]["bound"]}
            print(f"  {m:18s} median {fmt(med)} {E2E[m]['unit']}  Q1 {fmt(q1)}  Q3 {fmt(q3)}  "
                  f"spread {spread(xs):.3f} (bound {E2E[m]['bound']})")
            ts = values(runs, w, 1, "end_to_end", m)
            if ts:
                d = statistics.median(ts) - med
                rec["tracing_overhead"][m] = {"traced_median": statistics.median(ts),
                                              "untraced_median": med, "difference": d}
        if rec["tracing_overhead"]:
            print("  tracing overhead (traced - untraced median): " + ", ".join(
                f"{m} {v['difference']:+.4g} (base {fmt(v['untraced_median'])})"
                for m, v in rec["tracing_overhead"].items()))
        for m in LAYERS:
            xs = values(runs, w, 1, "per_layer", m)
            if xs:
                rec["per_layer"][m] = {"median": statistics.median(xs), "min": min(xs),
                                       "max": max(xs), "n": len(xs), "unit": LAYERS[m]["unit"]}
        if rec["per_layer"]:
            print("  per layer (traced median): " + ", ".join(
                f"{m} {fmt(v['median'])}" for m, v in rec["per_layer"].items()))
        out[w] = rec
    return out


def worse_by(metric, parent, change):
    """Relative worsening of change against parent (positive = worse)."""
    d = (change - parent) / parent if parent else 0.0
    return d if E2E[metric]["better"] == "lower" else -d


def verdict(metric, pv, cv):
    bound = E2E[metric]["bound"]
    lower = E2E[metric]["better"] == "lower"
    pm, cm = statistics.median(pv), statistics.median(cv)
    all_better = (max(cv) < min(pv)) if lower else (min(cv) > max(pv))
    if all_better:
        return "better"
    if worse_by(metric, pm, cm) > bound:
        return "worse"
    if spread(pv) > bound or spread(cv) > bound:
        return "unresolved"
    q1, _, q3 = quart(pv)
    if -worse_by(metric, pm, cm) * pm > (q3 - q1):
        return "better"
    return "no worse"


def pair_wins(metric, parent, change, workload):
    by_seed = lambda rs: {r["seed"]: r["end_to_end"][metric]["value"] for r in rs
                          if r["workload"] == workload and r["trace"] == 0}
    p, c = by_seed(parent), by_seed(change)
    wins = ties = losses = 0
    for s in sorted(set(p) & set(c)):
        d = worse_by(metric, p[s], c[s])
        if d < 0:
            wins += 1
        elif d > 0:
            losses += 1
        else:
            ties += 1
    return wins, ties, losses


def diff(parent, change, claims):
    for w in sorted({r["workload"] for r in parent} & {r["workload"] for r in change}):
        print(f"== {w}")
        for m in E2E:
            pv, cv = values(parent, w, 0, "end_to_end", m), values(change, w, 0, "end_to_end", m)
            if not pv or not cv:
                continue
            pq, cq = quart(pv), quart(cv)
            ratio = cq[1] / pq[1] if pq[1] else float("nan")
            print(f"  {m:18s} parent {fmt(pq[1])} [{fmt(pq[0])}, {fmt(pq[2])}] n={len(pv)}  "
                  f"change {fmt(cq[1])} [{fmt(cq[0])}, {fmt(cq[2])}] n={len(cv)}  "
                  f"ratio {ratio:.4f} (base parent median {fmt(pq[1])} {E2E[m]['unit']})  "
                  f"-> {verdict(m, pv, cv)}")
        for m in LAYERS:
            pv, cv = values(parent, w, 1, "per_layer", m), values(change, w, 1, "per_layer", m)
            if pv and cv:
                pm, cm = statistics.median(pv), statistics.median(cv)
                base = f"ratio {cm / pm:.4f} (base {fmt(pm)})" if pm else f"base {fmt(pm)}"
                print(f"  layer {m:24s} parent {fmt(pm)}  change {fmt(cm)}  {base}")
    for claim in claims:
        w, m = claim.split("/", 1)
        wins, ties, losses = pair_wins(m, parent, change, w)
        n = wins + ties + losses
        ok = n >= 10 and wins >= PAIR_WIN_SHARE * n
        print(f"claim {claim}: change wins {wins} of {n} seed pairs ({ties} ties, {losses} losses)"
              f" -> {'met' if ok else 'not met'} on the pair rule (>= {PAIR_WIN_SHARE:.0%} of >= 10)")


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sm = sub.add_parser("summary")
    sm.add_argument("results", nargs="+")
    sm.add_argument("--json")
    df = sub.add_parser("diff")
    df.add_argument("parent")
    df.add_argument("change")
    df.add_argument("--claim", action="append", default=[])
    a = ap.parse_args(argv)
    if a.cmd == "summary":
        res = summary(load(a.results))
        if a.json:
            with open(a.json, "w") as f:
                json.dump(res, f, indent=1, sort_keys=True)
    else:
        diff(load([a.parent]), load([a.change]), a.claim)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
