#!/usr/bin/env python3
"""Summarise one set of benchmark runs, or compare two (parent, change).

    python3 perfbench/compare.py PARENT_OUT [CHANGE_OUT]

Each argument is a directory of run records as run.py writes them to
perfbench/out/ (one file per workload, seed and trace setting). For every
workload x end-to-end metric it prints each set's median and quartiles and
the spread (interquartile range over the median) against the metric's
bound from BENCHMARK.json. With two sets it adds the share of same-seed
pairs the change won and a verdict:

  improved      the change wins at least 9 in 10 pairs and the medians
                differ by more than the parent's interquartile range;
  no worse      the change's median is within the bound of the parent's;
  worse         the change's median is worse than the bound allows;
  unresolved    the parent's own spread is wider than the bound, and not
                every change run beats every parent run.

It then prints the per-layer deltas of the traced runs, the tracing
overhead (traced minus untraced end-to-end medians) and the host's CPU
steal and load average over each set.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    recs = []
    for f in sorted(os.listdir(d)):
        if f.endswith(".json") and not f.endswith(".spans.json"):
            with open(os.path.join(d, f)) as fh:
                recs.append(json.load(fh))
    return recs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else 0.0


def values(recs, workload, metric, trace=0):
    return {r["seed"]: r["end_to_end"][metric] for r in recs
            if r["workload"] == workload and r["trace"] == trace}


def verdict(par, chg, better, bound):
    """Section 8 of the metrics guide, per workload x metric."""
    sign = 1 if better == "lower" else -1
    pairs = [(par[s], chg[s]) for s in par if s in chg]
    wins = sum(sign * (c - p) < 0 for p, c in pairs)
    win_share = wins / len(pairs) if pairs else float("nan")
    pv, cv = list(par.values()), list(chg.values())
    q1, pm, q3 = quartiles(pv)
    cm = statistics.median(cv)
    worse_by = sign * (cm - pm) / pm if pm else 0.0
    if pairs and win_share >= 0.9 and abs(cm - pm) > q3 - q1:
        v = "improved"
    elif spread(pv) > bound and not all(sign * (c - p) < 0 for c in cv for p in pv):
        v = "unresolved"
    elif worse_by <= bound:
        v = "no worse within bound"
    else:
        v = "worse"
    return win_share, worse_by, v


def median_layers(recs, workload):
    traced = [r["per_layer"] for r in recs
              if r["workload"] == workload and r["trace"] == 1 and r["per_layer"]]
    if not traced:
        return {}
    return {k: statistics.median(t[k] for t in traced) for k in traced[0]}


def overhead(recs, workload, metric):
    traced = values(recs, workload, metric, trace=1)
    plain = values(recs, workload, metric, trace=0)
    if not traced or not plain:
        return None
    return statistics.median(traced.values()) - statistics.median(plain.values())


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    sets = [load(d) for d in sys.argv[1:]]
    workloads = [w["name"] for w in bench["workloads"]]
    labels = ("parent", "change") if len(sets) == 2 else ("runs",)
    print("workload       metric               set      median     q1         q3"
          "      spread  bound")
    for w in workloads:
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            per_set = [values(s, w, name) for s in sets]
            for label, vals in zip(labels, per_set):
                if not vals:
                    continue
                q1, q2, q3 = quartiles(list(vals.values()))
                print(f"{w:14s} {name:20s} {label:7s} {q2:10.4g} {q1:10.4g} {q3:10.4g}"
                      f" {spread(list(vals.values())):7.3f} {bound:5.2f}"
                      f"  (n={len(vals)})")
            if len(per_set) == 2 and per_set[0] and per_set[1]:
                won, worse_by, v = verdict(per_set[0], per_set[1], m["better"], bound)
                print(f"{'':14s} {'':20s} {'':7s} change worse by {worse_by:+.3f};"
                      f" pairs won {won:.2f}: {v}")
    print()
    for w in workloads:
        layers = [median_layers(s, w) for s in sets]
        if not layers[0]:
            continue
        print(f"per-layer, {w} (median of traced runs; metrics 0 on both sides omitted)")
        for k in layers[0]:
            a = layers[0][k]
            b = layers[1].get(k) if len(layers) == 2 and layers[1] else None
            if not a and not b:
                continue
            line = f"  {k:40s} {a:12.6g}"
            if b is not None:
                line += f" {b:12.6g}  delta {b - a:+.6g}"
            print(line)
    print()
    for label, s in zip(labels, sets):
        for w in workloads:
            ov = {m["name"]: overhead(s, w, m["name"]) for m in bench["end_to_end"]}
            if any(v is not None for v in ov.values()):
                print(f"tracing overhead, {label}, {w}: " + ", ".join(
                    f"{k} {v:+.4g}" for k, v in ov.items() if v is not None))
        steal = [r["host"].get("steal_share", 0.0) for r in s]
        load1 = [r["host"]["load1_end"] for r in s]
        if steal:
            print(f"host, {label}: steal share median {statistics.median(steal):.3f}"
                  f" max {max(steal):.3f}; load1 median {statistics.median(load1):.2f}"
                  f" max {max(load1):.2f}")


if __name__ == "__main__":
    main()
