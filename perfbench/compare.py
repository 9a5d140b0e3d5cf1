#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent commit and a change.

    python3 perfbench/compare.py PARENT_RESULTS_DIR CHANGE_RESULTS_DIR

Each directory holds result files written by run.py (--results). For every
workload and end-to-end metric it prints each side's median and quartiles,
the share of run pairs the change won, and a verdict:

- improved: the change won at least nine tenths of the pairs (ties count
  for neither), the medians differ in the better direction by more than
  the parent's quartile spread, and no more operations failed than at the
  parent;
- worse: the change's median is worse than the parent's by more than the
  metric's bound in BENCHMARK.json;
- unresolved: the parent's own spread is wider than the bound and the
  change did not beat every parent run;
- unchanged: otherwise.

Runs pair up by seed when both sides used the same seeds, else by order.
Traced runs (--trace 1) get a per-layer table of medians and their
difference, and each side's tracing overhead: the traced runs' median
batch time minus the untraced runs' median.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = []
    for f in sorted(os.listdir(d)):
        if f.endswith(".json"):
            with open(os.path.join(d, f)) as fh:
                runs.append(json.load(fh))
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def pairs(a, b):
    """(parent, change) run pairs: by seed where both sides share seeds."""
    sa = {r["seed"]: r for r in a}
    sb = {r["seed"]: r for r in b}
    common = sorted(set(sa) & set(sb))
    if common:
        return [(sa[s], sb[s]) for s in common]
    return list(zip(a, b))


def verdict(pv, cv, wins, n_pairs, better, bound, failed_more):
    q1, med, q3 = quartiles(pv)
    cmed = statistics.median(cv)
    sign = 1 if better == "higher" else -1
    gain = sign * (cmed - med)
    spread = q3 - q1
    if not failed_more and n_pairs and wins >= 0.9 * n_pairs and gain > spread:
        return "improved"
    if med and -gain > bound * abs(med):
        return "worse"
    beats_all = all(sign * (c - p) > 0 for c in cv for p in pv)
    if med and spread / abs(med) > bound and not beats_all:
        return "unresolved"
    return "unchanged"


def compare(parent_dir, change_dir, out=sys.stdout):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    layer = {m["name"]: m for m in spec["per_layer"]}
    parent, change = load(parent_dir), load(change_dir)
    workloads = sorted({r["workload"] for r in parent + change})
    for w in workloads:
        for trace in (0, 1):
            a = [r for r in parent if r["workload"] == w and r["trace"] == trace]
            b = [r for r in change if r["workload"] == w and r["trace"] == trace]
            if not a or not b:
                continue
            ps = pairs(a, b)
            if trace == 0:
                failed_a = sum(r["failed"] for r in a) / len(a)
                failed_b = sum(r["failed"] for r in b) / len(b)
                print("== %s: %d parent runs, %d change runs, %d pairs; "
                      "failed per run %.2f -> %.2f; contended runs %d / %d" % (
                          w, len(a), len(b), len(ps), failed_a, failed_b,
                          sum(r["contended"] for r in a), sum(r["contended"] for r in b)),
                      file=out)
                print("  %-18s %-26s %-26s %6s  %s" % (
                    "metric", "parent q1/median/q3", "change q1/median/q3", "won", "verdict"),
                    file=out)
                for name, m in e2e.items():
                    pv = [r["metrics"][name]["value"] for r in a]
                    cv = [r["metrics"][name]["value"] for r in b]
                    sign = 1 if m["better"] == "higher" else -1
                    wins = sum(1 for p, c in ps
                               if sign * (c["metrics"][name]["value"]
                                          - p["metrics"][name]["value"]) > 0)
                    v = verdict(pv, cv, wins, len(ps), m["better"], m["bound"],
                                failed_b > failed_a)
                    print("  %-18s %-26s %-26s %5.0f%%  %s" % (
                        name, "%.4g/%.4g/%.4g" % quartiles(pv), "%.4g/%.4g/%.4g" % quartiles(cv),
                        100.0 * wins / len(ps), v), file=out)
            else:
                print("== %s per layer (traced medians)" % w, file=out)
                for name in layer:
                    pv = statistics.median(r["metrics"][name]["value"] for r in a)
                    cv = statistics.median(r["metrics"][name]["value"] for r in b)
                    if pv or cv:
                        print("  %-32s %14.4f %14.4f %+14.4f %s" % (
                            name, pv, cv, cv - pv, layer[name]["unit"]), file=out)
                for side, runs, d in (("parent", parent, a), ("change", change, b)):
                    u = [r["metrics"]["batch_p50_ms"]["value"] for r in runs
                         if r["workload"] == w and r["trace"] == 0]
                    if u:
                        t = statistics.median(r["metrics"]["traced_batch_p50_ms"]["value"] for r in d)
                        print("  tracing overhead (%s): %+.2f ms per batch" % (
                            side, t - statistics.median(u)), file=out)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    compare(sys.argv[1], sys.argv[2])
