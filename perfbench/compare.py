#!/usr/bin/env python3
"""A/B comparison of two sets of benchmark runs.

    python3 perfbench/compare.py BEFORE_DIR AFTER_DIR

Each directory holds the captured stdout of runs, one file per run (what
`python3 perfbench/run.py ... > DIR/<name>.txt` writes). Runs are grouped
by workload and paired by seed.

For every workload and end-to-end metric it prints the median and
quartiles of each side and a verdict, using the bounds in BENCHMARK.json
and a paired-run rule:

  improved    the after side wins at least 9 of 10 seed pairs and the
              medians differ by more than the before side's quartile
              distance;
  worse       the after median is worse by more than the metric's bound;
  unresolved  the run-to-run spread (quartile distance / median) of
              either side is wider than the bound, and the after runs do
              not all read better (or all worse) than the before runs;
  unchanged   otherwise.

Metrics without a bound (the workload-level info lines) get only the
pair rule, in both directions: improved, worse, or "no bound".

A gain does not count when more operations fail: if the after runs of a
workload fail more operations than its before runs (the `failed` field of
each run's summary line), every verdict of that workload reads "invalid".

Workload-level figures (suite_s, events_per_s, append_p90_ms, ...) and,
for traced runs, the per-layer metrics and span self times that moved
most are listed with their medians and relative change, largest first,
so a verdict can name the layer that moved.
"""
import argparse
import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# per-layer and self-time rows shown per workload
TOP = 15
# info metrics where higher is better; every other info metric is a time,
# a size or a failure ratio
HIGHER_BETTER_INFO = {"events_per_s", "shared.events_per_s"}


def load_runs(d):
    """({(workload, trace): {seed: {(kind, metric): value}}},
    {(workload, trace): failed operations over all runs})."""
    runs = defaultdict(dict)
    failed = defaultdict(int)
    for name in sorted(os.listdir(d)):
        path = os.path.join(d, name)
        if not os.path.isfile(path):
            continue
        header, summary, values = None, None, {}
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                try:
                    o = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if o.get("kind") == "run":
                    header = o
                elif set(o) == {"correct", "attempted", "failed", "metrics"}:
                    summary = o
                elif "metric" in o and isinstance(o.get("value"), (int, float)):
                    values[(o["kind"], o["metric"])] = float(o["value"])
        if header is None or summary is None:
            print(f"skipping {path}: no run header or summary line", file=sys.stderr)
            continue
        key = (header["workload"], header["trace"])
        runs[key][header["seed"]] = values
        # a run whose gate fails without counting an operation still counts once
        failed[key] += max(summary["failed"], 0 if summary["correct"] else 1)
    return runs, failed


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(a, b, lower_better, bound, pairs):
    """a, b: lists of values; pairs: list of (a, b) matched by seed."""
    if len(a) < 2 or len(b) < 2:
        return "unresolved"
    qa1, ma, qa3 = quartiles(a)
    qb1, mb, qb3 = quartiles(b)
    sign = 1 if lower_better else -1
    better = lambda x, y: sign * (y - x) > 0  # y better than x
    wins = sum(1 for x, y in pairs if better(x, y))
    all_better = max(b) < min(a) if lower_better else min(b) > max(a)
    all_worse = min(b) > max(a) if lower_better else max(b) < min(a)
    if pairs and wins >= 0.9 * len(pairs) and abs(mb - ma) > (qa3 - qa1):
        return "improved"
    if bound is None:
        losses = sum(1 for x, y in pairs if better(y, x))
        if pairs and losses >= 0.9 * len(pairs) and abs(mb - ma) > (qa3 - qa1):
            return "worse"
        return "no bound"
    spread = max((qa3 - qa1) / abs(ma) if ma else 0, (qb3 - qb1) / abs(mb) if mb else 0)
    worse_by = sign * (mb - ma) / abs(ma) if ma else 0
    if spread > bound:
        return "worse" if all_worse else ("improved" if all_better else "unresolved")
    if worse_by > bound:
        return "worse"
    return "unchanged"


def compare(before, after, bench):
    (runs_a, failed_a), (runs_b, failed_b) = before, after
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    out = []
    for key in sorted(set(runs_a) | set(runs_b)):
        workload, trace = key
        ra, rb = runs_a.get(key, {}), runs_b.get(key, {})
        invalid = failed_b.get(key, 0) > failed_a.get(key, 0)
        if invalid:
            print(f"{workload} (trace {trace}): after runs fail {failed_b[key]} operations, "
                  f"before runs {failed_a.get(key, 0)}; its verdicts are invalid", file=sys.stderr)
        kinds = ("end_to_end", "info") if trace == 0 else ("per_layer", "self_time")
        names = sorted({k for r in list(ra.values()) + list(rb.values()) for k in r if k[0] in kinds})
        for kind, metric in names:
            a = [r[(kind, metric)] for r in ra.values() if (kind, metric) in r]
            b = [r[(kind, metric)] for r in rb.values() if (kind, metric) in r]
            if not a or not b:
                continue
            spec = e2e.get(metric) if kind == "end_to_end" else None
            lower = spec["better"] == "lower" if spec else metric not in HIGHER_BETTER_INFO
            pairs = [(ra[s][(kind, metric)], rb[s][(kind, metric)]) for s in sorted(set(ra) & set(rb))
                     if (kind, metric) in ra[s] and (kind, metric) in rb[s]]
            qa, qb = quartiles(a), quartiles(b)
            change = (qb[1] - qa[1]) / abs(qa[1]) if qa[1] else 0.0
            v = ""
            if kind in ("end_to_end", "info"):
                v = "invalid" if invalid else verdict(a, b, lower, spec["bound"] if spec else None, pairs)
            out.append({
                "workload": workload, "traced": trace, "kind": kind, "metric": metric,
                "before": {"median": qa[1], "q1": qa[0], "q3": qa[2], "n": len(a)},
                "after": {"median": qb[1], "q1": qb[0], "q3": qb[2], "n": len(b)},
                "change": change, "verdict": v,
            })
    return out


def main():
    ap = argparse.ArgumentParser(description="A/B comparison of two sets of benchmark runs")
    ap.add_argument("before")
    ap.add_argument("after")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    rows = compare(load_runs(a.before), load_runs(a.after), bench)
    shown = defaultdict(int)
    for r in sorted(rows, key=lambda r: (r["workload"], r["traced"], r["kind"] != "end_to_end",
                                         r["kind"] != "info", -abs(r["change"]))):
        group = (r["workload"], r["kind"])
        if r["kind"] in ("per_layer", "self_time"):
            if shown[group] >= TOP or r["before"]["median"] == r["after"]["median"] == 0:
                continue
            shown[group] += 1
        b, c = r["before"], r["after"]
        print(f'{r["workload"]:<20} {r["kind"]:<10} {r["metric"]:<48} '
              f'{b["median"]:>12.4g} [{b["q1"]:.4g}, {b["q3"]:.4g}] n={b["n"]:<3} -> '
              f'{c["median"]:>12.4g} [{c["q1"]:.4g}, {c["q3"]:.4g}] n={c["n"]:<3} '
              f'{100 * r["change"]:+7.1f}%  {r["verdict"]}')


if __name__ == "__main__":
    main()
