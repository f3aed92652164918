"""Offline comparison of two sets of benchmark result files (no Spark).

``python3 perfbench/run.py --diff A B`` where A and B are result files
or directories of them (``perfbench/results/*.json``).  Per workload and
metric it prints each side's median, quartiles and run count, the change
of the medians, and a verdict against the bound in ``BENCHMARK.json``:

- ``unresolved`` when either side's quartile spread (as a share of its
  median) is wider than the bound, unless every B run beats every A run;
- otherwise ``worse`` when B's median is worse than A's by more than
  the bound, else ``within``.  Metrics without a bound print ``-``.

It also prints, per workload and side, the request latency tail pooled
over all runs (one run holds too few requests for a high percentile),
and the tracing overhead: the median traced ``request_p50_s`` minus the
median untraced one.
"""

from __future__ import annotations

import glob
import json
import os
import statistics


def load(path: str) -> list:
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out = []
    for f in files:
        with open(f) as fh:
            try:
                rec = json.load(fh)
            except ValueError:
                continue
        if isinstance(rec, dict) and "workload" in rec and "metrics" in rec:
            out.append(rec)
    return out


def quartiles(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def _group(records):
    g = {}
    for r in records:
        for name, m in r["metrics"].items():
            g.setdefault((r["workload"], name), []).append(m["value"])
    return g


def verdict(a, b, better: str, bound):
    if bound is None:
        return "-"
    qa, qb = quartiles(a), quartiles(b)
    sign = 1 if better == "lower" else -1
    if all(sign * (y - x) < 0 for x in a for y in b):
        return "better"
    spread = max((q[2] - q[0]) / abs(q[1]) if q[1] else float("inf") for q in (qa, qb))
    if spread > bound:
        return "unresolved"
    change = sign * (qb[1] - qa[1]) / abs(qa[1]) if qa[1] else 0.0
    return "worse" if change > bound else "within"


def diff(path_a: str, path_b: str, spec_path: str) -> list:
    spec = {}
    if os.path.exists(spec_path):
        with open(spec_path) as fh:
            bench = json.load(fh)
        for m in bench.get("end_to_end", []) + bench.get("per_layer", []):
            spec[m["name"]] = m
    ga, gb = _group(load(path_a)), _group(load(path_b))
    rows = []
    for key in sorted(set(ga) & set(gb)):
        m = spec.get(key[1], {})
        a, b = ga[key], gb[key]
        qa, qb = quartiles(a), quartiles(b)
        change = (qb[1] - qa[1]) / abs(qa[1]) if qa[1] else 0.0
        rows.append({
            "workload": key[0], "metric": key[1], "unit": m.get("unit", ""),
            "a": {"median": qa[1], "q1": qa[0], "q3": qa[2], "n": len(a)},
            "b": {"median": qb[1], "q1": qb[0], "q3": qb[2], "n": len(b)},
            "change": change,
            "verdict": verdict(a, b, m.get("better", "lower"), m.get("bound")),
        })
    return rows


def print_rows(rows) -> None:
    head = f"{'workload':<13}{'metric':<34}{'A median [q1,q3] n':>34}{'B median [q1,q3] n':>34}{'change':>9}  verdict"
    print(head)
    for r in rows:
        cell = lambda s: f"{s['median']:.4g} [{s['q1']:.4g},{s['q3']:.4g}] {s['n']}"  # noqa: E731
        print(f"{r['workload']:<13}{r['metric'] + ' ' + r['unit']:<34}"
              f"{cell(r['a']):>34}{cell(r['b']):>34}{r['change']:>+9.3f}  {r['verdict']}")


def print_pooled_tails(path_a: str, path_b: str) -> None:
    from tracing import percentile_with_tail

    sides = {}
    for side, path in (("A", path_a), ("B", path_b)):
        for r in load(path):
            if "latencies_s" in r:
                sides.setdefault(r["workload"], {}).setdefault(side, []).extend(r["latencies_s"])
    for workload, by_side in sorted(sides.items()):
        cells = []
        for side in ("A", "B"):
            lat = by_side.get(side)
            if lat:
                v, pct = percentile_with_tail(lat)
                cells.append(f"{side} p{pct:g} = {v:.4g} s (n={len(lat)})")
        print(f"pooled request tail {workload}: " + ", ".join(cells))


def print_trace_overhead(path_a: str, path_b: str) -> None:
    for side, path in (("A", path_a), ("B", path_b)):
        p50 = {}
        for r in load(path):
            p50.setdefault((r["workload"], r["trace"]), []).append(
                r["unbounded"]["request_p50_s"][0])
        for workload in sorted({w for w, _ in p50}):
            if (workload, 0) in p50 and (workload, 1) in p50:
                traced = statistics.median(p50[(workload, 1)])
                untraced = statistics.median(p50[(workload, 0)])
                print(f"tracing overhead {workload} {side}: {traced - untraced:+.4g} s "
                      f"({len(p50[(workload, 1)])} traced, {len(p50[(workload, 0)])} untraced runs)")
