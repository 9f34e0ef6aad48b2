#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or summarize one.

    python3 perfbench/compare.py PARENT CHANGE   # verdict per (metric, workload)
    python3 perfbench/compare.py RUNS            # spread and tracing overhead

Each argument is a file holding run.py's standard output, or a directory of
such files (``*.out``, ``*.log``, ``*.txt``); the ``perfbench {...}`` record
lines are read.  Pairs are formed in the order the runs appear.

A gain needs the change to win at least 9/10 of the pairs and a median gap larger
than the parent's interquartile range, and it is not counted if the change
fails more operations than the parent in any pair of runs.  A metric whose
spread on either side is wider than its bound is "unresolved" unless every
change run beats every parent run; a median worse than the parent's by more
than the bound is a regression.  Where the parent's median is 0 (as
failed_frac must be), there is no scale for a bound: any rise of the mean is
a regression.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_runs(paths: list[str]) -> list[dict]:
    files = []
    for p in paths:
        if os.path.isdir(p):
            files += sorted(
                os.path.join(p, f) for f in os.listdir(p)
                if f.endswith((".out", ".log", ".txt"))
            )
        else:
            files.append(p)
    runs = []
    for f in files:
        with open(f) as fh:
            for line in fh:
                if line.startswith("perfbench {"):
                    runs.append(json.loads(line[len("perfbench "):]))
    return runs


def metric_specs() -> dict[str, dict]:
    """name → {unit, better, bound}: BENCHMARK.json end-to-end metrics plus
    the per-workload named metrics of meta.json."""
    specs = {}
    with open(os.path.join(HERE, "meta.json")) as f:
        for name, m in json.load(f)["named"].items():
            specs[name] = m
    bench = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(bench) as f:
        for m in json.load(f)["end_to_end"]:
            specs[m["name"]] = m
    return specs


def series(runs: list[dict], trace: int) -> dict[tuple[str, str], list[float]]:
    """(workload, metric) → values in run order, for runs with this trace."""
    out: dict[tuple[str, str], list[float]] = {}
    for r in runs:
        if r["trace"] != trace:
            continue
        for group in ("e2e", "named"):
            for name, v in r[group].items():
                vals = out.setdefault((r["workload"], name), [])
                if group == "e2e" or name not in r["e2e"]:
                    vals.append(v["value"])
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spread(xs: list[float]) -> float:
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / abs(med) if med else 0.0


def verdict(parent: list[float], change: list[float], spec: dict,
            more_failures: bool = False) -> str:
    """``more_failures``: the change failed more operations than the parent
    in some pair of runs."""
    lower = spec["better"] == "lower"
    bound = spec["bound"]
    q1p, mp, q3p = quartiles(parent)
    _, mc, _ = quartiles(change)
    if not mp:
        diff = statistics.fmean(change) - statistics.fmean(parent)
        if diff > 0 if lower else diff < 0:
            return f"regressed by {abs(diff):.4g} (parent median 0)"
    better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
    pairs = list(zip(parent, change))
    wins = sum(better(c, p) for p, c in pairs)
    if better(mc, mp) and wins >= 0.9 * len(pairs) and abs(mc - mp) > (q3p - q1p):
        if more_failures:
            return "not counted: more failures"
        return f"gain ({wins}/{len(pairs)} pairs)"
    if max(spread(parent), spread(change)) > bound:
        if all(better(c, p) for c in change for p in parent):
            return "better in every run (spread wider than bound)"
        return "unresolved (spread wider than bound)"
    # a zero parent median was judged by the mean above
    worse = (mc - mp) / abs(mp) if mp else 0.0
    if not lower:
        worse = -worse
    if worse > bound:
        return f"regressed by {worse:.1%} (bound {bound:.0%})"
    return "no change within bound"


def fmt(xs: list[float]) -> str:
    q1, med, q3 = quartiles(xs)
    return f"{med:.4g} [{q1:.4g}, {q3:.4g}] n={len(xs)}"


def failures(runs: list[dict]) -> dict[str, list[int]]:
    """workload → failed operations per untraced run, in run order."""
    out: dict[str, list[int]] = {}
    for r in runs:
        if r["trace"] == 0:
            out.setdefault(r["workload"], []).append(r["failed"])
    return out


def compare(parent_runs, change_runs) -> None:
    specs = metric_specs()
    p, c = series(parent_runs, 0), series(change_runs, 0)
    pf, cf = failures(parent_runs), failures(change_runs)
    print(f"{'workload':8} {'metric':28} {'parent median [q1, q3]':34} "
          f"{'change median [q1, q3]':34} verdict")
    for key in sorted(set(p) & set(c)):
        wl, name = key
        spec = specs.get(name)
        if spec is None:
            continue
        more = any(b > a for a, b in zip(pf.get(wl, []), cf.get(wl, [])))
        print(f"{wl:8} {name:28} {fmt(p[key]):34} {fmt(c[key]):34} "
              f"{verdict(p[key], c[key], spec, more)}")


def summarize(runs) -> None:
    specs = metric_specs()
    untraced, traced = series(runs, 0), series(runs, 1)
    print(f"{'workload':8} {'metric':28} {'median [q1, q3]':34} {'iqr/median':>10} "
          f"{'bound':>6}  traced-untraced")
    for key in sorted(untraced):
        wl, name = key
        spec = specs.get(name, {})
        xs = untraced[key]
        over = ""
        if key in traced and traced[key]:
            d = statistics.median(traced[key]) - statistics.median(xs)
            over = f"{d:+.4g} ({d / statistics.median(xs):+.1%})" if statistics.median(xs) else ""
        bound = spec.get("bound")
        print(f"{wl:8} {name:28} {fmt(xs):34} {spread(xs):10.3f} "
              f"{bound if bound is not None else '':>6}  {over}")
    weather = [(r["workload"], r["seed"], r["weather"]) for r in runs]
    for wl, seed, w in weather:
        if w["steal_frac"] > 0.02 or w["loadavg_start"][0] > 2 * (w["ncpu"] or 1):
            print(f"storm? {wl} seed={seed} steal={w['steal_frac']} load={w['loadavg_start']}")


def main(argv: list[str]) -> int:
    if len(argv) == 1:
        summarize(load_runs(argv))
    elif len(argv) == 2:
        compare(load_runs([argv[0]]), load_runs([argv[1]]))
    else:
        print(__doc__, file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
