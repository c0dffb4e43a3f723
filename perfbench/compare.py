#!/usr/bin/env python3
"""Compare graft benchmark result sets (stdlib only).

A result set is a directory laid out as run.py leaves .perfbench/results:
<dir>/<workload>/seed<N>-trace<0|1>.json, one file per run.

    python3 perfbench/compare.py spread DIR        # median and quartile spread per metric
    python3 perfbench/compare.py diff BASE CHANGE  # verdict per workload and metric
    python3 perfbench/compare.py overhead DIR      # traced minus untraced, on the seeds run both ways

diff gives each end-to-end metric of BENCHMARK.json one verdict per
workload, using the metric's bound from BENCHMARK.json:
  worse       the change's median is worse than the base's by more than the bound;
  improved    the change's median is better by more than the base's spread
              (quartile distance / median), and the change won on at
              least 90 % of at least 10 seeds run on both sides (ties
              count for neither); when a side's spread is wider than the
              bound, every change run must also beat every base run;
  unresolved  a side's spread is wider than the bound, or the median is
              better by more than the base's spread, and the runs do not
              show a gain as above;
  same        none of these.
The other end-to-end metrics a workload reports (read/write p90, cc_s,
peak_rss_mb, ...) have no measured bound, so they are listed with
their medians and spreads and no verdict. diff then lists the traced
per-layer self times (<layer>.self_s).
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# Share of paired seeds the change must win before a gain counts.
WIN_SHARE = 0.9
MIN_PAIRS = 10


def load(root, trace, seeds=None):
    """{workload: {metric: [values over runs]}} and {workload: {metric: unit}},
    optionally only from runs of the given {workload: seeds}."""
    by_seed, units = load_by_seed(root, trace, seeds)
    return ({w: {n: list(v.values()) for n, v in ms.items()} for w, ms in by_seed.items()}, units)


def load_by_seed(root, trace, seeds=None):
    """{workload: {metric: {seed: value}}} and {workload: {metric: unit}}."""
    values, units = {}, {}
    for path in sorted(glob.glob(os.path.join(root, "*", f"seed*-trace{trace}.json"))):
        with open(path) as fh:
            res = json.load(fh)
        w = res["workload"]
        if seeds is not None and res["seed"] not in seeds.get(w, ()):
            continue
        for name, m in res["metrics"].items():
            if m["value"] is None:
                continue
            values.setdefault(w, {}).setdefault(name, {})[res["seed"]] = float(m["value"])
            units.setdefault(w, {})[name] = m["unit"]
    return values, units


def seeds_of(root, trace):
    out = {}
    for path in glob.glob(os.path.join(root, "*", f"seed*-trace{trace}.json")):
        with open(path) as fh:
            res = json.load(fh)
        out.setdefault(res["workload"], set()).add(res["seed"])
    return out


def spec():
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as fh:
        return json.load(fh)


def end_to_end_names(metrics):
    """Workload-level metrics: the un-dotted names (layers are dotted)."""
    return [n for n in metrics if "." not in n]


def stats(xs):
    med = statistics.median(xs)
    if len(xs) >= 2:
        q1, _, q3 = statistics.quantiles(xs, n=4)
    else:
        q1 = q3 = med
    spread = (q3 - q1) / med if med else float("inf")
    return med, q1, q3, spread


def cmd_spread(root):
    s = spec()
    bounds = {m["name"]: m["bound"] for m in s["end_to_end"]}
    for trace in (0, 1):
        values, units = load(root, trace)
        for w in sorted(values):
            print(f"== {w} (trace {trace})")
            names = end_to_end_names(values[w]) if trace == 0 else sorted(values[w])
            for n in names:
                med, q1, q3, spread = stats(values[w][n])
                b = bounds.get(n)
                flag = "" if b is None else ("  ok" if spread < b / 3 else ("  WITHIN BOUND" if spread <= b else "  OVER BOUND"))
                print(f"  {n:48s} median {med:14.4f} {units[w][n]:6s} q1 {q1:.4f} q3 {q3:.4f} "
                      f"spread {spread:6.3f} n={len(values[w][n])}{flag}")


def verdict(base, change, bound, better):
    """base, change: {seed: value}. Returns (verdict, relative change; > 0 is worse)."""
    bm, _, _, bs = stats(list(base.values()))
    cm, _, _, cs = stats(list(change.values()))
    sign = 1 if better == "lower" else -1
    rel = sign * (cm - bm) / bm if bm else 0.0
    pairs = sorted(set(base) & set(change))
    wins = sum(1 for k in pairs if sign * (change[k] - base[k]) < 0)
    gain = -rel > bs and len(pairs) >= MIN_PAIRS and wins >= WIN_SHARE * len(pairs)
    if bs > bound or cs > bound:
        if better == "lower":
            dominates = max(change.values()) < min(base.values())
        else:
            dominates = min(change.values()) > max(base.values())
        return ("improved" if gain and dominates else "unresolved"), rel
    if rel > bound:
        return "worse", rel
    if -rel > bs:
        return ("improved" if gain else "unresolved"), rel
    return "same", rel


def cmd_diff(base_root, change_root):
    gated = {m["name"]: (m["bound"], m["better"]) for m in spec()["end_to_end"]}
    base, units = load_by_seed(base_root, 0)
    change, _ = load_by_seed(change_root, 0)
    for w in sorted(set(base) & set(change)):
        print(f"== {w}")
        for n in end_to_end_names(base[w]):
            if n not in change[w]:
                continue
            b, c = base[w][n], change[w][n]
            bm, _, _, bs = stats(list(b.values()))
            cm, _, _, cs = stats(list(c.values()))
            line = (f"  {n:24s} base {bm:12.4f} (spread {bs:.3f}) change {cm:12.4f} "
                    f"(spread {cs:.3f}) {units[w][n]:5s}")
            if n in gated:
                bound, better = gated[n]
                v, rel = verdict(b, c, bound, better)
                line += f" {'worse' if rel > 0 else 'better'} by {abs(rel):6.1%} (bound {bound:.0%}): {v}"
            else:
                line += " no bound: no verdict"
            print(line)
    base1, _ = load(base_root, 1)
    change1, _ = load(change_root, 1)
    for w in sorted(set(base1) & set(change1)):
        print(f"== {w}: traced self time per layer (median over runs)")
        for n in sorted(k for k in base1[w] if k.endswith(".self_s") and k in change1[w]):
            b, c = statistics.median(base1[w][n]), statistics.median(change1[w][n])
            print(f"  {n:40s} base {b:10.3f} s change {c:10.3f} s delta {c - b:+10.3f} s")


def cmd_overhead(root):
    a, b = seeds_of(root, 0), seeds_of(root, 1)
    both = {w: a[w] & b[w] for w in set(a) & set(b)}
    plain, units = load(root, 0, both)
    traced, _ = load(root, 1, both)
    for w in sorted(set(plain) & set(traced)):
        print(f"== {w}: tracing overhead over seeds {sorted(both[w])} (median traced - median untraced)")
        for n in end_to_end_names(plain[w]):
            if n in traced[w]:
                p, t = statistics.median(plain[w][n]), statistics.median(traced[w][n])
                rel = (t - p) / p if p else 0.0
                print(f"  {n:24s} untraced {p:12.4f} traced {t:12.4f} {units[w][n]:5s} ({rel:+.1%})")


def main(argv):
    if len(argv) == 2 and argv[0] == "spread":
        cmd_spread(argv[1])
    elif len(argv) == 3 and argv[0] == "diff":
        cmd_diff(argv[1], argv[2])
    elif len(argv) == 2 and argv[0] == "overhead":
        cmd_overhead(argv[1])
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
