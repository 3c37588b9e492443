#!/usr/bin/env python3
"""Compare two result sets of the benchmark.

A result set is a directory of files named <workload>.<seed>.<trace>.json,
each holding the last stdout line of one run.py run, as collect.py writes
them:

  python3 perfbench/collect.py results/base --workloads ma_live --seeds 1-10
  python3 perfbench/collect.py results/change --workloads ma_live --seeds 1-10
  python3 perfbench/compare.py results/base results/change

For every workload and end-to-end metric it prints both sides' median and
quartiles and a verdict against the metric's bound from BENCHMARK.json:

  worse       the change's median is worse than the base's by more than the bound
  better      the change's median is better by more than the base's own
              quartile spread, and the change wins at least 9 in 10 pairs
  unresolved  a side's quartile spread exceeds the bound, so a move within
              it cannot be told from noise (unless every change run beats
              every base run, which reads as better)
  same        none of the above

Traced runs (trace 1) add a list of per-layer movers: metrics whose
median moved by more than --movers (a share, default 0.1).
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_set(d):
    """{(workload, trace): {seed: metrics}} from one result directory."""
    out = {}
    for path in sorted(glob.glob(os.path.join(d, "*.json"))):
        parts = os.path.basename(path)[:-5].split(".")
        if len(parts) != 3:
            continue
        workload, seed, trace = parts
        with open(path) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        if not lines:
            continue
        res = json.loads(lines[-1])
        out.setdefault((workload, int(trace)), {})[seed] = {
            k: v["value"] for k, v in res["metrics"].items()}
    return out


def quartiles(vals):
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    return tuple(statistics.quantiles(vals, n=4))


def verdict(base, change, better, bound, pairs):
    """base/change: lists of values; pairs: (base, change) by seed."""
    bq1, bm, bq3 = quartiles(base)
    cq1, cm, cq3 = quartiles(change)
    sign = 1.0 if better == "lower" else -1.0
    worse_by = sign * (cm - bm) / abs(bm) if bm else 0.0
    spread_b = (bq3 - bq1) / abs(bm) if bm else 0.0
    spread_c = (cq3 - cq1) / abs(cm) if cm else 0.0
    beats = (lambda c, b: c < b) if better == "lower" else (lambda c, b: c > b)
    all_beat = all(beats(c, b) for c in change for b in base)
    if pairs:
        wins = sum(1 for b, c in pairs if beats(c, b))
        win_frac = wins / len(pairs)
    else:
        win_frac = sum(1 for c in change for b in base if beats(c, b)) / (len(change) * len(base))
    if max(spread_b, spread_c) > bound:
        v = "better" if all_beat else "unresolved"
    elif worse_by > bound:
        v = "worse"
    elif -worse_by > spread_b and win_frac >= 0.9:
        v = "better"
    else:
        v = "same"
    return v, (bq1, bm, bq3), (cq1, cm, cq3), worse_by


def compare(base_dir, change_dir, bench_path, movers):
    with open(bench_path) as fh:
        bench = json.load(fh)
    a, b = load_set(base_dir), load_set(change_dir)
    rows = []
    for w in bench["workloads"]:
        name = w["name"]
        ra, rb = a.get((name, 0), {}), b.get((name, 0), {})
        if not ra or not rb:
            continue
        for m in bench["end_to_end"]:
            k = m["name"]
            seeds = sorted(set(ra) & set(rb))
            pairs = [(ra[s][k], rb[s][k]) for s in seeds]
            v, qa, qb, worse_by = verdict([r[k] for r in ra.values()],
                                          [r[k] for r in rb.values()],
                                          m["better"], m["bound"], pairs)
            rows.append({"workload": name, "metric": k, "unit": m["unit"], "verdict": v,
                         "base": qa, "change": qb, "worse_by": worse_by,
                         "n": (len(ra), len(rb))})
    moved = []
    for (name, trace), ra in a.items():
        rb = b.get((name, trace))
        if trace != 1 or not rb:
            continue
        keys = set.intersection(*[set(r) for r in list(ra.values()) + list(rb.values())])
        for k in sorted(keys):
            ma = statistics.median(r[k] for r in ra.values())
            mb = statistics.median(r[k] for r in rb.values())
            if ma == mb:
                continue
            rel = (mb - ma) / abs(ma) if ma else float("inf")
            if abs(rel) > movers:
                moved.append({"workload": name, "metric": k, "base": ma, "change": mb,
                              "rel": rel})
    moved.sort(key=lambda x: -abs(x["rel"]))
    return rows, moved


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--bench", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    ap.add_argument("--movers", type=float, default=0.1)
    args = ap.parse_args(argv)
    rows, moved = compare(args.base, args.change, args.bench, args.movers)
    fmt = lambda q: "%.4g [%.4g, %.4g]" % (q[1], q[0], q[2])  # noqa: E731
    print(f"{'workload':16} {'metric':18} {'verdict':10} {'base median [q1, q3]':34} "
          f"{'change median [q1, q3]':34} worse_by")
    for r in rows:
        print(f"{r['workload']:16} {r['metric']:18} {r['verdict']:10} {fmt(r['base']):34} "
              f"{fmt(r['change']):34} {r['worse_by']:+.3f}")
    if moved:
        print("\nper-layer movers (median change beyond %.0f%%):" % (100 * args.movers))
        for m in moved:
            print(f"  {m['workload']:16} {m['metric']:44} {m['base']:.4g} -> {m['change']:.4g} "
                  f"({m['rel']:+.1%})")
    return 1 if any(r["verdict"] == "worse" for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main())
