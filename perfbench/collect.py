#!/usr/bin/env python3
"""Run the benchmark over several seeds and keep the results as a set
that compare.py reads (one file per run: <workload>.<seed>.<trace>.json).

  python3 perfbench/collect.py results/base --workloads ma_live,ma_replay \
      --seeds 1-10 --trace 0

It prints each run's wall time and, per workload and end-to-end metric,
the median and the quartile spread (q3 - q1) / median next to the
metric's bound from BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    os.makedirs(args.out, exist_ok=True)
    failed = False
    for w in args.workloads.split(","):
        vals = {}
        for s in seeds(args.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", w, "--seed", str(s),
                                "--seconds", str(bench["run_seconds"]),
                                "--trace", str(args.trace)],
                               cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            if p.returncode != 0 or not last.startswith("{"):
                print(f"{w} seed {s}: exit {p.returncode} after {wall:.1f} s\n{p.stderr[-2000:]}")
                failed = True
                continue
            with open(os.path.join(args.out, f"{w}.{s}.{args.trace}.json"), "w") as fh:
                fh.write(last + "\n")
            res = json.loads(last)
            print(f"{w} seed {s}: {wall:.1f} s, correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}", flush=True)
            for k, v in res["metrics"].items():
                vals.setdefault(k, []).append(v["value"])
        if args.trace == 0 and vals and len(next(iter(vals.values()))) >= 2:
            for m in bench["end_to_end"]:
                v = vals[m["name"]]
                q1, med, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0],) * 3
                spread = (q3 - q1) / med if med else float("inf")
                print(f"  {w:15} {m['name']:16} median {med:12.6g} spread {spread:6.3f} "
                      f"(bound {m['bound']})", flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
