#!/usr/bin/env python3
"""Merge isolated per-query Prof pairs into a Bench sf10 artifact.

The sf10 heavy tail cannot be adjudicated from in-sweep warm columns
(single-rep warm numbers on this box swing with environment pricing;
see SCALE.md round-8/9 notes). Protocol:

  1. run the full sweep (cold + 1 in-sweep warm) -> BENCH_sf10_r{N}.json
  2. for each heavy-tail query, run `sbt "runMain graft.Prof <dir> <q> reps=4"`
     in its OWN JVM (cold + 3 warm), with SPARK_GRAFT_CPUS set to the
     artifact's `cpus`, and parse the [prof] lines
  3. this script folds those into the artifact as:
        warm_isolated:      {query: median-of-3 isolated warm}
        cold_isolated:      {query: isolated fresh-JVM cold}
        warm_isolated_reps: 3
     and makes the `warm` column AUTHORITATIVE: where an isolated
     median exists it REPLACES the in-sweep value (the displaced
     number moves to warm_insweep_superseded, and the query is listed
     in superseded_by_isolated), and warm_total is recomputed over the
     final column — a machine reader summing `warm` can no longer
     price a query 3x off its adjudicated cost (r9: cur2 84 s in-sweep
     vs 27 s isolated, pure alphabetical GC bleed after cc2).
     FAILS (exit 1) if any isolated median warm > 1.5x isolated cold
     (the adjudication bar the in-sweep column could not hold).
     REFUSES (exit 2, artifact untouched) a log whose `[prof] {"cpus":N}`
     header differs from the artifact's `cpus`, or where either is
     missing: timings are only comparable at matched parallelism (two
     sf1 sweeps read 2.1x inflated against pairs run at another count).

Usage: sf10_pairs.py <artifact.json> <prof_log_dir>
  prof_log_dir holds one <query>.log per probed query (Prof stdout).
  Idempotent: re-running re-supersedes from the preserved in-sweep
  values, so an updated pair log simply re-prices its query.
"""
import json
import re
import statistics
import sys
from pathlib import Path


def prof_cpus(text: str):
    # header: [prof] {"cpus":N}
    m = re.search(r"\[prof\] (\{.*\})", text)
    return json.loads(m.group(1)).get("cpus") if m else None


def parse_prof(text: str):
    # lines: [prof] <name> run<i> <sec> s
    runs = {}
    for m in re.finditer(r"\[prof\] (\S+) run(\d+) ([0-9.]+) s", text):
        runs.setdefault(m.group(1), []).append((int(m.group(2)), float(m.group(3))))
    out = {}
    for name, rs in runs.items():
        rs.sort()
        cold = rs[0][1]
        warms = [t for _, t in rs[1:]]
        out[name] = (cold, statistics.median(warms) if warms else None, warms)
    return out


def main():
    artifact_path, log_dir = sys.argv[1], Path(sys.argv[2])
    art = json.loads(Path(artifact_path).read_text())
    logs = {log: log.read_text() for log in sorted(log_dir.glob("*.log"))}
    for log, text in logs.items():
        cpus = prof_cpus(text)
        if cpus is None or cpus != art.get("cpus"):
            print(f"REFUSED: {log} ran at cpus={cpus}, {artifact_path} at "
                  f"cpus={art.get('cpus')}; pairs merge only at matched parallelism")
            sys.exit(2)
    cold_iso, warm_iso, warm_iso_detail = {}, {}, {}
    for text in logs.values():
        for name, (cold, warm, warms) in parse_prof(text).items():
            cold_iso[name] = cold
            if warm is not None:
                warm_iso[name] = warm
                # raw reps, so band-vs-regression adjudication reads off
                # the artifact instead of fresh re-runs (advice r12 #6)
                warm_iso_detail[name] = warms
    art["cold_isolated"] = cold_iso
    art["warm_isolated"] = warm_iso
    art["warm_isolated_reps_detail"] = warm_iso_detail
    art["warm_isolated_reps"] = 3
    # authoritative warm column: isolated medians displace in-sweep
    # values (idempotent — the original in-sweep number is preserved in
    # warm_insweep_superseded and re-read on a second run)
    superseded = art.get("warm_insweep_superseded", {})
    warm = art.get("warm", {})
    for q, w in warm_iso.items():
        if q in warm:
            superseded.setdefault(q, warm[q])
            warm[q] = w
    art["warm"] = warm
    art["warm_insweep_superseded"] = superseded
    art["superseded_by_isolated"] = sorted(superseded)
    art["warm_total"] = sum(warm.values())
    Path(artifact_path).write_text(json.dumps(art) + "\n")
    bad = {q: (cold_iso[q], w) for q, w in warm_iso.items()
           if w > 1.5 * cold_iso[q]}
    for q, (c, w) in sorted(bad.items()):
        print(f"INVERSION SURVIVES ISOLATION: {q} cold {c:.1f} -> warm {w:.1f}")
    ok = {q: (cold_iso[q], w) for q, w in warm_iso.items() if q not in bad}
    for q, (c, w) in sorted(ok.items()):
        print(f"ok {q}: cold {c:.1f} / warm median {w:.2f}")
    print(f"merged {len(warm_iso)} isolated pairs into {artifact_path} "
          f"({len(superseded)} in-sweep warm values superseded; "
          f"warm_total recomputed = {art['warm_total']:.1f})")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
