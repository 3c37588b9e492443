"""Per-layer metrics and spans of a traced run.

Layer names follow the repository's modules. A layer a workload does not
run reports 0: the registry's `ops.*` and `plan.*` on the streaming
workloads, the trigger, state and sink layers on the registry sweep, and
`V1StateProcessor.*` outside the traced ma_live run, which measures V1
after its own timed window.
"""
import json
import os
import statistics
from collections import defaultdict

from fold import parse_iso

MODULES = ["MovingAverage", "Relational", "TextOps", "Dedup", "Similarity",
           "Multimodal", "Extended", "Pipeline", "Graph"]
OPS = [("build_s", "s"), ("exec_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
       ("input_bytes", "bytes"), ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
       ("tasks", "count")]
PLAN = ["scans", "exchanges", "broadcasts", "inmemory_scans", "lambda_nodes",
        "codegen_fallbacks"]
PARTS = ["latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets"]

NAMES = ([("source.gen_late_p99_ms", "ms"), ("source.gen_late_max_ms", "ms"),
          ("source.input_rows", "count"), ("source.backlog_rows_end", "count"),
          ("source.latestOffset_ms", "ms"), ("source.getBatch_ms", "ms"),
          ("source.max_sustained_ticks_per_s", "1/s"),
          ("Schemas.parseStockJson_rows_per_s", "1/s"), ("Schemas.toWireJson_rows_per_s", "1/s"),
          ("MaPipeline.windowedSma_rows_per_s", "1/s"),
          ("microbatch.triggers", "count"), ("microbatch.trigger_p50_ms", "ms"),
          ("microbatch.trigger_p90_ms", "ms"), ("microbatch.queryPlanning_ms", "ms"),
          ("microbatch.addBatch_ms", "ms"), ("microbatch.walCommit_ms", "ms"),
          ("microbatch.commitOffsets_ms", "ms"), ("microbatch.busy_frac", "frac"),
          ("statestore.rows_total", "count"), ("statestore.rows_updated", "count"),
          ("statestore.rows_removed", "count"), ("statestore.commit_ms", "ms"),
          ("statestore.updates_ms", "ms"), ("statestore.removals_ms", "ms"),
          ("statestore.memory_bytes", "bytes"), ("statestore.ckpt_bytes", "bytes"),
          ("statestore.rows_dropped_by_watermark", "count"),
          ("sink.rows_out", "count"), ("sink.foreachBatch_ms", "ms"), ("sink.correct_frac", "frac"),
          ("V1StateProcessor.expired_timers", "count"), ("V1StateProcessor.timer_ms", "ms"),
          ("V1StateProcessor.emits_per_symbol_s", "1/s"),
          ("V1StateProcessor.emit_latency_p50_s", "s"), ("V1StateProcessor.emit_latency_p99_s", "s"),
          ("jvm.cpu_s", "s")]
         + [(f"ops.{m}.{k}", u) for m in MODULES for k, u in OPS]
         + [(f"plan.{k}", "count") for k in PLAN]
         + [("scaling.replay_ticks_per_s_1core", "1/s"), ("trace.overhead_frac", "frac")])

SUSTAIN_P99_S = 3.0  # three trigger intervals


class Ctx:
    """Everything a run measured, handed from run.py to the layer math."""

    def __init__(self, **kw):
        self.steps = None
        self.live = None
        self.v1 = None
        self.one_core_tps = 0.0
        self.__dict__.update(kw)


def trigger_parts(progress):
    """Mean per trigger of its input rows, its durationMs parts and its
    state commit time (summed over the state store partitions)."""
    n = len(progress) or 1
    out = {"rows": sum(p["numInputRows"] for p in progress) / n}
    for k in ["triggerExecution"] + PARTS:
        out[k] = sum(p.get("durationMs", {}).get(k, 0) for p in progress) / n
    out["stateCommit"] = sum(p["stateOperators"][0].get("commitTimeMs", 0)
                             for p in progress if p.get("stateOperators")) / n
    return out


def cpu_between(samples, a, b):
    """Process CPU seconds between wall times a and b (ms), interpolated."""
    def at(t):
        prev = samples[0]
        for s in samples:
            if s[0] >= t:
                if s[0] == prev[0]:
                    return s[1]
                return prev[1] + (s[1] - prev[1]) * (t - prev[0]) / (s[0] - prev[0])
            prev = s
        return samples[-1][1]
    return (at(b) - at(a)) / 1e9


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def pct(values, q):
    """Nearest-rank percentile of a non-empty sample."""
    v = sorted(values)
    return v[min(len(v) - 1, max(0, int(round(q * len(v) + 0.5)) - 1))]


def _start_ms(p):
    from datetime import datetime
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() * 1000.0


def trigger_spans(progress):
    """One span per trigger from its progress event, with the durationMs
    parts laid end to end as children (the engine runs them in order)."""
    spans, sid, add_batch = [], 1_000_000, {}
    for p in progress:
        d = p.get("durationMs", {})
        t = _start_ms(p)
        sid += 1
        root = sid
        spans.append({"id": root, "parent": 0, "name": "microbatch.trigger",
                      "start_ms": t, "end_ms": t + d.get("triggerExecution", 0)})
        for part in PARTS:
            if part in d:
                sid += 1
                spans.append({"id": sid, "parent": root, "name": f"microbatch.{part}",
                              "start_ms": t, "end_ms": t + d[part]})
                t += d[part]
                if part == "addBatch":
                    add_batch[p["batchId"]] = sid
    return spans, add_batch


def self_times(spans):
    """Per span name: count, total and self time (ms). Self time is the
    span's duration minus the union of its children's intervals."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append((s["start_ms"], s["end_ms"]))
    out = defaultdict(lambda: {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
    for s in spans:
        dur = s["end_ms"] - s["start_ms"]
        covered, cur = 0.0, None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, s["start_ms"]), min(b, s["end_ms"])
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        key = s["name"].split("#")[0].split(":")[0]
        o = out[key]
        o["count"] += 1
        o["total_ms"] += dur
        o["self_ms"] += dur - covered
    return dict(out)


def rate_steps(ctx):
    """Highest fixed rate whose p99 stays within SUSTAIN_P99_S and whose
    backlog does not grow (under SUSTAIN_P99_S seconds of input waiting)."""
    best, report = 0, []
    for rate, a, b in ctx.steps:
        a += 1000.0  # the first second of a step is the change of rate
        lat = [(r["_recv_ms"] - parse_iso(r["end"]) / 1000.0) / 1000.0 for r in ctx.rows
               if a <= parse_iso(r["end"]) / 1000.0 < b]
        gen = sum(1 for t in ctx.ticks if t.ts / 1000.0 < b)
        done = 0
        for p in ctx.progress:
            if p["_recv_ms"] <= b:
                done += p["numInputRows"]
        backlog = gen - done
        p99 = pct(lat, 0.99) if lat else float("inf")
        ok = p99 <= SUSTAIN_P99_S and backlog <= SUSTAIN_P99_S * rate
        report.append({"rate": rate, "p99_s": p99, "backlog": backlog, "sustained": ok})
        if ok:
            best = rate
    return best, report


def per_layer(ctx, e2e, untraced, work):
    m = {k: 0.0 for k, _ in NAMES}
    res = ctx.res
    prog = ctx.progress
    if ctx.workload == "ma_live":
        a, b = ctx.window
        sel = [p for p in prog if a <= p["_recv_ms"] <= b]
        late = ctx.live.gen["late_ms"]
        m["source.gen_late_p99_ms"] = pct(late, 0.99)
        m["source.gen_late_max_ms"] = max(late)
        gen = sum(1 for t in ctx.ticks if t.ts / 1000.0 < b)
        m["source.backlog_rows_end"] = gen - sum(
            p["numInputRows"] for p in prog if p["_recv_ms"] <= b)
    else:
        sel = prog
    m["source.input_rows"] = sum(p["numInputRows"] for p in prog)
    if ctx.steps:
        m["source.max_sustained_ticks_per_s"], steps = rate_steps(ctx)
    else:
        steps = None
    if ctx.workload == "registry_sweep":
        a, b = res["sweep_start_ms"], res["sweep_end_ms"]
    else:
        a, b = ctx.window
    m["jvm.cpu_s"] = cpu_between(res["cpu_samples"], a, b)
    dur = lambda k: [p["durationMs"].get(k, 0) for p in sel]  # noqa: E731
    if sel:
        m["source.latestOffset_ms"] = _mean(dur("latestOffset"))
        m["source.getBatch_ms"] = _mean(dur("getBatch"))
        trig = dur("triggerExecution")
        m["microbatch.triggers"] = len(sel)
        m["microbatch.trigger_p50_ms"] = pct(trig, 0.5)
        m["microbatch.trigger_p90_ms"] = pct(trig, 0.9)
        for k in ("queryPlanning", "addBatch", "walCommit", "commitOffsets"):
            m[f"microbatch.{k}_ms"] = _mean(dur(k))
        span = sel[-1]["_recv_ms"] - _start_ms(sel[0])
        m["microbatch.busy_frac"] = sum(trig) / span if span > 0 else 1.0
        ops = [p["stateOperators"][0] for p in sel if p.get("stateOperators")]
        if ops:
            m["statestore.rows_total"] = ops[-1]["numRowsTotal"]
            m["statestore.rows_updated"] = sum(o["numRowsUpdated"] for o in ops)
            m["statestore.rows_removed"] = sum(o.get("numRowsRemoved", 0) for o in ops)
            m["statestore.commit_ms"] = _mean([o.get("commitTimeMs", 0) for o in ops])
            m["statestore.updates_ms"] = sum(o.get("allUpdatesTimeMs", 0) for o in ops)
            m["statestore.removals_ms"] = sum(o.get("allRemovalsTimeMs", 0) for o in ops)
            m["statestore.memory_bytes"] = max(o.get("memoryUsedBytes", 0) for o in ops)
            m["statestore.rows_dropped_by_watermark"] = sum(
                o.get("numRowsDroppedByWatermark", 0) for o in ops)
    m["statestore.ckpt_bytes"] = res.get("ckpt_bytes", 0)
    if ctx.v1:
        v1 = ctx.v1
        a, b = v1.window
        cm = [p["stateOperators"][0].get("customMetrics", {}) for p in v1.progress
              if a <= p["_recv_ms"] <= b and p.get("stateOperators")]
        m["V1StateProcessor.expired_timers"] = sum(c.get("numExpiredTimers", 0) for c in cm)
        m["V1StateProcessor.timer_ms"] = sum(c.get("timerProcessingTimeMs", 0) for c in cm)
        n = sum(1 for r in v1.rows if a <= parse_iso(r["current_time"]) / 1000.0 < b)
        m["V1StateProcessor.emits_per_symbol_s"] = n / (ctx.symbols * (b - a) / 1000.0)
        if v1.latency:
            m["V1StateProcessor.emit_latency_p50_s"] = pct(v1.latency, 0.5)
            m["V1StateProcessor.emit_latency_p99_s"] = pct(v1.latency, 0.99)
    batches = res.get("sink_batches", [])
    m["sink.rows_out"] = len(ctx.rows)
    m["sink.foreachBatch_ms"] = _mean([x[2] for x in batches])
    m["sink.correct_frac"] = 1.0 - ctx.failed / ctx.attempted if ctx.attempted else 0.0
    for k in ("Schemas.parseStockJson", "Schemas.toWireJson", "MaPipeline.windowedSma"):
        m[f"{k}_rows_per_s"] = res.get(f"{k}_rows_per_s", 0.0)
    if ctx.workload == "registry_sweep":
        per = defaultdict(lambda: defaultdict(float))
        for q in res["queries"]:
            if "error" not in q:
                per[q["module"]]["build_s"] += q["build_s"]
                per[q["module"]]["exec_s"] += q["consume_s"]
        for mod, vals in res.get("modules", {}).items():
            for k, v in vals.items():
                per[mod][k] += v
        for mod in MODULES:
            for k, _ in OPS:
                m[f"ops.{mod}.{k}"] = per[mod][k]
        for k in PLAN:
            m[f"plan.{k}"] = res.get("plan", {}).get(k, 0)
    m["scaling.replay_ticks_per_s_1core"] = ctx.one_core_tps
    overhead = None
    if untraced:
        overhead = {k: e2e[k] - untraced[k] for k in e2e if k in untraced}
        m["trace.overhead_frac"] = e2e["latency_p50_s"] / untraced["latency_p50_s"] - 1.0

    spans = []
    path = os.path.join(work, "spans.jsonl")
    if os.path.exists(path):
        with open(path) as fh:
            spans = [json.loads(ln) for ln in fh if ln.strip()]
    triggers, add_batch = trigger_spans(prog)
    for s in spans:
        # the sink runs inside its trigger's addBatch
        if s["name"].startswith("sink.foreachBatch#"):
            s["parent"] = add_batch.get(int(s["name"].split("#")[1]), 0)
    spans += triggers
    doc = {"workload": ctx.workload, "spans": spans, "self_times": self_times(spans),
           "rate_steps": steps, "tracing_overhead": overhead, "untraced": untraced,
           "traced": e2e}
    return {k: (m[k], u) for k, u in NAMES}, doc, overhead
