#!/usr/bin/env python3
"""Benchmark of the reference's tick -> 5 s/1 s moving-average job, its
V1 state processor and the query registry.

Run from the root of a checkout:

  python3 perfbench/run.py --workload ma_live --seed 1 --seconds 12 --trace 0

Workloads (see BENCHMARK.json and README.md):
  ma_live         open loop, 500 symbols x 1 tick/s into fromJsonFiles ->
                  parse -> windowedSma -> foreachBatch on a 1 s trigger; the
                  traced run adds four rate steps and a V1StateProcessor
                  (transformWithState) segment at the same rate
  ma_replay       closed loop, a staged backlog with out-of-order and late
                  ticks drained at a fixed number of files per trigger
  registry_sweep  a fixed stride of the graft.ops registry, cold, at sf0.001

The first run in a checkout compiles the program and the harness with sbt.
The last line of stdout is one JSON object: correct, attempted, failed and
the metrics (end-to-end with --trace 0, per-layer with --trace 1). The
traced run also writes its spans to perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import fold  # noqa: E402
import layers  # noqa: E402
from layers import pct  # noqa: E402

CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "sources.sha256")
CORES = os.cpu_count()
SPARK_JARS = "/opt/spark/jars"
OUT = os.path.join(HERE, "out")

LIVE_SYMBOLS = 500          # 1 tick/s each: 500 ticks/s, spread over each second
LIVE_WARM_S = 4             # first seconds of the live stream, not sampled
RATE_STEPS = (1000, 2000, 4000, 8000)  # traced ma_live: ticks/s, STEP_S each
STEP_S = 4
REPLAY_SYMBOLS = 3000       # x 5 files per trigger: 15k ticks in each full trigger
REPLAY_SECONDS = 24         # event seconds in the backlog: 72k ticks
WARM_SECONDS = 12           # event seconds in the warm backlog
FILES_PER_TRIGGER = 5       # one file per event second; at most 5 keeps late drops certain
DRAINS = 3                  # drains of the backlog per run; the median is reported
OOO_FRAC, LATE_FRAC = 0.02, 0.02
SWEEP_STRIDE = 6
HEAP = "2g"                 # fixed and pre-touched, so VmHWM does not follow GC sizing

OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]

E2E = [("setup_s", "s"), ("latency_p50_s", "s"), ("latency_tail_s", "s"),
       ("throughput_per_s", "1/s"), ("peak_rss_bytes", "bytes")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of every input of the compile: the program's sources, the
    harness's and the build definition."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness with sbt, unless the classes
    were compiled from exactly these sources (the digest stamped next to
    them): a checkout of another commit in the same tree recompiles."""
    digest = sources_digest()
    try:
        with open(STAMP) as fh:
            if fh.read() == digest and os.path.exists(os.path.join(CLASSES, "perfbench",
                                                                   "Harness.class")):
                return
    except FileNotFoundError:
        pass
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=os.environ.get(
        "SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g"))
    log("building with sbt")
    with open(os.path.join(HERE, "target-build.log"), "w") as fh:
        sbt = shutil.which("sbt") or "/opt/sbt/bin/sbt"
        rc = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                            timeout=850).returncode
    if rc != 0 or not os.path.exists(os.path.join(CLASSES, "perfbench", "Harness.class")):
        raise SystemExit("build failed; see perfbench/target-build.log")
    with open(STAMP, "w") as fh:
        fh.write(digest)


class Procs:
    """Every child process, stopped and waited for on the way out."""

    def __init__(self):
        self.procs = []

    def start(self, cmd, cwd, logname):
        fh = open(os.path.join(cwd, logname), "w")
        p = subprocess.Popen(cmd, cwd=cwd, stdout=fh, stderr=subprocess.STDOUT)
        self.procs.append((p, fh))
        return p

    def stop(self):
        for p, fh in self.procs:
            if p.poll() is None:
                p.terminate()
                try:
                    p.wait(20)
                except subprocess.TimeoutExpired:
                    p.kill()
                    p.wait()
            fh.close()


def harness_cmd(work, workload, cores, trace, extra=()):
    jtmp = os.path.join(work, "jtmp")
    os.makedirs(jtmp, exist_ok=True)
    return (["java"] + [a for p in OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
               "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={jtmp}", "-cp", f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Harness",
               "--workload", workload, "--work", work, "--cores", str(cores),
               "--trace", str(trace)] + list(extra))


def gen_cmd(seed, mode, work, sub, extra):
    d = os.path.join(work, sub)
    return [sys.executable, os.path.join(HERE, "gen_ticks.py"), "--seed", str(seed),
            "--mode", mode, "--out", d, "--tmp", d + ".tmp", "--log", d + ".csv",
            "--done", d + ".done.json"] + extra


def run_gen(seed, mode, work, sub, extra):
    t0 = time.time()
    subprocess.run(gen_cmd(seed, mode, work, sub, extra), check=True, timeout=120)
    return time.time() - t0


def wait_exit(p, what, timeout):
    try:
        rc = p.wait(timeout)
    except subprocess.TimeoutExpired:
        raise RuntimeError(f"{what} did not finish in {timeout} s")
    if rc != 0:
        raise RuntimeError(f"{what} exited with {rc}")


def load_result(work):
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def read_progress(path):
    out = []
    with open(path) as fh:
        for ln in fh:
            recv, js = ln.rstrip("\n").split("\t", 1)
            p = json.loads(js)
            p["_recv_ms"] = float(recv)
            out.append(p)
    return out


def gen_warm(seed, work, symbols, seconds):
    """A backlog of other ticks for the warm drain, as many per file as
    the workload's."""
    return run_gen(seed + 7919, "replay", work, "warm",
                   ["--symbols", str(symbols), "--seconds", str(seconds)])


def streaming_setup(gen_s, res):
    """Tick staging + the median session build + the warm drain."""
    return gen_s + statistics.median(res["session_setup_s"]) + res["warm_up_s"]


def feed_live(jvm, procs, work, tag, seed, steps):
    """Wait for the harness to start its query on src<tag>, then run the
    paced generator into it."""
    deadline = time.time() + 120
    while not os.path.exists(os.path.join(work, "ready" + tag)):
        if jvm.poll() is not None or time.time() > deadline:
            raise RuntimeError("harness did not get ready")
        time.sleep(0.05)
    gen = procs.start(gen_cmd(seed, "live", work, "src" + tag, ["--steps", ",".join(steps)]),
                      work, f"gen{tag}.log")
    wait_exit(gen, "generator", 150)
    os.rename(os.path.join(work, f"src{tag}.done.json"),
              os.path.join(work, f"gen_done{tag}.json"))


class Live:
    """What one live segment produced: ticks, sink rows, trigger progress,
    and the sampled window after the warm seconds."""

    def __init__(self, work, tag, seconds):
        with open(os.path.join(work, f"gen_done{tag}.json")) as fh:
            self.gen = json.load(fh)
        self.ticks = fold.load_ticks(os.path.join(work, f"src{tag}.csv"))
        self.rows = fold.read_sink(os.path.join(work, f"sink{tag}.tsv"))
        self.progress = read_progress(os.path.join(work, f"progress{tag}.jsonl"))
        t0 = self.gen["start"] * 1000.0
        self.window = (t0 + LIVE_WARM_S * 1000.0, t0 + (LIVE_WARM_S + seconds) * 1000.0)
        a, b = self.window
        self.latency = [(r["_recv_ms"] - fold.parse_iso(r["end"]) / 1000.0) / 1000.0
                        for r in self.rows if a <= fold.parse_iso(r["end"]) / 1000.0 < b]
        self.window_ticks = sum(1 for t in self.ticks if a * 1000 <= t.ts < b * 1000)


def run_ma_live(args, work, procs):
    trace = args.trace == 1
    steps = [f"{LIVE_SYMBOLS}:{LIVE_WARM_S + args.seconds + 1}"]
    if trace:
        steps += [f"{r}:{STEP_S}" for r in RATE_STEPS]
    gen_s = gen_warm(args.seed, work, LIVE_SYMBOLS, 8)
    jvm = procs.start(harness_cmd(work, "ma_live", CORES, args.trace), work, "jvm.log")
    feed_live(jvm, procs, work, "", args.seed, steps)
    if trace:
        feed_live(jvm, procs, work, "_v1", args.seed + 1,
                  [f"{LIVE_SYMBOLS}:{LIVE_WARM_S + args.seconds + 1}"])
    wait_exit(jvm, "harness", 120)

    res = load_result(work)
    ma = Live(work, "", args.seconds)
    attempted, failed, notes = fold.check_ma(ma.rows, fold.expected_windows(ma.ticks))
    e2e = {
        "setup_s": streaming_setup(gen_s, res),
        "latency_p50_s": pct(ma.latency, 0.5),
        "latency_tail_s": pct(ma.latency, 0.99),
        # ticks per JVM CPU second over the window: the rate the job's own
        # cost per tick sets, which neither the offered 500/s caps nor
        # waits for a CPU stretch
        "throughput_per_s": ma.window_ticks / layers.cpu_between(res["cpu_samples"], *ma.window),
        "peak_rss_bytes": res["peak_rss_bytes"],
    }
    info = {"latency_samples": len(ma.latency), "check": notes}
    ctx = layers.Ctx(res=res, live=ma, progress=ma.progress, rows=ma.rows, ticks=ma.ticks,
                     window=ma.window, attempted=attempted, failed=failed, workload="ma_live",
                     symbols=LIVE_SYMBOLS)
    if trace:
        first = ma.window[1] + 1000.0
        ctx.steps = [(r, first + i * STEP_S * 1000.0, first + (i + 1) * STEP_S * 1000.0)
                     for i, r in enumerate(RATE_STEPS)]
        v1 = Live(work, "_v1", args.seconds)
        v1_attempted, v1_failed, v1_notes = fold.check_v1(v1.rows, v1.ticks)
        ctx.v1 = v1
        attempted, failed = attempted + v1_attempted, failed + v1_failed
        info["v1_check"] = v1_notes
    return attempted, failed, e2e, info, ctx


def run_replay(args, work, procs):
    shape = ["--symbols", str(REPLAY_SYMBOLS), "--seconds", str(REPLAY_SECONDS),
             "--ooo-frac", str(OOO_FRAC), "--late-frac", str(LATE_FRAC)]
    gen_s = gen_warm(args.seed, work, REPLAY_SYMBOLS, WARM_SECONDS) + run_gen(args.seed, "replay", work, "staging", shape)
    extra = ["--files-per-trigger", str(FILES_PER_TRIGGER)]
    jvm = procs.start(harness_cmd(work, "ma_replay", CORES, args.trace,
                                  extra + ["--drains", str(DRAINS)]), work, "jvm.log")
    wait_exit(jvm, "harness", 170)
    res = load_result(work)
    ticks = fold.load_ticks(os.path.join(work, "staging.csv"))
    expected = fold.expected_windows(ticks, FILES_PER_TRIGGER)
    attempted = failed = 0
    drains = []
    for i, (a, b) in enumerate(res["drains"]):
        rows = fold.read_sink(os.path.join(work, f"sink-{i}.tsv"))
        n, bad, notes = fold.check_ma(rows, expected)
        attempted, failed = attempted + n, failed + bad
        lat = [(r["_recv_ms"] - a) / 1000.0 for r in rows]
        drains.append({"latency_p50_s": pct(lat, 0.5), "latency_tail_s": pct(lat, 0.99),
                       "throughput_per_s": res["ticks"] / ((b - a) / 1000.0),
                       "drain_s": (b - a) / 1000.0, "check": notes})
    e2e = {"setup_s": streaming_setup(gen_s, res), "peak_rss_bytes": res["peak_rss_bytes"]}
    for k in ("latency_p50_s", "latency_tail_s", "throughput_per_s"):
        e2e[k] = statistics.median(d[k] for d in drains)
    last = len(drains) - 1
    progress = read_progress(os.path.join(work, f"progress-{last}.jsonl"))
    info = {"ticks": res["ticks"], "replay_ticks_per_s": e2e["throughput_per_s"],
            "drains": drains, "trigger_mean_ms": layers.trigger_parts(progress)}
    ctx = layers.Ctx(res=res, progress=progress,
                     rows=rows, ticks=ticks, window=tuple(res["drains"][last]),
                     attempted=attempted, failed=failed, workload="ma_replay",
                     symbols=REPLAY_SYMBOLS)
    if args.trace == 1:
        # the single-threaded baseline: the same backlog drained once at local[1]
        one = os.path.join(work, "one-core")
        os.makedirs(one)
        for d in ("staging", "warm"):
            shutil.copytree(os.path.join(work, d), os.path.join(one, d))
        p = procs.start(harness_cmd(one, "ma_replay", 1, 0, extra + ["--drains", "1"]),
                        one, "jvm.log")
        wait_exit(p, "one-core harness", 170)
        (a, b), = load_result(one)["drains"]
        ctx.one_core_tps = res["ticks"] / ((b - a) / 1000.0)
    return attempted, failed, e2e, info, ctx


def run_registry(args, work, procs):
    data = os.path.join(HERE, "data", "sf0.001")
    extra = ["--data", data, "--subset-stride", str(SWEEP_STRIDE)]
    jvm = procs.start(harness_cmd(work, "registry_sweep", CORES, args.trace, extra),
                      work, "jvm.log")
    wait_exit(jvm, "harness", 170)
    res = load_result(work)
    with open(os.path.join(HERE, "fingerprints.json")) as fh:
        expected = json.load(fh)
    qs = res["queries"]
    bad = [q["name"] for q in qs
           if "error" in q or [q["fingerprint"], q["rows"]] != expected.get(q["name"])]
    times = [q["build_s"] + q["consume_s"] for q in qs if "error" not in q]
    sweep_s = sum(times)
    e2e = {
        "setup_s": statistics.median(res["session_setup_s"]) + res["warm_up_s"],
        "latency_p50_s": pct(times, 0.5),
        "latency_tail_s": pct(times, 0.75),
        "throughput_per_s": len(times) / sweep_s,
        "peak_rss_bytes": res["peak_rss_bytes"],
    }
    info = {"queries": len(qs), "sweep_s": sweep_s, "failed_queries": bad}
    ctx = layers.Ctx(res=res, progress=[], rows=[], ticks=[], window=None,
                     attempted=len(qs), failed=len(bad), workload="registry_sweep",
                     symbols=0)
    return len(qs), len(bad), e2e, info, ctx


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["ma_live", "ma_replay", "registry_sweep"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("no program sources next to the benchmark (src/main/scala/graft)")
        return 2
    build()
    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(OUT, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    procs = Procs()
    try:
        if args.workload == "ma_live":
            attempted, failed, e2e, info, ctx = run_ma_live(args, work, procs)
        elif args.workload == "ma_replay":
            attempted, failed, e2e, info, ctx = run_replay(args, work, procs)
        else:
            attempted, failed, e2e, info, ctx = run_registry(args, work, procs)
    except Exception as e:  # noqa: BLE001 - any failure ends the run without a result
        log(f"run failed: {e}; logs kept in {work}")
        return 1
    finally:
        procs.stop()

    stem = os.path.join(OUT, f"{args.workload}")
    if args.trace == 0:
        with open(stem + ".e2e.json", "w") as fh:
            json.dump(e2e, fh)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E}
    else:
        untraced = None
        if os.path.exists(stem + ".e2e.json"):
            with open(stem + ".e2e.json") as fh:
                untraced = json.load(fh)
        per_layer, spans, overhead = layers.per_layer(ctx, e2e, untraced, work)
        span_path = f"{stem}.{args.seed}.spans.json"
        with open(span_path, "w") as fh:
            json.dump(spans, fh)
        log(f"spans and self times written to {os.path.relpath(span_path, ROOT)}")
        log("tracing overhead (traced - untraced): " + json.dumps(overhead))
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
    for k, u in E2E:
        print(f"{args.workload} {k} = {e2e[k]:.6g} {u}")
    print(f"{args.workload} info {json.dumps(info)}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
