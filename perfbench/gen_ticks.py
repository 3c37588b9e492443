#!/usr/bin/env python3
"""Tick generator: reference-shaped StockData JSON lines, seeded.

Runs as its own process. The program under test sees only the files this
writes. Live and replay share one code path: the schedule below yields
(due time, file, ticks) in order, and `emit` either sleeps until each
file is due (live, paced) or writes it at once (replay, run ahead).

Every symbol ticks once per second at its own fixed sub-second offset, so
ticks are spread over each second and each 5 s window of a symbol holds
exactly five ticks. Fixed shares of ticks are zero-volume or `filled`,
so every branch of the aggregate runs. Each tick is stamped with its due
time (`current_time`). Files are written into a temporary directory and
renamed into the watched one, so a reader never sees a partial file.

Replay only: a share of ticks is delivered a few seconds late inside the
5 s watermark (out of order, kept) and a share far beyond it (late,
dropped). A tick delivered d seconds late travels in the file of event
second s + d.

Usage:
  gen_ticks.py --seed N --mode live --steps 500:13 --out DIR --tmp DIR \
      --log ticks.csv --done done.json
  gen_ticks.py --seed N --mode replay --symbols 2500 --seconds 60 ...
"""
import argparse
import json
import os
import random
import time
from datetime import datetime, timezone

REPLAY_BASE_S = 1767225600  # 2026-01-01T00:00:00Z
OOO_DELAYS = (1, 2, 3)      # seconds; below the 5 s watermark: kept
LATE_DELAY = 20             # seconds; every window closed: dropped, for up
                            # to 5 files (event seconds) per trigger
CHUNK_MS = 250              # live: one file every 250 ms, half a file off the
                            # whole seconds at which the 1 s triggers list
ZERO_VOLUME_FRAC = 0.08
FILLED_FRAC = 0.12


def iso_second(sec):
    return datetime.fromtimestamp(sec, timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")


class Symbols:
    """Per-symbol constants and price state, drawn in symbol order."""

    def __init__(self, rng):
        self.rng = rng
        self.names, self.types, self.offsets, self.prices, self.yest = [], [], [], [], []
        self.volume = []

    def grow(self, n):
        r = self.rng
        for i in range(len(self.names), n):
            self.names.append(str(1000 + i))
            self.types.append("etf" if r.random() < 0.1 else "stock")
            self.offsets.append(r.randrange(1_000_000))
            p = round(r.uniform(10.0, 900.0), 2)
            self.prices.append(p)
            self.yest.append(p)
            self.volume.append(0.0)

    def tick(self, i, sec):
        """One tick of symbol i in event second `sec` -> (ts_us, fields)."""
        r = self.rng
        p = max(1.0, round(self.prices[i] * (1.0 + r.gauss(0.0, 0.002)), 2))
        self.prices[i] = p
        filled = r.random() < FILLED_FRAC
        size = 0 if filled or r.random() < ZERO_VOLUME_FRAC else r.randint(1, 500)
        self.volume[i] += size
        ts_us = sec * 1_000_000 + self.offsets[i]
        return ts_us, (self.names[i], self.types[i], p, size, 0 if filled else 1,
                       self.volume[i], self.yest[i])


def line(sec_str, next_str, ts_us, f):
    name, typ, price, size, real, volume, yest = f
    frac = ts_us % 1_000_000
    cur = f"{sec_str}.{frac:06d}+00:00"
    last = f"{sec_str}.{frac // 2:06d}+00:00"
    return ('{"symbol":"%s","type":"%s","start":"%s+00:00","end":"%s+00:00",'
            '"current_time":"%s","last_data_time":"%s","real_data_count":%d,'
            '"filled_data_count":%d,"real_or_filled":"%s","vwap_price_per_sec":%r,'
            '"size_per_sec":%d,"volume_till_now":%r,"yesterday_price":%r,'
            '"price_change_percentage":%r}') % (
        name, typ, sec_str, next_str, cur, last, real, 1 - real,
        "real" if real else "filled", price, size, volume, yest,
        round((price - yest) / yest * 100.0, 2))


def live_schedule(args, syms):
    """Paced files every CHUNK_MS, each holding the ticks due inside it.
    File boundaries sit half a chunk off the whole seconds, where the
    job's 1 s triggers list the directory, so no file lands while a
    trigger lists: which trigger reads a tick does not hang on a race
    between the two clocks."""
    steps = [tuple(int(x) for x in s.split(":")) for s in args.steps.split(",")]
    chunk_us = CHUNK_MS * 1000
    edge = args.start * 1_000_000 + chunk_us // 2
    pending, sec = [], 0
    for nsym, secs in steps:
        syms.grow(nsym)
        order = sorted(range(nsym), key=lambda i: syms.offsets[i])
        for _ in range(secs):
            s = args.start + sec
            sec_str, next_str = iso_second(s), iso_second(s + 1)
            for i in order:
                t, f = syms.tick(i, s)
                pending.append((t, f, line(sec_str, next_str, t, f), "live"))
            sec += 1
            while edge <= (s + 1) * 1_000_000:
                yield edge / 1e6, [x for x in pending if x[0] < edge]
                pending = [x for x in pending if x[0] >= edge]
                edge += chunk_us
    yield edge / 1e6, pending


def replay_schedule(args, syms):
    """One file per event second, plus ticks displaced into later files."""
    syms.grow(args.symbols)
    base = args.start
    r = syms.rng
    pending = {}
    for k in range(args.seconds):
        s = base + k
        sec_str, next_str = iso_second(s), iso_second(s + 1)
        here = pending.pop(k, [])
        for i in range(args.symbols):
            t, f = syms.tick(i, s)
            u = r.random()
            if u < args.late_frac and k + LATE_DELAY < args.seconds:
                d, kind = LATE_DELAY, "late"
            elif u < args.late_frac + args.ooo_frac and k + OOO_DELAYS[-1] < args.seconds:
                d, kind = OOO_DELAYS[r.randrange(len(OOO_DELAYS))], "ooo"
            else:
                d, kind = 0, "inorder"
            item = (t, f, line(sec_str, next_str, t, f), kind)
            if d:
                pending.setdefault(k + d, []).append(item)
            else:
                here.append(item)
        yield float(s + 1), sorted(here, key=lambda x: (x[0] // 1_000_000, x[1][0]))


def emit(schedule, args):
    os.makedirs(args.out, exist_ok=True)
    os.makedirs(args.tmp, exist_ok=True)
    late_ms, n_ticks, n_files = [], 0, 0
    with open(args.log, "w") as log:
        log.write("symbol,type,ts_us,vwap,size,real,file,kind\n")
        for seq, (due, ticks) in enumerate(schedule):
            if args.mode == "live":
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
            if not ticks:
                continue
            name = f"t{seq:07d}.json"
            tmp = os.path.join(args.tmp, name)
            with open(tmp, "w") as fh:
                fh.write("\n".join(x[2] for x in ticks))
                fh.write("\n")
            if args.mode == "replay":
                # strictly increasing mtimes fix the order the file source
                # takes files in, and with it which trigger sees which tick
                os.utime(tmp, (due, due))
            os.rename(tmp, os.path.join(args.out, name))
            if args.mode == "live":
                late_ms.append((time.time() - due) * 1000.0)
            for t, f, _, kind in ticks:
                log.write(f"{f[0]},{f[1]},{t},{f[2]!r},{f[3]},{f[4]},{n_files},{kind}\n")
            n_ticks += len(ticks)
            n_files += 1
    return {"ticks": n_ticks, "files": n_files, "late_ms": late_ms, "start": args.start}


def live_start():
    """First event second of a live run: the next whole second."""
    return int(time.time()) + 1


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--mode", choices=["live", "replay"], required=True)
    ap.add_argument("--steps", default="500:13", help="live: symbols:seconds[,...]")
    ap.add_argument("--symbols", type=int, default=2500, help="replay: symbols")
    ap.add_argument("--seconds", type=int, default=60, help="replay: event seconds")
    ap.add_argument("--ooo-frac", type=float, default=0.0)
    ap.add_argument("--late-frac", type=float, default=0.0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--done", required=True)
    args = ap.parse_args(argv)
    args.start = live_start() if args.mode == "live" else REPLAY_BASE_S
    syms = Symbols(random.Random(args.seed))
    sched = live_schedule(args, syms) if args.mode == "live" else replay_schedule(args, syms)
    summary = emit(sched, args)
    with open(args.done + ".tmp", "w") as fh:
        json.dump(summary, fh)
    os.rename(args.done + ".tmp", args.done)


if __name__ == "__main__":
    main()
