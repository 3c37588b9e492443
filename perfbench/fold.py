"""Reference fold over the generator's tick log, and the output checks.

The fold computes, in plain Python, what `MaPipeline.windowedSma`
(5 s windows sliding by 1 s, exactly-5 gate, 5 s watermark) must emit
for a tick log, and what each `V1StateProcessor` emission must hold.
The checks compare the sink's rows with it; every emission that is
missing, duplicated, unexpected or has wrong values is one failure.
"""
import csv
import json
import math
from collections import defaultdict
from datetime import datetime, timezone

SIZE_S, SLIDE_S, WATERMARK_S, GATE = 5, 1, 5, 5
US = 1_000_000
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


class Tick:
    __slots__ = ("symbol", "type", "ts", "vwap", "size", "real", "file", "kind")

    def __init__(self, symbol, typ, ts, vwap, size, real, file, kind):
        self.symbol, self.type, self.ts, self.vwap = symbol, typ, ts, vwap
        self.size, self.real, self.file, self.kind = size, real, file, kind


def load_ticks(path):
    with open(path) as fh:
        rd = csv.reader(fh)
        next(rd)
        return [Tick(s, t, int(ts), float(v), int(z), int(r), int(f), k)
                for s, t, ts, v, z, r, f, k in rd]


def iso_micro(us):
    """`MaPipeline`'s window bound format: whole seconds print without a
    fraction, others with six digits; UTC prints as Z."""
    sec, frac = divmod(us, US)
    head = datetime.fromtimestamp(sec, timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
    return f"{head}Z" if frac == 0 else f"{head}.{frac:06d}Z"


def parse_iso(s):
    """ISO-8601 with offset -> epoch microseconds, exactly."""
    dt = datetime.fromisoformat(s.replace("Z", "+00:00"))
    d = dt - _EPOCH
    return (d.days * 86400 + d.seconds) * US + d.microseconds


def watermarks(ticks, files_per_trigger):
    """Watermarks (µs) in force when each file is read, if the file source
    takes `files_per_trigger` files per trigger in file order. After each
    trigger the watermark becomes the newest event time read so far (in
    ms, as Spark keeps it) minus the delay. Spark filters late rows with
    the watermark of the previous trigger and evicts state with the
    current one, so a trigger reading file f sees the watermarks after
    trigger b-2 and b-1, where b is f's trigger. Returns file -> (older,
    newer)."""
    newest = defaultdict(lambda: -math.inf)
    for t in ticks:
        b = t.file // files_per_trigger
        newest[b] = max(newest[b], t.ts)
    after, seen = {}, -math.inf
    for b in range(max(newest) + 1):
        seen = max(seen, newest[b])
        after[b] = (seen // 1000 - WATERMARK_S * 1000) * 1000
    at = lambda b: after.get(b, -math.inf)  # noqa: E731
    return {f: (at(f // files_per_trigger - 2), at(f // files_per_trigger - 1))
            for f in {t.file for t in ticks}}


def expected_windows(ticks, files_per_trigger=None):
    """(symbol, window start second) -> expected row fields, for every
    window that ends up with exactly GATE ticks. A tick is dropped from a
    window whose end is at or below the watermark of the trigger that
    reads it; with files_per_trigger=None nothing is dropped (batch).
    The generator displaces ticks far enough that either watermark of
    `watermarks` gives the same answer; a tick for which they differ
    would make the expected output depend on trigger timing, and raises."""
    wm = watermarks(ticks, files_per_trigger) if files_per_trigger else None
    win = defaultdict(list)
    for t in ticks:
        s = t.ts // US
        for w in range(s - SIZE_S + SLIDE_S, s + 1):
            if wm is not None:
                end = (w + SIZE_S) * US
                older, newer = wm[t.file]
                if (end > older) != (end > newer):
                    raise ValueError(f"tick {t.symbol}@{t.ts} in file {t.file}: "
                                     "late or kept depends on trigger timing")
                if end <= older:
                    continue
            win[(t.symbol, w)].append(t)
    out = {}
    for key, ts in win.items():
        if len(ts) != GATE:
            continue
        out[key] = window_fields(ts)
    return out


def window_fields(ts):
    nz = [t.vwap for t in ts if t.size != 0]
    real = sum(t.real for t in ts)
    s = math.fsum(nz)
    lo, hi = min(t.ts for t in ts), max(t.ts for t in ts)
    return {"symbol": ts[0].symbol, "type": ts[0].type, "MA_type": "5_MA_data",
            "start_us": lo, "end_us": hi, "start": iso_micro(lo), "end": iso_micro(hi),
            "sum_of_vwap": s, "count_of_vwap": len(nz),
            "sma_value": s / len(nz) if nz else 0.0,
            "window_data_count": len(ts), "real_data_count": real,
            "filled_data_count": len(ts) - real}


def _close(a, b):
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))


def row_matches(row, exp, exact_format):
    if exact_format:
        if row["start"] != exp["start"] or row["end"] != exp["end"]:
            return False
    elif parse_iso(row["start"]) != exp["start_us"] or parse_iso(row["end"]) != exp["end_us"]:
        return False
    return (row["symbol"] == exp["symbol"] and row["type"] == exp["type"]
            and row["MA_type"] == exp["MA_type"]
            and row["count_of_vwap"] == exp["count_of_vwap"]
            and row["window_data_count"] == exp["window_data_count"]
            and row["real_data_count"] == exp["real_data_count"]
            and row["filled_data_count"] == exp["filled_data_count"]
            and _close(row["sum_of_vwap"], exp["sum_of_vwap"])
            and _close(row["sma_value"], exp["sma_value"]))


def check_ma(rows, expected):
    """Every expected window emitted exactly once with the fold's values.
    Returns (attempted, failed, notes)."""
    by_key = defaultdict(list)
    # rows are matched on the window start as MaPipeline formats it; a
    # start in another format is an unexpected row
    starts = {(e["symbol"], e["start"]): k for k, e in expected.items()}
    unexpected = 0
    for r in rows:
        k = starts.get((r["symbol"], r["start"]))
        if k is None:
            unexpected += 1
        else:
            by_key[k].append(r)
    missing = dupes = wrong = 0
    for k, exp in expected.items():
        got = by_key.get(k, [])
        if not got:
            missing += 1
        elif len(got) > 1:
            dupes += 1
        elif not row_matches(got[0], exp, exact_format=True):
            wrong += 1
    failed = missing + dupes + wrong + unexpected
    return len(expected) + unexpected, failed, {
        "expected": len(expected), "missing": missing, "duplicated": dupes,
        "wrong": wrong, "unexpected": unexpected}


def check_v1(rows, ticks):
    """Each V1 emission holds exactly the symbol's ticks in [start, end],
    five of them, none older than its emit time minus the window. V1
    evicts by wall clock, so whether a symbol emits at a given timer fire
    depends on when the trigger ran; a symbol that never emits is counted
    (silent_symbols) but is not a failure. Returns (attempted, failed, notes)."""
    per_sym = defaultdict(list)
    for t in ticks:
        per_sym[t.symbol].append(t)
    for v in per_sym.values():
        v.sort(key=lambda t: t.ts)
    wrong, emitted = 0, set()
    for r in rows:
        lo, hi = parse_iso(r["start"]), parse_iso(r["end"])
        now = parse_iso(r["current_time"])
        ts = [t for t in per_sym.get(r["symbol"], []) if lo <= t.ts <= hi]
        ok = (len(ts) == GATE and hi <= now and lo >= now - SIZE_S * US
              and row_matches(r, window_fields(ts), False))
        wrong += not ok
        emitted.add(r["symbol"])
    return len(rows), wrong, {"rows": len(rows), "wrong": wrong,
                              "silent_symbols": len(set(per_sym) - emitted)}


def read_sink(path):
    """Sink capture lines: receive epoch ms, batch id, JSON row."""
    out = []
    with open(path) as fh:
        for ln in fh:
            recv, batch, js = ln.rstrip("\n").split("\t", 2)
            r = json.loads(js)
            r["_recv_ms"] = float(recv)
            r["_batch"] = int(batch)
            out.append(r)
    return out
