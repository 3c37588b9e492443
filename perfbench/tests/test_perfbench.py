"""Tests of the benchmark's own pieces: the generator, the reference fold
and the compare script.

  python3 -m unittest discover -s perfbench/tests

The fold test compiles the harness on first use (as run.py does) and runs
`MaPipeline.windowedSma` in batch mode in a JVM.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest
from unittest import mock

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import compare  # noqa: E402
import fold  # noqa: E402
import gen_ticks  # noqa: E402
import run  # noqa: E402

OUT = os.path.join(BENCH, "out")


def scratch(test):
    os.makedirs(OUT, exist_ok=True)
    d = tempfile.mkdtemp(prefix="test-", dir=OUT)
    test.addCleanup(shutil.rmtree, d, True)
    return d


def generate(work, sub, seed, mode, extra):
    subprocess.run(run.gen_cmd(seed, mode, work, sub, extra), check=True, timeout=120)
    return os.path.join(work, sub)


def generate_live_in_past(work, sub, seed, extra):
    """Live mode with its first event second in the past, so it runs
    without sleeping and its output does not depend on the clock."""
    with mock.patch.object(gen_ticks, "live_start", return_value=gen_ticks.REPLAY_BASE_S):
        gen_ticks.main(run.gen_cmd(seed, "live", work, sub, extra)[2:])
    return os.path.join(work, sub)


class GeneratorTest(unittest.TestCase):
    REPLAY = ["--symbols", "40", "--seconds", "40", "--ooo-frac", "0.1", "--late-frac", "0.05"]
    LIVE = ["--steps", "20:3,40:2"]

    def same_tree(self, a, b):
        cmp = filecmp.dircmp(a, b)
        self.assertFalse(cmp.left_only or cmp.right_only)
        _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))
        self.assertTrue(filecmp.cmp(a + ".csv", b + ".csv", shallow=False))

    def test_same_seed_gives_identical_bytes(self):
        w = scratch(self)
        self.same_tree(generate(w, "replay-a", 7, "replay", self.REPLAY),
                       generate(w, "replay-b", 7, "replay", self.REPLAY))
        self.same_tree(generate_live_in_past(w, "live-a", 7, self.LIVE),
                       generate_live_in_past(w, "live-b", 7, self.LIVE))
        c = generate(w, "replay-c", 8, "replay", self.REPLAY)
        self.assertFalse(filecmp.cmp(os.path.join(c, "t0000000.json"),
                                     os.path.join(w, "replay-a", "t0000000.json"),
                                     shallow=False))

    def test_ticks_cover_every_branch(self):
        w = scratch(self)
        ticks = fold.load_ticks(generate(w, "r", 3, "replay", self.REPLAY) + ".csv")
        kinds = {t.kind for t in ticks}
        self.assertEqual(kinds, {"inorder", "ooo", "late"})
        self.assertTrue(any(t.size == 0 and t.real for t in ticks))
        self.assertTrue(any(not t.real for t in ticks))


class FoldTest(unittest.TestCase):
    def test_fold_equals_batch_windowed_sma(self):
        run.build()
        w = scratch(self)
        ticks_dir = generate(w, "ticks", 11, "replay", GeneratorTest.REPLAY)
        ticks = fold.load_ticks(ticks_dir + ".csv")
        cmd = run.harness_cmd(w, "batch_sma", 2, 0)
        with open(os.path.join(w, "jvm.log"), "w") as fh:
            subprocess.run(cmd, cwd=w, stdout=fh, stderr=subprocess.STDOUT, check=True,
                           timeout=300)
        rows = fold.read_sink(os.path.join(w, "batch.tsv"))
        # batch mode has no watermark: every tick counts, late ones too
        expected = fold.expected_windows(ticks)
        attempted, failed, notes = fold.check_ma(rows, expected)
        self.assertEqual(failed, 0, notes)
        self.assertGreater(attempted, 500)
        # a streaming drain at 4 files per trigger drops the late ticks'
        # windows and keeps the out-of-order ones
        streamed = fold.expected_windows(ticks, 4)
        late = {(t.symbol, t.ts // fold.US) for t in ticks if t.kind == "late"}
        ooo = {(t.symbol, t.ts // fold.US) for t in ticks if t.kind == "ooo"}
        lost = set(expected) - set(streamed)
        self.assertTrue(lost)
        self.assertTrue(all(any((s, w0 + i) in late for i in range(5)) for s, w0 in lost))
        self.assertTrue(any(any((s, w0 + i) in ooo for i in range(5)) for s, w0 in streamed))


class CompareTest(unittest.TestCase):
    METRICS = [("setup_s", "lower", 0.25), ("latency_p50_s", "lower", 0.1),
               ("throughput_per_s", "higher", 0.1)]

    def write_set(self, root, name, values):
        d = os.path.join(root, name)
        os.makedirs(d)
        for seed, vals in enumerate(values, 1):
            res = {"correct": True, "attempted": 1, "failed": 0,
                   "metrics": {k: {"value": v, "unit": "s"} for k, v in vals.items()}}
            with open(os.path.join(d, f"w.{seed}.0.json"), "w") as fh:
                fh.write("some output\n" + json.dumps(res) + "\n")
        return d

    def test_verdicts(self):
        root = scratch(self)
        bench = os.path.join(root, "BENCHMARK.json")
        with open(bench, "w") as fh:
            json.dump({"workloads": [{"name": "w", "why": "-"}],
                       "end_to_end": [{"name": n, "unit": "s", "better": b, "bound": x}
                                      for n, b, x in self.METRICS]}, fh)
        jit = [1.0 + 0.004 * ((i * 7) % 10 - 5) for i in range(10)]
        base = self.write_set(root, "base", [
            {"setup_s": 2.0 * j, "latency_p50_s": 1.0 * j, "throughput_per_s": 100.0 * j}
            for j in jit])
        change = self.write_set(root, "change", [
            # setup much noisier than its bound; latency 30% worse;
            # throughput 5% better on every pair
            {"setup_s": 2.0 * (0.5 if i % 2 else 1.6), "latency_p50_s": 1.3 * j,
             "throughput_per_s": 105.0 * j} for i, j in enumerate(jit)])
        rows, _ = compare.compare(base, change, bench, 0.1)
        got = {r["metric"]: r["verdict"] for r in rows}
        self.assertEqual(got, {"setup_s": "unresolved", "latency_p50_s": "worse",
                               "throughput_per_s": "better"})
        rows, _ = compare.compare(base, base, bench, 0.1)
        self.assertEqual({r["verdict"] for r in rows}, {"same"})


if __name__ == "__main__":
    unittest.main()
