"""Tests of sf10_pairs.py's merge and its matched-parallelism refusal.

    python3 -m unittest discover -s tools
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

SCRIPT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf10_pairs.py")

PROF_LOG = """[info] [prof] {"cpus":%s}
[info] [prof] dd3_minhash_lsh run1 8.40 s
[info] [prof] dd3_minhash_lsh run2 4.10 s
[info] [prof] dd3_minhash_lsh run3 4.00 s
[info] [prof] dd3_minhash_lsh run4 4.30 s
"""


class Sf10PairsTest(unittest.TestCase):
    def run_merge(self, art_cpus, log_header):
        tmp = tempfile.TemporaryDirectory()
        self.addCleanup(tmp.cleanup)
        d = Path(tmp.name)
        art = {"warm": {"dd3_minhash_lsh": 12.0}, "warm_total": 12.0}
        if art_cpus is not None:
            art["cpus"] = art_cpus
        art_path = d / "BENCH.json"
        art_path.write_text(json.dumps(art) + "\n")
        logs = d / "logs"
        logs.mkdir()
        (logs / "dd3_minhash_lsh.log").write_text(
            PROF_LOG % log_header if log_header is not None
            else PROF_LOG.split("\n", 1)[1])
        before = art_path.read_text()
        p = subprocess.run([sys.executable, SCRIPT, str(art_path), str(logs)],
                           capture_output=True, text=True)
        return p, before, art_path.read_text()

    def test_matched_cpus_merge(self):
        p, _, after = self.run_merge(8, 8)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr)
        art = json.loads(after)
        self.assertEqual(art["warm"]["dd3_minhash_lsh"], 4.1)
        self.assertEqual(art["cold_isolated"]["dd3_minhash_lsh"], 8.4)

    def test_mismatched_cpus_refused(self):
        p, before, after = self.run_merge(4, 32)
        self.assertEqual(p.returncode, 2)
        self.assertIn("REFUSED", p.stdout)
        self.assertEqual(before, after)

    def test_missing_cpus_refused(self):
        for art_cpus, header in ((None, 8), (8, None)):
            p, before, after = self.run_merge(art_cpus, header)
            self.assertEqual(p.returncode, 2, (art_cpus, header))
            self.assertEqual(before, after)


if __name__ == "__main__":
    unittest.main()
