"""The generator is a pure function of its seed.

    python3 -m unittest discover -s perfbench/tests
"""
import glob
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
GEN = os.path.join(os.path.dirname(HERE), "gen.py")


def files_by_order(work):
    """Every file the stream command wrote, keyed by its sequence (open-loop
    names also carry the due time, which is wall-clock and not compared)."""
    out = {}
    for f in glob.glob(os.path.join(work, "**", "*.json"), recursive=True):
        rel = os.path.relpath(f, work)
        if os.path.basename(f) == "manifest.json":
            continue
        key = rel.rsplit("_", 1)[0] if os.path.basename(f).startswith("e") else rel
        with open(f, "rb") as fh:
            out[key] = fh.read()
    return out


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp(prefix="perfbench-gen-")
        cls.corpus = os.path.join(cls.tmp, "corpus")
        subprocess.run([sys.executable, GEN, "corpus", "--out", cls.corpus], check=True)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def stream(self, workload, seed, name):
        work = os.path.join(self.tmp, name)
        os.makedirs(work)
        open(os.path.join(work, "ready"), "w").close()  # no harness: start at once
        subprocess.run([sys.executable, GEN, "stream", "--workload", workload, "--seed", str(seed),
                        "--seconds", "2", "--corpus", self.corpus, "--work", work], check=True)
        return files_by_order(work)

    def test_corpus_bytes_repeat(self):
        again = os.path.join(self.tmp, "corpus2")
        subprocess.run([sys.executable, GEN, "corpus", "--out", again], check=True)
        for f in sorted(glob.glob(os.path.join(self.corpus, "*.parquet"))):
            with open(f, "rb") as a, open(os.path.join(again, os.path.basename(f)), "rb") as b:
                self.assertEqual(a.read(), b.read(), f)

    def test_stream_inputs_follow_the_seed(self):
        for workload in ("entity_stream", "dedup_takedown"):
            a = self.stream(workload, 7, f"{workload}-a")
            b = self.stream(workload, 7, f"{workload}-b")
            c = self.stream(workload, 8, f"{workload}-c")
            self.assertTrue(a)
            self.assertEqual(a, b, f"{workload}: one seed must give identical bytes")
            self.assertEqual(a.keys(), c.keys())
            self.assertNotEqual(a, c, f"{workload}: another seed must give different bytes")


if __name__ == "__main__":
    unittest.main()
