"""The tracer's counters agree with counts made another way.

On one fixed query (q01_pricing_summary) the benchmark's SparkListener
must count the same jobs and tasks as Spark's own SparkStatusTracker, and
the same input rows as lineitem's parquet footer says the table holds.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)


class CounterCrossCheckTest(unittest.TestCase):
    def test_q01_counters(self):
        out = tempfile.mkdtemp(prefix="perfbench-xcheck-")
        try:
            subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", "crosscheck",
                            "--seed", "1", "--seconds", "1", "--trace", "1", "--setups", "1",
                            "--out", out], check=True, cwd=os.path.dirname(BENCH),
                           stdout=subprocess.DEVNULL)
            with open(os.path.join(out, "jvm_result.json")) as f:
                res = json.load(f)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        lis = res["listener"]
        footer = pq.ParquetFile(os.path.join(BENCH, ".work", "corpus", "lineitem.parquet")).metadata.num_rows
        self.assertGreater(lis["jobs"], 0)
        self.assertEqual(lis["jobs"], res["tracker_jobs"])
        self.assertEqual(lis["tasks"], res["tracker_tasks"])
        self.assertEqual(lis["failed_tasks"], 0)
        self.assertEqual(lis["input_rows"], footer)


if __name__ == "__main__":
    unittest.main()
