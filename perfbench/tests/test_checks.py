"""Unit tests for the benchmark's output checks.

  python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import checks  # noqa: E402


class EtlOutputs(unittest.TestCase):
    def test_a_missing_sink_output_fails(self):
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "s1", "jsonl"))  # a sink dir, no files
            dirs = [os.path.join(d, run, sink)
                    for run in ("u1", "s1") for sink in ("parquet", "jsonl")]
            bad = checks.etl_outputs(dirs, (1, 0, 0, "1.0", "1.0"))
            self.assertEqual(sorted(bad), sorted(dirs))
            self.assertEqual(set(bad.values()), {"no output"})


if __name__ == "__main__":
    unittest.main()
