"""Tests for reader.last_json.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The fixture is the captured tail of a committed Bench run (BENCH_r16.json
at the repository root): WARN noise printed through sbt's logger, the
bench line behind an `[info] ` prefix, and a trailing `[success]` line.
"""
import json
import os
import unittest

from reader import last_json

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class LastJsonTest(unittest.TestCase):
    def test_sbt_capture(self):
        with open(os.path.join(ROOT, "BENCH_r16.json")) as f:
            tail = json.load(f)["tail"]
        self.assertIn("[info] {", tail)
        self.assertIn("[success]", tail.splitlines()[-1])
        line = last_json(tail)
        self.assertEqual(line["metric"], "total")
        self.assertEqual(len(line["queries"]), 31)
        self.assertEqual(line["errors"], {})

    def test_bare_line_after_noise(self):
        text = "WARN something\n{\"a\": 1}\nnot json {\n{\"b\": 2}\n"
        self.assertEqual(last_json(text), {"b": 2})

    def test_no_object(self):
        self.assertIsNone(last_json("[info] [1, 2]\n[error] {broken\n"))


if __name__ == "__main__":
    unittest.main()
