"""Unit tests of tools/spans_summary.py.

    python3 -m unittest discover -s tools/tests
"""

import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from spans_summary import main, render_pair, summarize  # noqa: E402


def span(i, name, start_s, wall_s, self_s, jobs, parent=0):
    return {"id": i, "trace_id": i, "parent": parent, "name": name,
            "start_us": int(start_s * 1e6), "end_us": int((start_s + wall_s) * 1e6),
            "self_us": int(self_s * 1e6), "jobs": list(range(jobs))}


SPANS = [
    span(1, "commit", 10.0, 2.0, 2.0, 17),
    span(2, "query", 1.0, 0.4, 0.4, 3),
    span(3, "commit", 20.0, 3.0, 2.5, 19),
    span(4, "commit", 30.0, 1.0, 1.0, 18),
    span(5, "query", 2.0, 0.2, 0.1, 3),
    span(6, "outer", 0.5, 5.0, 0.001, 0),
]


class SummarizeTest(unittest.TestCase):
    def test_medians_per_name(self):
        s = summarize(SPANS)
        self.assertEqual(s["commit"], {"n": 3, "wall_s": 2.0, "self_s": 2.0, "jobs": 18})
        # an even count takes the mean of the middle two
        self.assertAlmostEqual(s["query"]["wall_s"], 0.3)
        self.assertAlmostEqual(s["query"]["self_s"], 0.25)
        self.assertEqual(s["outer"]["jobs"], 0)

    def test_names_in_first_start_order(self):
        self.assertEqual(list(summarize(SPANS)), ["outer", "query", "commit"])

    def test_missing_jobs_count_as_zero(self):
        s = summarize([{"name": "x", "start_us": 0, "end_us": 1000000, "self_us": 0}])
        self.assertEqual(s["x"]["jobs"], 0)


class PairTest(unittest.TestCase):
    def test_both_sides_and_missing_names(self):
        before = summarize(SPANS)
        after = summarize([span(1, "commit", 1.0, 1.5, 1.5, 11), span(2, "replay", 3.0, 1.0, 1.0, 9)])
        lines = render_pair(before, after)
        commit = next(line for line in lines if line.startswith("commit"))
        self.assertIn("3 -> 1", commit)
        self.assertIn("18 -> 11", commit)
        self.assertIn("2.000 -> 1.500", commit)
        replay = next(line for line in lines if line.startswith("replay"))
        self.assertIn("- -> 9", replay)
        query = next(line for line in lines if line.startswith("query"))
        self.assertIn("3 -> -", query)


class MainTest(unittest.TestCase):
    def write(self, d, name, spans):
        path = os.path.join(d, name)
        with open(path, "w") as f:
            json.dump(spans, f)
        return path

    def run_main(self, argv):
        out = io.StringIO()
        with contextlib.redirect_stdout(out), contextlib.redirect_stderr(io.StringIO()):
            code = main(argv)
        return code, out.getvalue()

    def test_one_and_two_files(self):
        with tempfile.TemporaryDirectory() as d:
            a = self.write(d, "a.json", SPANS)
            code, out = self.run_main([a])
            self.assertEqual(code, 0)
            self.assertTrue(out.splitlines()[0].startswith("span"))
            self.assertIn("commit", out)
            code, out = self.run_main([a, a])
            self.assertEqual(code, 0)
            self.assertIn("18 -> 18", out)

    def test_bad_input_exits_2(self):
        with tempfile.TemporaryDirectory() as d:
            bad = self.write(d, "bad.json", {"spans": []})
            self.assertEqual(self.run_main([bad])[0], 2)
            self.assertEqual(self.run_main([os.path.join(d, "absent.json")])[0], 2)


if __name__ == "__main__":
    unittest.main()
