"""Self-tests for bench_decode.py. Run: python3 -m unittest discover -s perfbench/tests"""

import json
import os
import sys
import tempfile
import unittest
import zlib

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import bench_decode as bd  # noqa: E402

KEYS = {"b_key": 2.0, "a_key": 1.0, "c_key": 4.0}


def compact(qsec, crc):
    return {"metric": "total", "value": sum(qsec), "unit": "sec", "queries": {},
            "qsec": qsec, "qsec_order": "keys-asc", "qsec_keys_crc32": crc}


class DecodeTest(unittest.TestCase):
    def test_crc_is_over_the_ascending_comma_joined_keys(self):
        self.assertEqual(bd.keys_crc32(KEYS), zlib.crc32(b"a_key,b_key,c_key"))

    def test_qsec_joins_to_sorted_keys_when_the_crc_matches(self):
        lists = {bd.keys_crc32(KEYS): sorted(KEYS)}
        got, how = bd.per_key(compact([1.0, 2.0, 4.0], bd.keys_crc32(KEYS)), lists)
        self.assertEqual(got, KEYS)
        self.assertIn("checked", how)

    def test_unknown_crc_and_length_mismatch_are_refused(self):
        lists = {bd.keys_crc32(KEYS): sorted(KEYS)}
        with self.assertRaises(bd.DecodeError):
            bd.per_key(compact([1.0, 2.0, 4.0], 12345), lists)
        with self.assertRaises(bd.DecodeError):
            bd.per_key(compact([1.0, 2.0], bd.keys_crc32(KEYS)), lists)
        with self.assertRaises(bd.DecodeError):
            bd.per_key({"metric": "total", "qsec": [1.0]}, lists)

    def test_named_queries_need_no_key_list(self):
        got, how = bd.per_key({"metric": "total", "queries": KEYS}, {})
        self.assertEqual((got, how), (KEYS, "named"))

    def test_ratios_and_geomean(self):
        rows, g = bd.compare({"a": 1.0, "b": 4.0, "c": 3.0}, {"a": 2.0, "b": 2.0, "d": 1.0})
        self.assertEqual([(k, r) for k, _, _, r in rows], [("a", 2.0), ("b", 0.5)])
        self.assertAlmostEqual(g, 1.0)

    def test_end_to_end_on_recorded_snapshots(self):
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "BENCH_HISTORY.jsonl"), "w") as fh:
                fh.write(json.dumps({"ts": "t", "queries": KEYS}) + "\n")
            crc = bd.keys_crc32(KEYS)
            line = json.dumps(compact([1.0, 2.0, 4.0], crc))
            with open(os.path.join(d, "A.json"), "w") as fh:
                json.dump({"parsed": None, "tail": "log line\n" + line + "\n"}, fh)
            with open(os.path.join(d, "B.json"), "w") as fh:
                json.dump({"parsed": compact([2.0, 4.0, 8.0], crc)}, fh)
            self.assertEqual(bd.main([os.path.join(d, "A.json"), os.path.join(d, "B.json")]), 0)
            self.assertEqual(bd.per_key(bd.load(os.path.join(d, "B.json")),
                                        bd.key_lists(os.path.join(d, "BENCH_HISTORY.jsonl")))[0],
                             {"a_key": 2.0, "b_key": 4.0, "c_key": 8.0})


if __name__ == "__main__":
    unittest.main()
