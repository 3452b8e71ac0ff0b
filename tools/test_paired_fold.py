"""Tests of tools/paired_fold.py on synthetic Bench legs.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import paired_fold  # noqa: E402


def stream(rows, sec):
    return {"rows": rows, "out_rows": rows // 10, "sec": sec, "sec_runs": [sec],
            "rows_per_sec": round(rows / sec)}


def write_leg(d, side, leg, mins, streams=None, sized=None):
    res = {"metric": "total", "value": 0.0}
    if streams is not None:
        res["stream_throughput"] = streams
    if sized is not None:
        res["stream_throughput_sized"] = sized
    res.update({"queries": mins, "mins": mins})
    with open(os.path.join(d, f"{side}_leg{leg}.json"), "w") as f:
        f.write("[bench] noise\n" + json.dumps(res, separators=(",", ":")) + "\n")


class PairedFoldTest(unittest.TestCase):
    def test_stream_only_drill_folds_the_stream_records(self):
        with tempfile.TemporaryDirectory() as d:
            for leg, (o, n) in enumerate([(6.0, 3.0), (5.0, 4.0)], 1):
                write_leg(d, "old", leg, {}, [stream(100000, o), stream(1000000, 2 * o)],
                          [stream(1000000, o)])
                write_leg(d, "new", leg, {}, [stream(100000, n), stream(1000000, 2 * n)],
                          [stream(1000000, n)])
            res = paired_fold.fold(d)
        self.assertEqual(res["common_queries"], 0)
        self.assertNotIn("per_query_ratio", res)
        self.assertEqual(res["per_stream_ratio"], {
            "stream_throughput/rows=100000": 0.6,
            "stream_throughput/rows=1000000": 0.6,
            "stream_throughput_sized/rows=1000000": 0.6})
        self.assertEqual(res["stream_sec_min"]["stream_throughput/rows=100000"],
                         {"old": 5.0, "new": 3.0})

    def test_queries_fold_per_side_minimums_and_drop_failures(self):
        with tempfile.TemporaryDirectory() as d:
            write_leg(d, "old", 1, {"a": 2.0, "b": 1.0, "c": 1.0})
            write_leg(d, "old", 2, {"a": 4.0, "b": -1.0, "c": 1.0})
            write_leg(d, "new", 1, {"a": 1.0, "b": 1.0, "c": 2.0})
            write_leg(d, "new", 2, {"a": 3.0, "b": 1.0, "c": 2.0})
            res = paired_fold.fold(d)
        self.assertEqual(res["per_query_ratio"], {"a": 0.5, "c": 2.0})
        self.assertEqual(res["median_minofboth_ratio"], 1.25)
        self.assertNotIn("per_stream_ratio", res)

    def test_nothing_timed_on_both_sides_exits(self):
        with tempfile.TemporaryDirectory() as d:
            write_leg(d, "old", 1, {"a": 1.0})
            write_leg(d, "new", 1, {"b": 1.0})
            with self.assertRaises(SystemExit):
                paired_fold.fold(d)


if __name__ == "__main__":
    unittest.main()
