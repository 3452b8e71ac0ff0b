#!/usr/bin/env python3
"""Fold the legs of tools/paired_bench.sh into one paired JSON.

    tools/paired_fold.py OUT_DIR [--out FILE]

Reads OUT_DIR/{old,new}_leg<i>.json (graft.Bench stdout), takes each
query's minimum over a side's legs (queries that failed in any leg are
dropped), and writes the per-query new/old ratio, its median and the sums
of the minimums to FILE (default OUT_DIR/paired.json). The stream drills'
records (`stream_throughput`, `stream_throughput_sized`; one per input
size, `sec` already the minimum over its reps) are folded the same way,
per drill and size, into `per_stream_ratio`; a stream-only drill
(SPARK_GRAFT_BENCH_ONLY=stream_throughput) times no query and folds only
these.
"""
import argparse
import glob
import json
import os
import re
import statistics


STREAM_DRILLS = ("stream_throughput", "stream_throughput_sized")


def bench_result(path):
    """The full result line of one Bench run."""
    with open(path) as f:
        for line in f:
            if line.startswith('{"metric"') and '"mins":' in line:
                return json.loads(line)
    raise SystemExit(f"{path}: no Bench result line")


def timings(result):
    """Per-query minimums and per-stream-record seconds of one Bench run;
    a failed query (-1) is dropped."""
    queries = {q: t for q, t in result["mins"].items() if t > 0}
    streams = {f"{d}/rows={r['rows']}": r["sec"]
               for d in STREAM_DRILLS for r in result.get(d) or []}
    return queries, streams


def side_mins(out_dir, side):
    legs = sorted(glob.glob(os.path.join(out_dir, f"{side}_leg*.json")),
                  key=lambda p: int(re.search(r"leg(\d+)", p).group(1)))
    if not legs:
        raise SystemExit(f"{out_dir}: no {side}_leg*.json")
    runs = [timings(bench_result(p)) for p in legs]

    def fold_legs(per_leg):
        common = set.intersection(*(set(r) for r in per_leg))
        return {k: min(r[k] for r in per_leg) for k in common}
    return (fold_legs([q for q, _ in runs]), fold_legs([s for _, s in runs]),
            len(legs))


def ratios(old, new):
    return {k: round(new[k] / old[k], 3) for k in sorted(set(old) & set(new))}


def fold(out_dir):
    old, old_streams, old_legs = side_mins(out_dir, "old")
    new, new_streams, new_legs = side_mins(out_dir, "new")
    per_query = ratios(old, new)
    per_stream = ratios(old_streams, new_streams)
    if not per_query and not per_stream:
        raise SystemExit("no query or stream drill was timed on both sides")
    res = {
        "metric": "paired_bench",
        "design": ("interleaved legs on one box (old, new, old, new, ...); "
                   "per-query min across a side's legs, then new/old"),
        "legs": {"old": old_legs, "new": new_legs},
        "common_queries": len(per_query),
    }
    if per_query:
        sum_old = sum(old[q] for q in per_query)
        sum_new = sum(new[q] for q in per_query)
        res.update({
            "median_minofboth_ratio": round(statistics.median(per_query.values()), 3),
            "sum_of_mins_old_sec": round(sum_old, 1),
            "sum_of_mins_new_sec": round(sum_new, 1),
            "sum_ratio": round(sum_new / sum_old, 3),
            "per_query_ratio": per_query,
        })
    if per_stream:
        res.update({
            "stream_sec_min": {k: {"old": old_streams[k], "new": new_streams[k]}
                               for k in per_stream},
            "per_stream_ratio": per_stream,
        })
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--out")
    a = ap.parse_args()
    res = fold(a.out_dir)
    dest = a.out or os.path.join(a.out_dir, "paired.json")
    with open(dest, "w") as f:
        json.dump(res, f, indent=1)
    if "per_query_ratio" in res:
        r = res["per_query_ratio"]
        print("median", res["median_minofboth_ratio"], "sum_ratio",
              res["sum_ratio"], "n", res["common_queries"], "->", dest)
        print("worst:", sorted(r.items(), key=lambda kv: -kv[1])[:5])
        print("best:", sorted(r.items(), key=lambda kv: kv[1])[:5])
    for k, v in res.get("per_stream_ratio", {}).items():
        print(f"{k}: new/old {v}", "->", dest)


if __name__ == "__main__":
    main()
