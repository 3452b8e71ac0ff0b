#!/usr/bin/env python3
"""Fold the legs of tools/paired_bench.sh into one paired JSON.

    tools/paired_fold.py OUT_DIR [--out FILE]

Reads OUT_DIR/{old,new}_leg<i>.json (graft.Bench stdout), takes each
query's minimum over a side's legs (queries that failed in any leg are
dropped), and writes the per-query new/old ratio, its median and the sums
of the minimums to FILE (default OUT_DIR/paired.json).
"""
import argparse
import glob
import json
import os
import re
import statistics


def bench_mins(path):
    """Per-query minimums of one Bench run (its full result line)."""
    with open(path) as f:
        for line in f:
            if line.startswith('{"metric"') and '"mins":' in line:
                return json.loads(line)["mins"]
    raise SystemExit(f"{path}: no Bench result line")


def side_mins(out_dir, side):
    legs = sorted(glob.glob(os.path.join(out_dir, f"{side}_leg*.json")),
                  key=lambda p: int(re.search(r"leg(\d+)", p).group(1)))
    if not legs:
        raise SystemExit(f"{out_dir}: no {side}_leg*.json")
    runs = [bench_mins(p) for p in legs]
    common = set.intersection(*(set(r) for r in runs))
    return {q: min(r[q] for r in runs) for q in common
            if all(r[q] > 0 for r in runs)}, len(legs)


def fold(out_dir):
    old, old_legs = side_mins(out_dir, "old")
    new, new_legs = side_mins(out_dir, "new")
    common = sorted(set(old) & set(new))
    if not common:
        raise SystemExit("no query was timed on both sides")
    ratios = {q: round(new[q] / old[q], 3) for q in common}
    sum_old = sum(old[q] for q in common)
    sum_new = sum(new[q] for q in common)
    return {
        "metric": "paired_bench",
        "design": ("interleaved legs on one box (old, new, old, new, ...); "
                   "per-query min across a side's legs, then new/old"),
        "legs": {"old": old_legs, "new": new_legs},
        "common_queries": len(common),
        "median_minofboth_ratio": round(statistics.median(ratios.values()), 3),
        "sum_of_mins_old_sec": round(sum_old, 1),
        "sum_of_mins_new_sec": round(sum_new, 1),
        "sum_ratio": round(sum_new / sum_old, 3),
        "per_query_ratio": ratios,
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--out")
    a = ap.parse_args()
    res = fold(a.out_dir)
    dest = a.out or os.path.join(a.out_dir, "paired.json")
    with open(dest, "w") as f:
        json.dump(res, f, indent=1)
    r = res["per_query_ratio"]
    print("median", res["median_minofboth_ratio"], "sum_ratio",
          res["sum_ratio"], "n", res["common_queries"], "->", dest)
    print("worst:", sorted(r.items(), key=lambda kv: -kv[1])[:5])
    print("best:", sorted(r.items(), key=lambda kv: kv[1])[:5])


if __name__ == "__main__":
    main()
