"""Arithmetic over the samples one benchmark run records (raw.json).

Timings are aggregated so that one slow op cannot move a metric: every op
kind contributes the median of its samples, and kinds are combined by a
geometric mean, so each kind weighs the same whatever its size.
"""
import math
import statistics

DELTA_COMMIT_KINDS = ["create", "append", "append_checkpoint", "upsert", "delete",
                      "optimize"]
OPERATOR_KINDS = ["q_kmeans"]

E2E_UNITS = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "read_s.p50_gmean": "s",
    "write_s.p50_gmean": "s",
    "retained_heap_mb": "MB",
    "write_amp": "ratio",
    "space_amp": "ratio",
}

LAYER_UNITS = {
    "frame.build_ms": "ms",
    "frame.sql_chars": "chars",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "catalyst.plan_nodes": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_ms": "ms",
    "exec.max_task_ms": "ms",
    "exec.busy_ratio": "ratio",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.exchanges": "count",
    "exec.scans": "count",
    "exec.cached_scans": "count",
    "exec.driver_gap_ms": "ms",
    "sources.load_ms": "ms",
    "sources.load_rows_per_s": "rows/s",
    "sources.write_ms": "ms",
    "sources.bytes_written": "bytes",
    **{"delta.commit_ms." + k: "ms" for k in DELTA_COMMIT_KINDS},
    "delta.checkpoint_ms": "ms",
    "delta.files_written": "count",
    "delta.bytes_written": "bytes",
    "delta.log_bytes": "bytes",
    "delta.snapshot_ms": "ms",
    "delta.log_files": "count",
    "delta.files_scanned_per_read": "count",
    "delta.skip_ratio": "ratio",
    "delta.live_files": "count",
    "delta.live_bytes": "bytes",
    **{"operators.%s.ms" % k: "ms" for k in OPERATOR_KINDS},
    "operators.jobs_per_call": "count",
    "operators.task_ms_per_call": "ms",
    "operators.out_rows": "rows",
    "jvm.gc_ms": "ms",
    "jvm.jit_ms": "ms",
    "jvm.cpu_s": "s",
    "jvm.codegen_compiles": "count",
    "host.steal_ms": "ms",
    "host.loadavg_start": "load",
    "trace.overhead_pct": "%",
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def gmean(xs):
    xs = [x for x in xs if x > 0]
    if not xs:
        return 0.0
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def gmean_of_kind_medians(samples):
    """samples: {kind: [latency, ...]} -> geometric mean of per-kind medians."""
    return gmean([median(v) for v in samples.values() if v])


def union_ms(intervals, lo=None, hi=None):
    """Total length covered by [start, end] intervals, optionally clipped
    to [lo, hi]. Overlapping intervals count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap_ms(wall_ms, jobs, start_ms, end_ms):
    """Op wall time not covered by any of its jobs: driver-side work
    (planning, collecting, scheduling) between and around the jobs."""
    return max(0.0, wall_ms - union_ms(jobs, start_ms, end_ms))


def write_amp(written_bytes, user_bytes):
    """Bytes written to storage per byte of user data (the same rows as
    one plain parquet file)."""
    return written_bytes / user_bytes


def space_amp(disk_bytes, live_bytes):
    """Bytes on disk per byte of live data."""
    return disk_bytes / live_bytes


def setup_s(setup):
    """Input generation (repeated; its median counts) plus JVM launch to
    the first timed op: session start, check pass and warm-up."""
    return median(setup["gen_s"]) + (setup["first_timed_ms"] - setup["jvm_launch_ms"]) / 1000.0


def _timed(raw, traced):
    ops = [o for o in raw["ops"] if o["traced"] == traced]
    passes = [p for p in raw["passes"] if p["traced"] == traced]
    return ops, passes


def _by_kind(ops, op_type):
    out = {}
    for o in ops:
        if o["type"] == op_type:
            out.setdefault(o["kind"], []).append(o["wall_ms"] / 1000.0)
    return out


def end_to_end(raw, traced=False):
    ops, passes = _timed(raw, traced)
    return {
        "setup_s": setup_s(raw["setup"]),
        "rows_per_s": raw["pass_rows"] / median([p["wall_s"] for p in passes]),
        # metadata probes (a Delta snapshot listing, ~10 ms) are not reads
        # of data; their latency is below timer and JIT noise, and they are
        # reported per layer (delta.snapshot_ms)
        "read_s.p50_gmean": gmean_of_kind_medians(_by_kind(ops, "read")),
        "write_s.p50_gmean": gmean_of_kind_medians(_by_kind(ops, "write")),
        "retained_heap_mb": raw["retained_heap_mb"],
        # nothing is deleted within a pass: bytes written = bytes on disk
        "write_amp": median([write_amp(p["bytes"], raw["user_bytes"]) for p in passes]),
        "space_amp": median([space_amp(p["bytes"], p["live_bytes"]) for p in passes]),
    }


def per_layer(raw):
    ops, passes = _timed(raw, traced=True)
    cpus = raw["cpus"]
    by_pass = {}
    for o in ops:
        by_pass.setdefault(o["pass"], []).append(o)

    def per_pass(fn):
        """Median over traced passes of a per-pass total."""
        return median([fn(by_pass[p["name"]], p) for p in passes])

    def total(field, layer=None):
        return per_pass(lambda os, _: sum(o[field] for o in os
                                          if layer is None or o["layer"] == layer))

    def kind_median(kind):
        return median([o["wall_ms"] for o in ops if o["kind"] == kind])

    def jobs_in_build(o):
        return union_ms(o["jobs"], o["start_ms"], o["start_ms"] + o["build_ms"])

    m = {}
    m["frame.build_ms"] = per_pass(lambda os, _: sum(
        max(0.0, o["build_ms"] - o["build_analysis_ms"] - jobs_in_build(o))
        for o in os if o["layer"] == "frame"))
    m["frame.sql_chars"] = total("sql_chars", "frame")
    m["catalyst.analysis_ms"] = total("analysis_ms")
    m["catalyst.optimization_ms"] = total("optimization_ms")
    m["catalyst.planning_ms"] = total("planning_ms")
    m["catalyst.plan_nodes"] = total("plan_nodes")
    m["exec.jobs"] = per_pass(lambda os, _: sum(len(o["jobs"]) for o in os))
    for f in ["stages", "tasks", "task_ms", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "exchanges", "scans", "cached_scans"]:
        m["exec." + f] = total(f)
    m["exec.max_task_ms"] = per_pass(lambda os, _: max(o["max_task_ms"] for o in os))
    m["exec.busy_ratio"] = per_pass(
        lambda os, p: sum(o["task_ms"] for o in os) / (p["wall_s"] * 1000.0 * cpus))
    m["exec.driver_gap_ms"] = per_pass(lambda os, _: sum(
        driver_gap_ms(o["wall_ms"], o["jobs"], o["start_ms"], o["end_ms"]) for o in os))

    csv = [o for o in ops if o["kind"] == "load_csv"]
    m["sources.load_ms"] = kind_median("load_csv")
    m["sources.load_rows_per_s"] = (
        median([o["out_rows"] / (o["wall_ms"] / 1000.0) for o in csv]) if csv else 0.0)
    m["sources.write_ms"] = kind_median("publish")
    has_publish = any(o["kind"] == "publish" for o in ops)
    m["sources.bytes_written"] = (
        median([p["bytes"] for p in passes]) if has_publish else 0)

    delta = [o for o in ops if o["layer"] == "delta"]
    for k in DELTA_COMMIT_KINDS:
        m["delta.commit_ms." + k] = kind_median(k)
    m["delta.checkpoint_ms"] = (m["delta.commit_ms.append_checkpoint"]
                                - m["delta.commit_ms.append"])
    for f, key in [("files_written", "files_written"), ("bytes_written", "bytes"),
                   ("log_bytes", "log_bytes"), ("log_files", "log_files"),
                   ("live_files", "live_files"), ("live_bytes", "live_bytes")]:
        m["delta." + f] = median([p[key] for p in passes]) if delta else 0
    m["delta.snapshot_ms"] = kind_median("snapshot")
    reads = [o for o in delta if o["kind"] == "read_latest"]
    scanned = sum(o["files_read"] for o in reads)
    in_snapshot = sum(o["files_total"] for o in reads)
    m["delta.files_scanned_per_read"] = scanned / len(reads) if reads else 0.0
    m["delta.skip_ratio"] = 1.0 - scanned / in_snapshot if in_snapshot else 0.0

    calls = [o for o in ops if o["layer"] == "operators"]
    for k in OPERATOR_KINDS:
        m["operators.%s.ms" % k] = kind_median(k)
    m["operators.jobs_per_call"] = (
        sum(len(o["jobs"]) for o in calls) / len(calls) if calls else 0.0)
    m["operators.task_ms_per_call"] = (
        sum(o["task_ms"] for o in calls) / len(calls) if calls else 0.0)
    m["operators.out_rows"] = total("out_rows", "operators") if calls else 0

    for k, v in raw["jvm"].items():
        m["jvm." + k] = v
    for k, v in raw["host"].items():
        m["host." + k] = v
    untraced = end_to_end(raw, traced=False)["read_s.p50_gmean"]
    traced = end_to_end(raw, traced=True)["read_s.p50_gmean"]
    m["trace.overhead_pct"] = 100.0 * (traced / untraced - 1.0) if untraced else 0.0
    return m
