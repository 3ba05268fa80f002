"""Metric helpers: percentiles, per-layer sums and span coverage."""
import statistics

# End-to-end metrics with their units, in report order (BENCHMARK.json).
END_TO_END = {
    "setup_s": "s", "wall_s": "s", "latency_p50_s": "s", "latency_tail_s": "s",
    "records_per_s": "records/s", "peak_rss_mb": "MB",
}
# Per-layer metrics with their units, from the traced run.
PER_LAYER = {
    "ops.build_s": "s", "ops.build_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimize_s": "s", "catalyst.physical_s": "s",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.delay_s": "s",
    "tasks.run_s": "s", "tasks.cpu_s": "s", "tasks.gc_s": "s", "tasks.cpu_util": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mb": "MB",
    "tables.input_mb": "MB", "tables.input_rows": "count",
    "checkpoints.pinned_mb": "MB", "checkpoints.release_s": "s",
    "ingest.parse_s": "s", "ingest.files_read": "count", "ingest.bytes_read": "bytes",
    "ingest.normalize_s": "s",
    "ingest.csv_write_s": "s", "ingest.append_s": "s", "ingest.new_ratio": "ratio",
    "ingest.write_amp": "ratio",
    "trace.wall_s": "s", "trace.overhead_s": "s", "trace.missed_ops": "count",
}
TAIL_BEYOND = 10
COVERAGE = 0.95


def tail(values, beyond=TAIL_BEYOND):
    """The highest nearest-rank percentile with at least `beyond` samples
    above it: (value, percentile, sample count), or None if too few."""
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return None
    rank = n - beyond  # 1-based nearest rank; `beyond` samples lie above it
    return xs[rank - 1], 100.0 * rank / n, n


def report(values, units):
    """{name: {"value", "unit"}} for every name in `units`, in its order."""
    missing = [k for k in units if k not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}


def coverage(spans):
    """For each op span, the share of its duration that the union of its
    child spans (build, plan, execute, release; or the ingest stages)
    covers: {op name: [share per traced run of it]}."""
    ops = {s["id"]: s for s in spans if s["name"].startswith("op:")}
    kids = {}
    for s in spans:
        if s["op"] in ops and s["id"] != s["op"]:
            kids.setdefault(s["op"], []).append((s["start_us"], s["end_us"]))
    out = {}
    for oid, op in ops.items():
        lo, hi = op["start_us"], op["end_us"]
        covered, cur = 0, lo
        for a, b in sorted(kids.get(oid, [])):
            a, b = max(a, cur), min(b, hi)
            if b > a:
                covered += b - a
                cur = b
        out.setdefault(op["name"][3:], []).append(covered / max(1, hi - lo))
    return out


def layers(res, spans, cores, new_report_bytes):
    """Per-layer metrics per traced pass from the JVM's raw results."""
    traced = [p["wall_s"] for p in res["passes"] if p["traced"]]
    untraced = [p["wall_s"] for p in res["passes"] if p["pass"] > 0 and not p["traced"]]
    n = len(traced)
    tags = res.get("tags", {})
    tops = [o for o in res["ops"] if o["traced"]]
    total = lambda key, names=None: sum(
        t[key] for name, t in tags.items() if names is None or name in names)
    span_s = lambda name: sum((s["end_us"] - s["start_us"]) / 1e6
                              for s in spans if s["name"] == name)
    phases = res.get("phases_ms", {})
    not_parse = [t for t in tags if t != "ingest.parse"]
    writes = ["ingest.csv_write", "ingest.append"]
    parsed = sum(o["parsed"] for o in tops)
    wall = statistics.median(traced)
    m = {
        "ops.build_s": span_s("build"), "ops.build_jobs": total("jobs", ["build"]),
        "catalyst.analysis_s": phases.get("analysis", 0) / 1e3,
        "catalyst.optimize_s": phases.get("optimization", 0) / 1e3,
        "catalyst.physical_s": phases.get("planning", 0) / 1e3,
        "scheduler.jobs": total("jobs"), "scheduler.stages": total("stages"),
        "scheduler.tasks": total("tasks"), "scheduler.delay_s": total("delay_ms") / 1e3,
        "tasks.run_s": total("run_ms") / 1e3, "tasks.cpu_s": total("cpu_ns") / 1e9,
        "tasks.gc_s": total("gc_ms") / 1e3,
        "shuffle.write_mb": total("shuffle_write") / 1e6,
        "shuffle.read_mb": total("shuffle_read") / 1e6,
        "shuffle.fetch_wait_s": total("fetch_wait_ms") / 1e3,
        "shuffle.spill_mb": total("spill") / 1e6,
        "tables.input_mb": total("input_bytes", not_parse) / 1e6,
        "tables.input_rows": total("input_rows", not_parse),
        "checkpoints.release_s": sum(o["release_s"] for o in tops),
        "ingest.parse_s": span_s("ingest.parse"),
        "ingest.files_read": sum(o["files"] for o in tops),
        "ingest.bytes_read": total("input_bytes", ["ingest.parse"]),
        "ingest.normalize_s": span_s("ingest.normalize"),
        "ingest.csv_write_s": span_s("ingest.csv_write"),
        "ingest.append_s": span_s("ingest.append"),
    }
    m = {k: v / n for k, v in m.items()}  # per traced pass
    m["tasks.cpu_util"] = m["tasks.cpu_s"] / (wall * cores)
    m["checkpoints.pinned_mb"] = max((o["pinned_mb"] for o in tops), default=0.0)
    m["ingest.new_ratio"] = sum(o["new"] for o in tops) / parsed if parsed else 0.0
    m["ingest.write_amp"] = (total("output_bytes", writes) / new_report_bytes
                             if new_report_bytes else 0.0)
    m["trace.wall_s"] = wall
    m["trace.overhead_s"] = wall - statistics.median(untraced)
    cov = coverage(spans)
    m["trace.missed_ops"] = sum(1 for shares in cov.values() if min(shares) < COVERAGE)
    return m, cov
