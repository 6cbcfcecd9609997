"""Statistics, span arithmetic and metric assembly for the benchmark.

``end_to_end`` and ``per_layer`` turn one run's ``result.json`` (written by
the JVM harness) into the metrics ``BENCHMARK.json`` declares.
"""
import math
import re

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
MIN_BEYOND = 10


def valid_name(name):
    """Metric and workload names: a letter or digit, then at most 63 more
    letters, digits, ``_``, ``.`` or ``-``."""
    return bool(NAME_RE.fullmatch(name))


def median(xs):
    """True median: the middle value, or the mean of the two middle values
    for an even count."""
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def timed_ops(seconds, rate, unit):
    """Ops one run times: ``seconds * rate`` rounded up to whole units
    (passes or maintenance cycles of ``unit`` ops), at least one unit."""
    return unit * max(1, math.ceil(seconds * rate / unit))


def beyond(n, p):
    """Samples above the nearest-rank ``p``-th percentile of ``n``: a
    percentile is published only with at least ``MIN_BEYOND`` of them."""
    return n - math.ceil(p / 100.0 * n)


def covered(start, end, children):
    """Length of [start, end) covered by the union of the child intervals
    (overlapping children count once, parts outside are clipped)."""
    spans = sorted((max(s, start), min(e, end)) for s, e in children
                   if e > start and s < end)
    total, cur_s, cur_e = 0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span[1] - span[0]) - covered(span[0], span[1], children)


def _m(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(res):
    """The end-to-end metrics of one untraced run."""
    n = len(res["samples"])
    return {
        "setup_s": _m(median(res["setup_s"]), "s"),
        "ops_per_s": _m(n / res["timed_wall_s"], "1/s"),
        "cpu_s_per_op": _m(res["timed_cpu_s"] / n, "s"),
        "peak_rss_mb": _m(res["peak_rss_kb"] / 1024.0, "MB"),
    }


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(res):
    """The per-layer metrics of one traced run: per-op means of the
    recorded fields unless the name says otherwise."""
    recs = res["op_records"]
    spans = res["spans"]
    cpus = res["cpus"]
    ops = {s["op"]: s for s in spans if s["name"] == "op"}
    jobs = {}
    for s in spans:
        if s["name"] == "exec.job":
            jobs.setdefault(s["op"], []).append((s["start_ns"], s["end_ns"]))

    def mean(field):
        return _mean(r.get(field, 0) for r in recs)

    def span_ms(name):
        return _mean((s["end_ns"] - s["start_ns"]) / 1e6
                     for s in spans if s["name"] == name)

    gaps = []
    for op_id, s in ops.items():
        start, end = s["start_ns"], s["latency_end_ns"]
        gaps.append(self_time((start, end), jobs.get(op_id, [])) / 1e6)
    cpu_ms = sum(r.get("cpu_ms", 0) for r in recs)
    scan_rows = sum(r.get("scan_rows", 0) for r in recs)
    lat_ms = sum(r["lat_s"] for r in recs) * 1000.0
    batches = sum(r.get("streaming_batches", 0) for r in recs)
    peak = res.get("table_peak", {})
    user = res.get("table_user_bytes", 0)
    plain = res.get("plain_bytes", 0)
    ok_lat = [r["lat_s"] for r in recs if r["ok"]]

    def per_batch(field):
        return sum(r.get(field, 0) for r in recs) / batches if batches else 0.0

    return {
        "queries.construct_ms": _m(mean("construct_ms"), "ms"),
        "queries.construct_jobs": _m(mean("construct_jobs"), "count"),
        "plans.analyze_ms": _m(mean("analyze_ms"), "ms"),
        "plans.optimize_ms": _m(mean("optimize_ms"), "ms"),
        "plans.physical_ms": _m(mean("physical_ms"), "ms"),
        "exec.action_ms": _m(span_ms("exec.action"), "ms"),
        "exec.jobs": _m(mean("jobs"), "count"),
        "exec.stages": _m(mean("stages"), "count"),
        "exec.tasks": _m(mean("tasks"), "count"),
        "exec.task_wait_ms": _m(mean("task_wait_ms"), "ms"),
        "exec.cpu_util": _m(cpu_ms / (lat_ms * cpus) if lat_ms else 0.0, "ratio"),
        "exec.run_ms": _m(mean("run_ms"), "ms"),
        "exec.cpu_ms": _m(mean("cpu_ms"), "ms"),
        "exec.gc_ms": _m(mean("exec_gc_ms"), "ms"),
        "exec.cpu_ns_per_scan_row": _m(cpu_ms * 1e6 / scan_rows if scan_rows else 0.0,
                                       "ns"),
        "exec.scan_rows": _m(mean("scan_rows"), "count"),
        "exec.scan_bytes": _m(mean("scan_bytes"), "bytes"),
        "exec.shuffle_write_bytes": _m(mean("shuffle_write_bytes"), "bytes"),
        "exec.shuffle_read_bytes": _m(mean("shuffle_read_bytes"), "bytes"),
        "exec.spill_bytes": _m(mean("spill_bytes"), "bytes"),
        "exec.driver_gap_ms": _m(_mean(gaps), "ms"),
        "exec.output_bytes": _m(mean("output_bytes"), "bytes"),
        "exec.output_rows": _m(mean("output_rows"), "count"),
        "table.append_ms": _m(span_ms("table.append"), "ms"),
        "table.delete_ms": _m(span_ms("table.delete"), "ms"),
        "table.merge_ms": _m(span_ms("table.merge"), "ms"),
        "table.compact_ms": _m(span_ms("table.compact"), "ms"),
        "table.expire_ms": _m(span_ms("table.expire"), "ms"),
        "table.load_ms": _m(span_ms("table.load"), "ms"),
        "table.read_plan_ms": _m(span_ms("table.read_plan"), "ms"),
        "table.bytes_written_per_user_byte": _m(
            res.get("table_written_bytes", 0) / user if user else 0.0, "ratio"),
        "table.snapshots": _m(peak.get("table_snapshots", 0), "count"),
        "table.live_files": _m(peak.get("table_live_files", 0), "count"),
        "table.metadata_bytes": _m(peak.get("table_metadata_bytes", 0), "bytes"),
        "table.data_bytes": _m(peak.get("table_data_bytes", 0), "bytes"),
        "table.space_amp": _m(res.get("table_bytes", 0) / plain if plain else 0.0,
                              "ratio"),
        "streaming.batches": _m(mean("streaming_batches"), "count"),
        "streaming.batch_ms": _m(per_batch("streaming_batch_ms"), "ms"),
        "streaming.add_batch_ms": _m(per_batch("streaming_add_batch_ms"), "ms"),
        "streaming.log_commit_ms": _m(per_batch("streaming_log_commit_ms"), "ms"),
        "jvm.gc_ms": _m(mean("jvm_gc_ms"), "ms"),
        "jvm.heap_after_op_mb": _m(mean("jvm_heap_after_op_mb"), "MB"),
        "jvm.jit_ms": _m(mean("jvm_jit_ms"), "ms"),
        "jvm.alloc_mb": _m(mean("jvm_alloc_mb"), "MB"),
        "traced.ops_per_s": _m(len(recs) / res["timed_wall_s"], "1/s"),
        "traced.op_p50_s": _m(median(ok_lat) if beyond(len(ok_lat), 50) >= MIN_BEYOND
                              else 0.0, "s"),
    }


def self_times(res):
    """Total self time in ms per span name over the run (children are the
    spans of the same op whose parent names it)."""
    by_op = {}
    for s in res.get("spans", []):
        by_op.setdefault(s["op"], []).append(s)
    totals = {}
    for group in by_op.values():
        for s in group:
            kids = [(c["start_ns"], c["end_ns"]) for c in group
                    if c["parent"] == s["name"] and c is not s]
            t = self_time((s["start_ns"], s["end_ns"]), kids) / 1e6
            totals[s["name"]] = totals.get(s["name"], 0.0) + t
    return totals
