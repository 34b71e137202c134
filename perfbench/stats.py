"""Turns the JVM's record of one run (ops, spans, counters) into metrics.

Pure functions over plain data, so perfbench/selftest.py can check them on
fixed samples.
"""
import math
import statistics

# Percentile behind op_tail_s, the same for every workload and run, so the
# metric means the same thing whatever the op count (README.md states the
# samples beyond it per workload).
TAIL_PCT = 75

LAYER_CALLS = ("tdf", "ops", "stream")
TDF_WORKLOADS = ("tdf_book_many", "tdf_scan_chain")


def nearest_rank(xs, p):
    """(value, samples beyond it) of the p-th percentile, nearest-rank rule."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100 * len(s)))
    return s[k - 1], len(s) - k


def union_length(intervals):
    total, end = 0.0, -math.inf
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def layer(name):
    return "bench" if name == "op" else name.split(".")[0]


def span_tree(spans, eps=1.0):
    """Parent index of each span: the shortest other span containing it
    (eps ms of slack for the millisecond clocks of Spark's events)."""
    parents = []
    for i, c in enumerate(spans):
        best = None
        for j, p in enumerate(spans):
            if j == i or (p["end"] - p["start"]) < (c["end"] - c["start"]):
                continue
            if (p["end"] - p["start"]) == (c["end"] - c["start"]) and j > i:
                continue  # equal spans: the earlier one is the parent
            if p["start"] - eps <= c["start"] and c["end"] <= p["end"] + eps:
                if best is None or (p["end"] - p["start"]) < (spans[best]["end"] - spans[best]["start"]):
                    best = j
        parents.append(best)
    return parents


def self_times(spans):
    """{layer: seconds} of span time not covered by the span's children."""
    parents = span_tree(spans)
    kids = {}
    for i, p in enumerate(parents):
        if p is not None:
            kids.setdefault(p, []).append(i)
    out = {}
    for i, s in enumerate(spans):
        covered = union_length([(max(spans[k]["start"], s["start"]), min(spans[k]["end"], s["end"]))
                                for k in kids.get(i, [])])
        out[layer(s["name"])] = out.get(layer(s["name"]), 0.0) + (s["end"] - s["start"] - covered) / 1e3
    return out


def coverage(spans):
    """Share of the op span covered by the layer-call spans inside it."""
    op = next(s for s in spans if s["name"] == "op")
    inner = [(max(s["start"], op["start"]), min(s["end"], op["end"]))
             for s in spans if layer(s["name"]) in LAYER_CALLS]
    return union_length(inner) / max(op["end"] - op["start"], 1e-9)


def end_to_end(rec, gen_s):
    walls = [o["wall_s"] for o in rec["ops"]]
    n = len(walls)
    failed = sum(1 for o in rec["ops"] if o["failures"])
    tail, _ = nearest_rank(walls, TAIL_PCT)
    return {
        "setup_s": (gen_s + rec["setup_jvm_s"], "s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "op_tail_s": (tail, "s"),
        "rows_per_s": (rec["rows_per_op"] * n / rec["loop_s"], "rows/s"),
        "cpu_s_per_op": (rec["loop_cpu_s"] / n, "s"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
        "ok_frac": (1.0 - failed / n, "ratio"),
    }


# per-layer metric -> unit; every traced run reports all of them (0 where
# the workload does not reach the layer)
PER_LAYER = {
    "tdf.book_s": "s", "tdf.deref_s": "s", "tdf.actions": "count",
    "tdf.jobs_per_batch": "count", "tdf.stages_per_batch": "count", "tdf.scan_passes": "ratio",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "codegen.compile_s": "s", "codegen.compiles": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.task_gc_s": "s",
    "exec.core_busy_frac": "ratio", "exec.max_task_s": "s",
    "exec.shuffle_write_bytes": "B", "exec.shuffle_read_bytes": "B", "exec.spill_bytes": "B",
    "exec.result_bytes": "B",
    "functions.histo_ns_per_row": "ns", "functions.minhash_ns_per_row": "ns",
    "functions.dotint_ns_per_pair": "ns",
    "ops.lsh.call_s": "s", "ops.lsh.run_s": "s", "ops.containment.call_s": "s",
    "ops.containment.run_s": "s", "ops.ann_write.call_s": "s", "ops.ann_search.call_s": "s",
    "ops.ann_search.run_s": "s", "ops.lsh.verified_per_candidate": "ratio",
    "stream.triggers": "count", "stream.trigger_p50_s": "s", "stream.trigger_max_s": "s",
    "stream.add_batch_s": "s", "stream.latest_offset_s": "s", "stream.get_batch_s": "s",
    "stream.query_planning_s": "s", "stream.wal_commit_s": "s", "stream.commit_offsets_s": "s",
    "stream.outside_trigger_s": "s",
    "io.bytes_written": "B", "io.files_written": "count",
    "blocks.held_end": "count", "blocks.bytes_held_end": "B",
    "jvm.gc_s": "s",
    "self.bench_s": "s", "self.tdf_s": "s", "self.ops_s": "s", "self.stream_s": "s",
    "self.catalyst_s": "s", "self.exec_s": "s",
    "trace.overhead_s": "s", "trace.coverage_min": "ratio",
}

SPAN_SUMS = ["tdf.book", "tdf.deref", "ops.lsh.call", "ops.lsh.run", "ops.containment.call",
             "ops.containment.run", "ops.ann_write.call", "ops.ann_search.call", "ops.ann_search.run"]
COUNTERS = ["tdf.actions", "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
            "codegen.compile_s", "codegen.compiles", "exec.jobs", "exec.stages", "exec.tasks",
            "exec.task_run_s", "exec.task_cpu_s", "exec.task_gc_s", "exec.max_task_s",
            "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
            "exec.result_bytes", "stream.triggers", "stream.add_batch_s", "stream.latest_offset_s",
            "stream.get_batch_s", "stream.query_planning_s", "stream.wal_commit_s",
            "stream.commit_offsets_s", "io.bytes_written", "io.files_written", "blocks.held_end",
            "blocks.bytes_held_end", "jvm.gc_s"]


def op_layers(rec, o, spans):
    """Per-layer values of one traced op."""
    c = o["counters"]
    v = {k: c.get(k, 0.0) for k in COUNTERS}
    for name in SPAN_SUMS:
        v[name + "_s"] = sum(s["end"] - s["start"] for s in spans if s["name"] == name) / 1e3
    tdf = rec["workload"] in TDF_WORKLOADS
    v["tdf.jobs_per_batch"] = c.get("exec.jobs", 0.0) if tdf else 0.0
    v["tdf.stages_per_batch"] = c.get("exec.stages", 0.0) if tdf else 0.0
    v["tdf.scan_passes"] = c.get("exec.records_read", 0.0) / rec["rows_per_op"] if tdf else 0.0
    v["exec.core_busy_frac"] = c.get("exec.task_run_s", 0.0) / (o["wall_s"] * rec["cores"])
    cands = c.get("ops.lsh.candidates", 0.0)
    v["ops.lsh.verified_per_candidate"] = c.get("ops.lsh.verified", 0.0) / cands if cands else 0.0
    trig = o["samples"].get("stream.trigger_s", [])
    v["stream.trigger_p50_s"] = statistics.median(trig) if trig else 0.0
    v["stream.trigger_max_s"] = max(trig) if trig else 0.0
    v["stream.outside_trigger_s"] = (o["wall_s"] - c["stream.trigger_execution_s"]
                                     if trig else 0.0)
    st = self_times(spans)
    for lay in ("bench", "tdf", "ops", "stream", "catalyst", "exec"):
        v[f"self.{lay}_s"] = st.get(lay, 0.0)
    return v


def per_layer(rec):
    traced = [o for o in rec["ops"] if o["traced"]]
    untraced = [o["wall_s"] for o in rec["ops"] if not o["traced"]]
    by_op = {}
    for s in rec["spans"]:
        by_op.setdefault(s["op"], []).append(s)
    rows = [op_layers(rec, o, by_op[o["i"]]) for o in traced]
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    out.update(rec["probes"])
    out["trace.overhead_s"] = (statistics.median(o["wall_s"] for o in traced)
                               - statistics.median(untraced)) if untraced else 0.0
    out["trace.coverage_min"] = min(coverage(by_op[o["i"]]) for o in traced)
    return {k: (out[k], unit) for k, unit in PER_LAYER.items()}
