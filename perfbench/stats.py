"""Turns a run record (written by the JVM program) into the printed metrics."""
import math
import statistics

# Percentiles tried for the latency tail, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(samples):
    """Highest percentile of `samples` that still has at least ten samples
    beyond it (nearest rank). Returns (percentile, value, n), or None when
    there are fewer than twenty samples."""
    xs = sorted(samples)
    n = len(xs)
    for p in TAIL_LADDER:
        k = math.ceil(p * n / 100.0)
        if k >= 1 and n - k >= 10:
            return p, xs[k - 1], n
    return None


def self_times(spans):
    """Sum, per span name, of each span's duration minus the part of its
    interval that its children cover (children clipped to the parent,
    overlaps between children counted once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, reach = 0.0, lo
        for a, b in sorted((max(c["start"], lo), min(c["end"], hi))
                           for c in children.get(s["id"], ())):
            if b <= reach:
                continue
            covered += b - max(a, reach)
            reach = b
        out[s["name"]] = out.get(s["name"], 0.0) + max(0.0, (hi - lo) - covered)
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def timed_ops(record, failed):
    """Ops of the timed passes that neither threw nor failed a check."""
    return [o for o in record["ops"] if o["pass"] >= 0 and o["op"] not in failed]


def failed_ops(record, failed):
    """Ops that threw or failed a check; `failed` also holds run-level
    entries (a wrong reference output, the plan-check control)."""
    return sum(o["op"] in failed for o in record["ops"])


def clean_passes(record, failed, traced):
    """Wall times of timed passes with no failed op, traced or not."""
    bad = {o["pass"] for o in record["ops"] if o["op"] in failed}
    return [p["wall_s"] for p in record["passes"] if p["traced"] == traced and p["pass"] not in bad]


def end_to_end(record, failed, n_docs):
    walls = clean_passes(record, failed, traced=False)
    wall = _median(walls)
    lat = [o["latency_s"] for o in timed_ops(record, failed) if not o["traced"]]
    return {
        "setup_s": (record["setup_s"], "s"),
        "wall_s": (wall, "s"),
        "docs_per_s": (n_docs / wall if wall > 0 else 0.0, "docs/s"),
        "op_p50_s": (_median(lat), "s"),
    }


# Per-op fields summed over a pass, by printed metric name and unit.
SUMMED = {
    "api.parse_s": ("parse_s", "s"), "api.build_s": ("build_s", "s"),
    "api.build_jobs": ("build_jobs", "count"),
    "plan.analysis_s": ("plan_analysis_s", "s"), "plan.optimization_s": ("plan_optimization_s", "s"),
    "plan.planning_s": ("plan_planning_s", "s"), "plan.s": ("plan_s", "s"),
    "exec.s": ("exec_s", "s"), "exec.jobs": ("exec_jobs", "count"),
    "exec.stages": ("exec_stages", "count"), "exec.tasks": ("exec_tasks", "count"),
    "exec.task_busy_s": ("exec_task_busy_s", "s"), "exec.task_cpu_s": ("exec_task_cpu_s", "s"),
    "exec.gc_s": ("exec_gc_s", "s"), "exec.failed_tasks": ("exec_failed_tasks", "count"),
    "exec.spill_bytes": ("exec_spill_bytes", "bytes"),
    "scan.bytes": ("scan_bytes", "bytes"), "scan.rows": ("scan_rows", "count"),
    "scan.partitions": ("scan_partitions", "count"),
    "shuffle.write_bytes": ("shuffle_write_bytes", "bytes"),
    "shuffle.read_bytes": ("shuffle_read_bytes", "bytes"),
    "shuffle.fetch_wait_s": ("shuffle_fetch_wait_s", "s"),
    "llm.round_trips": ("llm_round_trips", "count"), "llm.items": ("llm_items", "count"),
    "llm.provider_wait_s": ("llm_wait_s", "s"),
    "llm.tokens_in": ("llm_tokens_in", "count"), "llm.tokens_out": ("llm_tokens_out", "count"),
    "llm.cost_usd": ("llm_cost_usd", "usd"),
    "cache.hits": ("cache_hits", "count"),
    "jvm.gc_s": ("jvm_gc_s", "s"), "jvm.jit_s": ("jvm_jit_s", "s"),
    "codegen.compile_s": ("codegen_compile_s", "s"), "codegen.classes": ("codegen_classes", "count"),
}

# Self time per span name, by printed metric name.
SELF = {"self.pass_s": "pass", "self.op_s": "op", "self.api.parse_s": "api.parse",
        "self.api.build_s": "api.build", "self.plan_s": "plan", "self.exec_s": "exec",
        "self.job_s": "job", "self.stage_s": "stage", "self.llm_s": "llm"}


def per_layer(record, failed, cores):
    """Per-layer metrics: each pass's totals over its ops, median over the
    traced passes; ratios are taken on those totals."""
    ops = [o for o in timed_ops(record, failed) if o["traced"]]
    by_pass = {}
    for o in ops:
        by_pass.setdefault(o["pass"], []).append(o)
    per_pass = []
    for p_ops in by_pass.values():
        t = {name: sum(o.get(field, 0) for o in p_ops) for name, (field, _) in SUMMED.items()}
        slowest = max(p_ops, key=lambda o: o.get("exec_slowest_stage_s", 0))
        t["exec.skew"] = slowest.get("exec_skew", 0.0)
        t["llm.max_inflight"] = max(o.get("llm_max_inflight", 0) for o in p_ops)
        t["cache.entries"] = p_ops[-1].get("cache_entries", 0)
        t["exec.slot_util"] = t["exec.task_busy_s"] / (t["exec.s"] * cores) if t["exec.s"] else 0.0
        t["llm.items_per_call"] = t["llm.items"] / t["llm.round_trips"] if t["llm.round_trips"] else 0.0
        t["llm.wait_overlap"] = t["llm.provider_wait_s"] / t["exec.s"] if t["exec.s"] else 0.0
        sent = t["cache.hits"] + t["llm.items"]
        t["cache.hit_ratio"] = t["cache.hits"] / sent if sent else 0.0
        per_pass.append(t)
    units = {name: unit for name, (_, unit) in SUMMED.items()}
    units.update({"exec.skew": "ratio", "llm.max_inflight": "count", "cache.entries": "count",
                  "exec.slot_util": "ratio", "llm.items_per_call": "count",
                  "llm.wait_overlap": "ratio", "cache.hit_ratio": "ratio"})
    out = {name: (_median([t[name] for t in per_pass]), unit) for name, unit in units.items()}

    n_traced = max(1, len(by_pass))
    selfs = self_times(record["spans"])
    for name, span_name in SELF.items():
        out[name] = (selfs.get(span_name, 0.0) / 1000.0 / n_traced, "s")
    out["trace.spans"] = (len(record["spans"]) / n_traced, "count")
    out["jvm.heap_live_peak_mb"] = (record["heap_live_peak_mb"], "MiB")
    traced = clean_passes(record, failed, traced=True)
    untraced = clean_passes(record, failed, traced=False)
    out["trace.overhead_s"] = (_median(traced) - _median(untraced), "s")
    return out
