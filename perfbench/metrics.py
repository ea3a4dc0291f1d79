"""Pure arithmetic of the benchmark: percentiles, span self time, error
counting and the assembly of the reported metrics from raw pass records."""
import statistics

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "latency_p50_s": "s", "latency_tail_s": "s",
    "cpu_s": "CPU-s", "heap_live_mb": "MB",
}

# Per-layer metrics, each reported as the median over the traced passes of
# its per-pass value (0 where a layer does not apply to the workload).
PER_LAYER = {
    "session.init_s": "s", "warmup.s": "s", "jvm.jit_s": "s", "jvm.gc_s": "s",
    "build.s": "s", "build.jobs": "count",
    "plan.analysis_s": "s", "plan.optimizer_s": "s", "plan.physical_s": "s",
    "plan.nodes": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_cpu_s": "CPU-s", "exec.task_run_s": "s", "exec.core_util": "ratio",
    "exec.task_skew": "ratio", "exec.gc_s": "s", "exec.spill_mb": "MB",
    "exec.peak_mem_mb": "MB", "driver.cpu_s": "CPU-s",
    "scan.rows": "count", "scan.mb": "MB", "scan.files": "count", "scan.s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.records": "count",
    "shuffle.fetch_wait_s": "s", "shuffle.write_s": "s",
    "op.generate.rows": "count", "op.aggregate.rows": "count", "op.aggregate.s": "s",
    "op.wscg.s": "s", "op.join.rows": "count", "op.sort.s": "s",
    "dedup.pair_yield": "ratio",
    "stream.batches": "count", "stream.data_s": "s", "stream.proto_s": "s",
    "sources.insert_s": "s", "sources.merge_s": "s", "sources.delete_s": "s",
    "sources.compact_s": "s", "sources.stream_s": "s", "sources.read_s": "s",
    "sources.commits": "count", "sources.files_written": "count", "sources.write_mb": "MB",
    "sources.write_amp": "ratio", "sources.space_amp": "ratio",
    "actuarial.simulate_s": "s", "actuarial.gather_s": "s", "actuarial.trials_per_s": "1/s",
    "mod.actuarial.Actuarial.s": "s", "mod.ops.Dedup.s": "s", "mod.ops.Curation.s": "s",
    "mod.sources.s": "s",
    "error_rate": "ratio", "host.steal_pct": "%", "trace.overhead_pct": "%",
}

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 60.0, 50.0)


def beyond(n, p):
    """How many of n samples lie beyond percentile p."""
    return round(n * (100.0 - p) / 100.0, 9)


def tail_percentile(n):
    """The highest percentile of the ladder with at least ten of n samples
    beyond it, or None when n is too small for any."""
    for p in TAIL_LADDER:
        if beyond(n, p) >= 10:
            return p
    return None


def percentile(values, p):
    """Linear-interpolated percentile of values (p in 0..100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def self_times(spans):
    """Self time (ms) of every span: its duration minus the part of its
    interval that its children cover. Children may overlap each other and
    are clipped to the parent's interval."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["startMs"], s["endMs"]
        ivs = sorted((max(c["startMs"], lo), min(c["endMs"], hi))
                     for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = max(hi - lo, 0.0) - covered
    return out


def count_errors(ops, wrong):
    """(attempted, failed) over op records: an op fails when it threw, or
    when `wrong(op)` says its result was not correct."""
    attempted = len(ops)
    failed = sum(1 for op in ops if op.get("error") or wrong(op))
    return attempted, failed


def end_to_end(raw, gen_s, tail_p):
    """End-to-end metrics from the untraced timed passes of one run."""
    passes = [p for p in raw["passes"] if not p["traced"]]
    lat = [op["wall_s"] for p in passes for op in p["ops"]]
    return {
        "setup_s": gen_s + (raw["first_pass_ms"] - raw["jvm_start_ms"]) / 1e3,
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": percentile(lat, tail_p),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "heap_live_mb": raw["heap_live_mb"],
    }


def per_layer(raw, error_rate, steal_pct):
    """Per-layer metrics: medians over the traced passes."""
    traced = [p for p in raw["passes"] if p["traced"]]
    plain = [p for p in raw["passes"] if not p["traced"]]
    out = {k: 0.0 for k in PER_LAYER}
    keys = {k for p in traced for k in p["layers"]}
    for k in keys:
        if k in out:
            out[k] = statistics.median(p["layers"].get(k, 0.0) for p in traced)
    q41 = [c["rows"] for c in raw["checks"] if c["name"] == "q41_ngram_jaccard"]
    joins = [p["layers"]["q41.join_rows"] for p in traced if p["layers"].get("q41.join_rows")]
    if q41 and joins:
        out["dedup.pair_yield"] = q41[0] / statistics.median(joins)
    out["session.init_s"] = (raw["session_ready_ms"] - raw["jvm_start_ms"]) / 1e3
    out["warmup.s"] = sum(p["wall_s"] for p in raw["warmup"])
    out["error_rate"] = error_rate
    out["host.steal_pct"] = steal_pct
    if traced and plain:
        t = statistics.median(p["wall_s"] for p in traced)
        u = statistics.median(p["wall_s"] for p in plain)
        out["trace.overhead_pct"] = (t / u - 1.0) * 100.0
    return out
