"""Statistics the benchmark reports: percentiles, self time from spans,
failure accounting, and the per-layer roll-up of traced ops."""
import math
import statistics

LADDER = (99, 95, 90, 75, 50)


def nearest_rank(sorted_vals, p):
    """The p-th percentile by nearest rank (a value that was measured)."""
    n = len(sorted_vals)
    return sorted_vals[max(0, math.ceil(p / 100 * n) - 1)]


def beyond(n, p):
    """How many of n samples lie above the p-th percentile's rank."""
    return n - max(1, math.ceil(p / 100 * n))


def tail_percentile(values, min_beyond=10):
    """(p, value, samples beyond) for the highest percentile of LADDER
    with at least ``min_beyond`` samples beyond it, or None when even the
    median has fewer."""
    vals = sorted(values)
    for p in LADDER:
        if beyond(len(vals), p) >= min_beyond:
            return p, nearest_rank(vals, p), beyond(len(vals), p)
    return None


def summarize(values):
    """Median, p75, p90 and the ten-beyond tail of a latency sample."""
    vals = sorted(values)
    tail = tail_percentile(vals)
    return {
        "n": len(vals),
        "p50": statistics.median(vals),
        "p75": nearest_rank(vals, 75),
        "p75_beyond": beyond(len(vals), 75),
        "p90": nearest_rank(vals, 90),
        "p90_beyond": beyond(len(vals), 90),
        "tail_p": tail[0] if tail else None,
        "tail": tail[1] if tail else None,
    }


def union_length(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_s is None or s > cur_e:
            if cur_s is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_s is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time per span id: its duration minus the part of its interval
    covered by its children (children may overlap each other, and are
    clipped to the parent)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])]
        kids = [(a, b) for a, b in kids if b > a]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(kids)
    return out


def layer_self_ms(spans):
    """Self time summed by layer (the span name's first component)."""
    st = self_times(spans)
    out = {}
    for s in spans:
        layer = s["name"].split(".")[0]
        out[layer] = out.get(layer, 0.0) + st[s["id"]]
    return out


def fail_count(ops, wrong):
    """Failed operations: those that raised, plus those whose output
    check found a wrong result (``wrong`` holds their indices)."""
    return sum(1 for i, o in enumerate(ops) if o.get("error") or i in wrong)


PER_OP = [
    "plan.executions", "plan.analysis_ms", "plan.optimization_ms",
    "plan.planning_ms", "codegen.compiles", "codegen.compile_ms",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.driver_gap_ms",
    "sched.task_delay_ms", "sched.job_ms", "exec.task_run_ms",
    "exec.task_gc_ms", "shuffle.fetch_wait_ms", "sources.input_rows",
    "streaming.drains", "streaming.drain_ms", "streaming.exec_ms",
    "jvm.gc_ms", "serving.response_kb",
]
MB = 1048576.0


def layer_metrics(ops, n_primary, spans):
    """Per-layer figures from traced ops, normalized per primary op
    (request, crawl batch, or curation query)."""
    n = max(n_primary, 1)

    def total(key, scale=1.0):
        return sum(o["trace"].get(key, 0.0) for o in ops) * scale

    def span_ms(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    m = {k: total(k) / n for k in PER_OP}
    m["exec.task_cpu_ms"] = total("exec.task_cpu_ns", 1e-6) / n
    m["shuffle.write_mb"] = total("shuffle.write_b", 1 / MB) / n
    m["shuffle.read_mb"] = total("shuffle.read_b", 1 / MB) / n
    m["shuffle.spill_mb"] = total("shuffle.spill_b", 1 / MB) / n
    m["sources.input_mb"] = total("sources.input_b", 1 / MB) / n
    m["streaming.lifecycle_ms"] = m["streaming.drain_ms"] - m["streaming.exec_ms"]
    m["ingest.refresh_ms"] = total("write.rollup_ns", 1e-6) / n
    m["serving.requests"] = total("serving.requests")
    m["serving.self_ms"] = sum(
        o["trace"]["op.wall_ms"] - o["trace"].get("plan.exec_ns", 0.0) * 1e-6
        for o in ops if o["trace"].get("serving.requests")) / n
    m["sched.unattributed_ms"] = sum(max(0.0, o["trace"].get("sched.driver_gap_ms", 0.0) - sum(
        o["trace"].get(k, 0.0) for k in (
            "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
            "codegen.compile_ms", "functions.macro_expand_ms"))) for o in ops) / n
    m["cache.leaked_mb"] = max((o["trace"].get("cache.leaked_mb", 0.0) for o in ops), default=0.0)
    raw_write = [s for s in spans if s["name"] in ("streaming.drain", "ingest.append_evolve")]
    m["ingest.append_ms"] = sum(s.get("delta", {}).get("write.raw_ns", 0.0) for s in raw_write) * 1e-6 / n
    m["ingest.replace_window_ms"] = span_ms("ingest.replace_window") / n
    m["ingest.files_written"] = sum(o.get("check", {}).get("files_written", 0) for o in ops) / n
    m["queries.build_ms"] = span_ms("queries.build") / n
    m["queries.sink_ms"] = span_ms("queries.sink") / n
    # the dashboard times the server's expansion outside the request
    m["functions.macro_expand_ms"] = (total("functions.macro_expand_ms")
                                      + span_ms("functions.macro_expand")) / n
    m["trace.spans"] = float(len(spans))
    return m
