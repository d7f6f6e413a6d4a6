"""Metric arithmetic of the benchmark: percentiles, interval unions, core
idleness, span self time, and the reduction of one harness record into
the end-to-end and per-layer metrics. Self-tests: perfbench/test_metrics.py.
"""
import statistics


def median(xs):
    return statistics.median(xs)


def tail(samples, beyond=10):
    """The highest percentile that still has at least ``beyond`` samples
    above it: the (n - beyond)-th smallest sample. Returns (value,
    percentile, n), or None when there are not more than ``beyond`` samples."""
    n = len(samples)
    if n <= beyond:
        return None
    rank = n - beyond  # 1-based rank of the reported sample
    return sorted(samples)[rank - 1], 100.0 * rank / n, n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, optionally clipped
    to [lo, hi]; overlapping intervals count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
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


def outside_jobs(window, job_intervals):
    """Driver time in ``window`` not covered by any job interval."""
    lo, hi = window
    return (hi - lo) - union_length(job_intervals, lo, hi)


def core_idle_frac(task_run_ms, cores, job_intervals):
    """1 - (task run time) / (cores x wall during which some job ran)."""
    busy_wall = union_length(job_intervals)
    if busy_wall <= 0:
        return 0.0
    return 1.0 - task_run_ms / (cores * busy_wall)


def self_times(spans):
    """{span id: duration minus the part covered by its child spans}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def innermost(spans, t):
    """Id of the shortest span containing time t (0 when none does)."""
    best, best_len = 0, None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best_len is None or s["end"] - s["start"] < best_len):
            best, best_len = s["id"], s["end"] - s["start"]
    return best


# ---------------------------------------------------------------------------
# reduction of one harness record
# ---------------------------------------------------------------------------

def end_to_end(rec):
    """The end-to-end metrics of an untraced run, and sample counts."""
    walls = [p["wall_ms"] for p in rec["passes"]]
    ops = [ms for p in rec["passes"] for _, ms in p["ops"]]
    out = {
        "setup_s": rec["setup_s"],
        "pass_s": median(walls) / 1000.0,
        "peak_rss_mb": rec["vm_hwm_kb"] / 1024.0,
    }
    # a run holds too few, too unlike operations for a steady median
    # (it falls between kinds of call), so operation latency stays here
    detail = {"passes": len(walls), "ops": len(ops), "op_p50_ms": median(ops)}
    # a tail is reported only where it lies above the median
    t = tail(ops)
    if t and t[1] > 50:
        detail.update(op_tail_ms=t[0], op_tail_percentile=t[1], op_tail_samples=t[2])
    return out, detail


def _sum(rows, key):
    return float(sum(r[key] for r in rows))


def engine_layers(trace, cores, n_passes):
    """Spark engine layers over the traced region, per pass."""
    spans, jobs, stages = trace["spans"], trace["jobs"], trace["stages"]
    job_iv = [(j["start"], j["end"]) for j in jobs if j["end"] == j["end"]]  # drop NaN
    passes = [s for s in spans if s["name"] in ("pass", "cycle")]
    outside = sum(outside_jobs((p["start"], p["end"]), job_iv) for p in passes)
    run_ms = _sum(stages, "run_ms")
    # a streaming micro-batch belongs to the operation span it ran under
    leaf_of_batch = {}
    for b in trace["batches"]:
        leaf_of_batch.setdefault(innermost(spans, b["start"]), []).append(b["ms"])
    by_id = {s["id"]: s for s in spans}
    outside_batches = sum((by_id[i]["end"] - by_id[i]["start"]) - sum(ms)
                          for i, ms in leaf_of_batch.items() if i in by_id)
    per = lambda v: v / n_passes
    return {
        "catalyst.plan_ms": per(sum(p["ms"] for p in trace["plans"])),
        "driver.outside_jobs_ms": per(outside),
        "scheduler.jobs": per(len(jobs)),
        "scheduler.stages": per(len(stages)),
        "scheduler.tasks": per(_sum(stages, "tasks")),
        "task.core_idle_frac": core_idle_frac(run_ms, cores, job_iv),
        "task.cpu_ms": per(_sum(stages, "cpu_ms")),
        "task.run_ms": per(run_ms),
        "task.gc_ms": per(_sum(stages, "gc_ms")),
        "shuffle.write_bytes": per(_sum(stages, "shuffle_write_bytes")),
        "shuffle.read_bytes": per(_sum(stages, "shuffle_read_bytes")),
        "shuffle.records": per(_sum(stages, "shuffle_records")),
        "spill.bytes": per(_sum(stages, "spill_bytes")),
        "io.input_bytes": per(_sum(stages, "input_bytes")),
        "io.output_bytes": per(_sum(stages, "output_bytes")),
        "streaming.batches": per(len(trace["batches"])),
        "streaming.batch_ms": per(sum(b["ms"] for b in trace["batches"])),
        "streaming.outside_batches_ms": per(outside_batches),
    }


def span_totals(spans):
    """{span name prefix (before ':'): (total ms, total self ms)}."""
    selfs = self_times(spans)
    out = {}
    for s in spans:
        key = s["name"].split(":", 1)[0]
        tot, slf = out.get(key, (0.0, 0.0))
        out[key] = (tot + s["end"] - s["start"], slf + selfs[s["id"]])
    return out


def per_op_profile(trace):
    """Engine numbers per leaf span name (a query, a pipeline call on one
    source, a maintenance step), averaged over its occurrences."""
    spans = trace["spans"]
    parents = {s["parent"] for s in spans}
    ops = [s for s in spans if s["id"] not in parents]
    stages_by_span = {}
    for st in trace["stages"]:
        stages_by_span.setdefault(st["span"], []).append(st)
    jobs_by_span = {}
    for j in trace["jobs"]:
        jobs_by_span.setdefault(j["span"], []).append(j)
    plans_by_span = {}
    for p in trace["plans"]:
        plans_by_span.setdefault(innermost(spans, p["start"]), []).append(p["ms"])
    batches_by_span = {}
    for b in trace["batches"]:
        batches_by_span.setdefault(innermost(spans, b["start"]), []).append(b["ms"])
    out = {}
    for s in ops:
        name = s["name"]
        js, sts = jobs_by_span.get(s["id"], []), stages_by_span.get(s["id"], [])
        iv = [(j["start"], j["end"]) for j in js if j["end"] == j["end"]]
        row = out.setdefault(name, {k: 0.0 for k in (
            "wall_ms", "plan_ms", "outside_jobs_ms", "jobs", "stages", "tasks", "task_run_ms",
            "task_cpu_ms", "task_gc_ms", "shuffle_write_bytes", "shuffle_read_bytes",
            "spill_bytes", "streaming_batches", "streaming_batch_ms", "samples")})
        row["wall_ms"] += s["end"] - s["start"]
        row["plan_ms"] += sum(plans_by_span.get(s["id"], []))
        row["outside_jobs_ms"] += outside_jobs((s["start"], s["end"]), iv)
        row["jobs"] += len(js)
        row["stages"] += len(sts)
        row["tasks"] += _sum(sts, "tasks")
        row["task_run_ms"] += _sum(sts, "run_ms")
        row["task_cpu_ms"] += _sum(sts, "cpu_ms")
        row["task_gc_ms"] += _sum(sts, "gc_ms")
        row["shuffle_write_bytes"] += _sum(sts, "shuffle_write_bytes")
        row["shuffle_read_bytes"] += _sum(sts, "shuffle_read_bytes")
        row["spill_bytes"] += _sum(sts, "spill_bytes")
        row["streaming_batches"] += len(batches_by_span.get(s["id"], []))
        row["streaming_batch_ms"] += sum(batches_by_span.get(s["id"], []))
        row["samples"] += 1
    for row in out.values():
        n = row.pop("samples")
        for k in row:
            row[k] /= n
    return out
