"""Turns one run's raw samples and spans (written by the harness) into the
benchmark's metrics. Pure functions only, so `test_metrics.py` can check the
arithmetic without Spark.

Time stamps in the raw record are epoch milliseconds. A sample is one
execution of one query: its `start`, the moment its DataFrame was
`constructed`, and its `end` after the sink write. Spans carry a tag
`<query>#<rep>#<pass>`; the passes are `cold` (the first execution in the
process, whose parquet result is compared with the oracle) and `warm` (the
repeated executions into the noop sink).

Per-layer metrics get the suffix `.cold` or `.warm`. A `.warm` value is per
warm cycle: its sum over all warm samples times the number of queries over
the number of warm samples, so it compares with `warm_wall_s`.

`catalyst.*` times come from `QueryPlanningTracker` phases: those of each
action's QueryExecution (from the listener) and the analysis of the built
DataFrame, recorded in the sample as `built`. Intermediate frames analyzed
while the query is built are not seen from outside; their analysis stays
inside `registry.construct_s`.
"""
import statistics

MB = 1024.0 * 1024.0

# name -> unit. The end-to-end metrics BENCHMARK.json gates ...
END_TO_END = {
    "setup_s": "s", "cold_wall_s": "s", "warm_wall_s": "s", "oldgen_settled_mb": "MB",
}
# ... and the ones printed beside them. A run has too few warm samples for a
# tail beyond the median, and the median of a handful of distinct queries
# jumps between queries from run to run, so these are reported, not gated.
REPORTED = {
    "query_p50_s": "s", "query_tail_s": "s", "query_tail_percentile": "%",
    "query_tail_samples": "count", "failed_frac": "frac", "host.anchor_s": "s",
}


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(samples, beyond=10):
    """The highest percentile of `samples` that has at least `beyond`
    samples above it: the value with exactly `beyond` larger samples.
    Returns (value, percentile, sample count). The percentile is never
    taken below the median: with fewer than 2 * `beyond` samples the
    median stands in (percentile 50)."""
    s = sorted(samples)
    n = len(s)
    if n < 2 * beyond:
        return median(s), 50.0, n
    return s[n - 1 - beyond], 100.0 * (n - beyond) / n, n


def failed_frac(attempted, threw, mismatched):
    """(executions that threw + results that did not match) / attempted."""
    return (threw + mismatched) / attempted


def union_length(intervals, lo, hi):
    """Length of the part of [lo, hi] that the union of `intervals` covers.
    Intervals may nest, overlap or stick out of the window."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(lo, hi, children):
    """A span's duration minus the part of it its child spans cover."""
    return (hi - lo) - union_length(children, lo, hi)


def summarize(raw, verdicts, fixture_bytes, traced):
    samples = raw["samples"]
    cold = [s for s in samples if s["pass"] == "cold"]
    warm = [s for s in samples if s["pass"] == "warm"]
    names = [s["q"] for s in cold]
    wall = {id(s): (s["end"] - s["start"]) / 1e3 for s in samples}

    threw = sum(1 for s in samples if not s["ok"])
    # a query whose cold execution threw wrote no result; it is counted
    # once, as thrown, not again as a mismatch
    cold_threw = {s["q"] for s in cold if not s["ok"]}
    mismatched = sum(1 for q, v in verdicts.items() if v and q not in cold_threw)
    attempted = len(samples)
    per_query_warm = {q: [wall[id(s)] for s in warm if s["q"] == q] for q in names}
    warm_all = [wall[id(s)] for s in warm]
    tail_v, tail_p, tail_n = tail(warm_all)

    e2e = {
        "setup_s": (raw["ready"] - raw["launch"]) / 1e3,
        "cold_wall_s": sum(wall[id(s)] for s in cold),
        "warm_wall_s": sum(median(v) for v in per_query_warm.values()),
        "oldgen_settled_mb": raw["oldgen_settled_mb"],
    }
    reported = {
        "query_p50_s": median(warm_all), "query_tail_s": tail_v,
        "query_tail_percentile": tail_p, "query_tail_samples": tail_n,
        "failed_frac": failed_frac(attempted, threw, mismatched),
        "host.anchor_s": statistics.mean(raw["anchor_s"]),
    }
    detail = {
        "reported": reported,
        "host_anchor_s": raw["anchor_s"],
        "warm_samples": len(warm),
        "per_query": {q: {"cold_s": next(wall[id(s)] for s in cold if s["q"] == q),
                          "warm_s": per_query_warm[q],
                          "oracle": verdicts.get(q) or "match"} for q in names},
        "errors": [(s["q"], s["error"]) for s in samples if not s["ok"]],
        "mismatched": sorted(q for q, v in verdicts.items() if v and q not in cold_threw),
        "end_to_end": e2e,
    }
    result = {"correct": threw == 0 and mismatched == 0, "attempted": attempted,
              "failed": threw + mismatched, "detail": detail}
    if not traced:
        result["metrics"] = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        return result
    layers, detail["per_query_layers"] = per_layer(raw, cold, warm, fixture_bytes, int(raw["cpus"]))
    detail["per_layer"] = {k: v for k, (v, _) in layers.items()}
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    return result


def per_layer(raw, cold, warm, fixture_bytes, cpus):
    """(name -> (value, unit), per-query detail) for the traced run."""
    out = {
        "sessions.start_s": (raw["sessions_start_s"], "s"),
        "tables.warm_s": (raw["tables_warm_s"], "s"),
        "host.anchor_s": (statistics.mean(raw["anchor_s"]), "s"),
    }
    by_tag = {}
    for kind in ("jobs", "stages", "defects"):
        for e in raw.get(kind, []):
            by_tag.setdefault(e["tag"], {}).setdefault(kind, []).append(e)
    # the planning phases of an action are attributed to the sample whose
    # window holds the end of its last recorded phase
    windows = sorted((s["start"], s["end"], f'{s["q"]}#{s["rep"]}#{s["pass"]}')
                     for s in raw["samples"])
    for qe in raw.get("qes", []):
        ends = [p[1] for p in (qe["analysis"], qe["optimization"], qe["planning"]) if p]
        if not ends:
            continue
        t = max(ends)
        tag = next((w[2] for w in windows if w[0] <= t <= w[1] + 1), None)
        if tag:
            by_tag.setdefault(tag, {}).setdefault("qes", []).append(qe)

    store = raw["store"]
    for name, group in (("cold", cold), ("warm", warm)):
        scale = (len(cold) / len(group)) if (name == "warm" and group) else 1.0
        for key, (v, unit) in accumulate(group, by_tag, cpus).items():
            out[f"{key}.{name}"] = (v * scale if unit in ("s", "MB", "count") else v, unit)
        # the store grows over the whole pass, so it is scaled like the sums
        sbytes, sfiles = store[f"{name}_bytes"] * scale, store[f"{name}_files"] * scale
        out[f"store.write_mb.{name}"] = (sbytes / MB, "MB")
        out[f"store.files.{name}"] = (sfiles, "count")
        out[f"store.bytes_per_input_byte.{name}"] = (sbytes / fixture_bytes, "ratio")
    per_query = {}
    for s in cold + warm:
        per_query.setdefault(s["q"], {}).setdefault(s["pass"], []).append(s)
    detail = {q: {p: {k: v for k, (v, _) in accumulate(g, by_tag, cpus).items()}
                  for p, g in passes.items()} for q, passes in per_query.items()}
    return out, detail


UNITS = (("_s", "s"), ("_mb", "MB"), ("_frac", "frac"), ("_ratio", "ratio"))
LAYER_KEYS = (
    "registry.construct_s", "registry.construct_jobs", "registry.construct_self_s",
    "catalyst.executions", "catalyst.analysis_s", "catalyst.optimize_s", "catalyst.plan_s",
    "catalyst.hint_errors", "catalyst.window_no_partition",
    "codegen.compiles", "codegen.compile_s",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.task_wait_s",
    "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s", "exec.input_mb", "exec.records_read",
    "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb",
    "store.output_mb", "jvm.gc_s", "jvm.full_gc_count",
)


def accumulate(group, by_tag, cpus):
    """Sums the spans of the samples in `group`: name -> (value, unit). The
    ratios (`_frac`, `_ratio`) are taken over the whole group."""
    acc = dict.fromkeys(LAYER_KEYS, 0.0)
    straggler_max = straggler_med = wall_s = busy_s = 0.0
    for s in group:
        spans = by_tag.get(f'{s["q"]}#{s["rep"]}#{s["pass"]}', {})
        wall_s += (s["end"] - s["start"]) / 1e3
        constructed = s["constructed"] if s["constructed"] is not None else s["end"]
        jobs = spans.get("jobs", [])
        cjobs = [(j["start"], j["end"]) for j in jobs if j["phase"] == "construct"]
        acc["registry.construct_s"] += (constructed - s["start"]) / 1e3
        acc["registry.construct_jobs"] += len(cjobs)
        acc["registry.construct_self_s"] += self_time(s["start"], constructed, cjobs) / 1e3
        qes = spans.get("qes", [])
        acc["catalyst.executions"] += len(qes)
        for key, phase in (("catalyst.analysis_s", "analysis"),
                           ("catalyst.optimize_s", "optimization"),
                           ("catalyst.plan_s", "planning")):
            acc[key] += sum((q[phase][1] - q[phase][0]) / 1e3 for q in qes if q[phase])
        # the built frame's analysis, unless an action ran on that same
        # QueryExecution and the listener already counted it
        b = s["built"]
        if b and b["analysis"] and b["id"] not in {q["id"] for q in qes}:
            acc["catalyst.analysis_s"] += (b["analysis"][1] - b["analysis"][0]) / 1e3
        for d in spans.get("defects", []):
            acc["catalyst." + d["kind"]] += 1
        acc["codegen.compiles"] += s["compiles"]
        acc["codegen.compile_s"] += s["compile_ns"] / 1e9
        stages = spans.get("stages", [])
        acc["scheduler.jobs"] += len(jobs)
        acc["scheduler.stages"] += len(stages)
        busy_s += union_length([(st["submit"], st["complete"]) for st in stages
                                if st["complete"] >= st["submit"]], s["start"], s["end"]) / 1e3
        for st in stages:
            acc["scheduler.tasks"] += st["tasks"]
            acc["scheduler.task_wait_s"] += st["wait_ms"] / 1e3
            acc["exec.task_run_s"] += st["run_ms"] / 1e3
            acc["exec.task_cpu_s"] += st["cpu_ns"] / 1e9
            acc["exec.gc_s"] += st["gc_ms"] / 1e3
            acc["exec.input_mb"] += st["in_bytes"] / MB
            acc["exec.records_read"] += st["in_recs"]
            acc["exec.shuffle_write_mb"] += st["sw_bytes"] / MB
            acc["exec.shuffle_read_mb"] += st["sr_bytes"] / MB
            acc["exec.spill_mb"] += st["spill_bytes"] / MB
            acc["store.output_mb"] += st["out_bytes"] / MB
            straggler_max += st["max_ms"]
            straggler_med += st["med_ms"]
        acc["jvm.gc_s"] += s["gc_ms"] / 1e3
        acc["jvm.full_gc_count"] += s["full_gcs"]
    out = {k: (v, next((u for suf, u in UNITS if k.endswith(suf)), "count"))
           for k, v in acc.items()}
    out["scheduler.idle_core_frac"] = (
        1.0 - acc["exec.task_run_s"] / (wall_s * cpus) if wall_s else 0.0, "frac")
    out["scheduler.stage_busy_frac"] = (busy_s / wall_s if wall_s else 0.0, "frac")
    out["exec.straggler_ratio"] = (
        straggler_max / straggler_med if straggler_med else 0.0, "ratio")
    return out
