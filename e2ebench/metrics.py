"""Metric names, units and how each is computed from one run.

End-to-end metrics are what a daemon user sees and apply to every workload:
an op is one client request on daemon_reads and one curation pass (curate +
verify-shards) on curate_corpus. Per-layer metrics come from the traced run
only; a layer idle on a workload reports 0.
"""

from __future__ import annotations

import statistics

from tracer import LAYERS, job_busy_s, job_layers, jobs_in, median

END_TO_END = {
    "setup_s": "s",
    "mix_p50_ms": "ms",
    "ops_per_s": "1/s",
}

_SPAN_STATS = {
    # span name: which of (_ms, _jobs) to report
    "cli.emit": ("ms", "jobs"),
    "engine.find_by_name": ("ms", "jobs"),
    "engine.find_callers": ("ms", "jobs"),
    "engine.find_callees": ("jobs",),
    "engine.find_references": ("jobs",),
    "engine.trace_paths": ("ms", "jobs"),
    "engine.keyword_search": ("jobs",),
    "engine.status": ("ms", "jobs"),
    "engine.registry": ("ms",),
    "engine.link_codebase": ("ms", "jobs"),
    "storage.append_blocks": ("ms",),
    "storage.append_edges": ("ms",),
    "storage.record_file_state": ("ms",),
    "storage.record_ref_names": ("ms",),
    "storage.snapshot": ("ms",),
    "ingest.parse_files": ("ms", "jobs"),
    "ingest.resolve_and_build": ("ms",),
    "traversal.bfs": ("ms", "jobs"),
    "traversal.find_paths_between": ("ms", "jobs"),
    "curation.curate_and_write": ("ms", "jobs"),
    "sinks.write_training_shards": ("ms", "jobs"),
    "sinks.verify_shards": ("ms", "jobs"),
}
_UNITS = {"ms": "ms", "jobs": "count"}
#: layers whose self time is reported along each request's blocking path
PATH_LAYERS = ("server", "cli", "engine", "lookup", "traversal", "storage")
#: request classes broken down along the blocking path: cold finds and
#: cold callers (the hot ones are cache hits)
ACCOUNTED_KINDS = ("find", "callers")
_SPARK_TOTALS = {
    "spark.task_s": ("task_s", "s"),
    "spark.gc_s": ("gc_s", "s"),
    "spark.shuffle_read_mb": ("shuffle_read_mb", "MB"),
    "spark.shuffle_write_mb": ("shuffle_write_mb", "MB"),
    "spark.spill_mb": ("spill_mb", "MB"),
    "spark.input_mb": ("input_mb", "MB"),
}
#: executor time is attributed to these layers (the traced modules whose
#: code submits Spark jobs), "other" when no traced span was open
_JOB_LAYERS = sorted(set(LAYERS.values()) - {"server"}) + ["other"]

PER_LAYER: dict[str, str] = {
    "server.overhead_ms": "ms",
    **{f"{name}_{k}": _UNITS[k] for name, ks in _SPAN_STATS.items() for k in ks},
    "engine.cache_hit_ratio": "ratio",
    "storage.visible_calls": "count",
    "storage.write_amp": "ratio",
    "storage.parquet_files": "count",
    "ingest.files_parsed": "count",
    "mem.peak_rss_mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.job_floor_ms": "ms",
    "spark.driver_ms": "ms",
    **{name: unit for name, (_k, unit) in _SPARK_TOTALS.items()},
    **{f"spark.{label}.task_s": "s" for label in _JOB_LAYERS},
    **{f"{kind}.{layer}_self_ms": "ms" for kind in ACCOUNTED_KINDS for layer in PATH_LAYERS},
    **{f"{kind}.spark_job_ms": "ms" for kind in ACCOUNTED_KINDS},
    **{f"{kind}.untraced_p50_ms": "ms" for kind in ACCOUNTED_KINDS},
    **{f"{kind}.traced_p50_ms": "ms" for kind in ACCOUNTED_KINDS},
    "op.untraced_p50_ms": "ms",
    "op.traced_p50_ms": "ms",
    "op.tracing_overhead_ms": "ms",
}


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) at the highest percentile that leaves at least
    ten samples beyond it; with ten or fewer samples, the maximum."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 10:
        return xs[-1], 100.0, n
    k = n - 11                     # 0-based rank with exactly 10 above it
    return xs[k], round(100.0 * (k + 1) / n, 1), n


def latency_stats(ms: list[float]) -> dict:
    value, pct, n = tail(ms)
    return {"p50_ms": statistics.median(ms) if ms else 0.0,
            "tail_ms": value, "tail_pct": pct, "n": n}


def end_to_end(run, setup_s: float) -> dict:
    ops = [o for o in run.ops if o.timed and o.span is None]
    return {
        "setup_s": setup_s,
        "mix_p50_ms": mix_latency_ms(run, ops, statistics.median),
        "ops_per_s": 1e3 / mix_latency_ms(run, ops, statistics.fmean),
    }


def mix_latency_ms(run, ops, stat) -> float:
    """Op latency over the workload's nominal mix: ``stat`` (median or mean)
    of each op class, weighted by the class's share of the mix. The classes
    differ by ten times and more in latency (cache hits, finds, shows,
    traces), so a plain median over all ops lands on the edge of one class
    and moves with how many ops of each class the window happened to hold."""
    by_cls: dict[str, list[float]] = {}
    for o, ms in zip(_op_heads(ops), _ops_latency(run, ops)):
        by_cls.setdefault(o.cls, []).append(ms)
    mix = run.info.get("mix") or {c: 1.0 for c in by_cls}
    present = {c: w for c, w in mix.items() if c in by_cls}
    return sum(w * stat(by_cls[c]) for c, w in present.items()) / sum(present.values())


def _ops_latency(run, ops) -> list[float]:
    """Latency per user op: on curate_corpus one op is a curate request and
    the verify-shards request that follows it."""
    out, pending = [], 0.0
    for o in ops:
        if o.kind == "curate":
            pending = o.ms
            continue
        out.append(o.ms + pending)
        pending = 0.0
    return out


def _op_heads(ops) -> list:
    """The op each latency of ``_ops_latency`` belongs to."""
    return [o for o in ops if o.kind != "curate"]


def breakdown(run) -> dict:
    """Latency of all untraced user ops and of each request kind, each with
    its median and tail, for the run record."""
    ops = [o for o in run.ops if o.timed and o.span is None]
    kinds: dict[str, list[float]] = {"op": _ops_latency(run, ops)}
    for o in ops:
        kinds.setdefault(o.kind, []).append(o.ms)
    return {k: latency_stats(v) for k, v in kinds.items()}


def per_layer(run, tracer, log: dict) -> dict:
    """Every PER_LAYER metric from the spans and the event log."""
    out = dict.fromkeys(PER_LAYER, 0.0)
    spans = tracer.spans
    by_name: dict[str, list] = {}
    for sp in spans:
        by_name.setdefault(sp.name, []).append(sp)

    def span_jobs(sp) -> int:
        return len(jobs_in(log, sp.start, sp.end))

    for name, ks in _SPAN_STATS.items():
        calls = by_name.get(name, [])
        if "ms" in ks:
            out[f"{name}_ms"] = median(sp.ms for sp in calls)
        if "jobs" in ks:
            out[f"{name}_jobs"] = median(span_jobs(sp) for sp in calls)

    traced = [o for o in run.ops if o.timed and o.span is not None]
    untraced = [o for o in run.ops if o.timed and o.span is None]
    roots = [o.span for o in traced]
    out["server.overhead_ms"] = median(tracer.self_ms(r) for r in roots)
    hits, misses = run.info.get("cache_hits", 0), run.info.get("cache_misses", 0)
    out["engine.cache_hit_ratio"] = hits / (hits + misses) if hits + misses else 0.0
    out["storage.visible_calls"] = median(
        sum(spans[i].name == "storage.visible" for i in tracer.subtree(r)) for r in roots)
    out["storage.write_amp"] = run.info.get("store_bytes_per_src_byte", 0.0)
    out["storage.parquet_files"] = run.info.get("store_parquet_files", 0)
    out["ingest.files_parsed"] = run.info.get("files_parsed", 0)
    out["mem.peak_rss_mb"] = run.info.get("peak_rss_mb", 0.0)

    # Spark: per op medians and per op totals over the traced window
    op_jobs = [jobs_in(log, spans[r].start, spans[r].end) for r in roots]
    out["spark.jobs"] = median(len(j) for j in op_jobs)
    ran = {s for s, st in log["stages"].items() if st["tasks"]}
    out["spark.stages"] = median(
        sum(len(ran.intersection(log["jobs"][j]["stages"])) for j in js) for js in op_jobs)
    stage_job = {s: j for j, v in log["jobs"].items() for s in v["stages"]}
    short = [
        (v["end"] - v["start"]) * 1e3 for j, v in log["jobs"].items()
        if v["end"] is not None and all(
            log["stages"][s]["max_task_s"] < 0.05 for s in v["stages"] if s in log["stages"])
    ]
    out["spark.job_floor_ms"] = median(short)
    out["spark.driver_ms"] = median(
        spans[r].ms - 1e3 * job_busy_s(log, spans[r].start, spans[r].end) for r in roots)
    in_window = {j for js in op_jobs for j in js}
    layer_of = job_layers(log, spans)
    n_ops = max(1, len(roots))
    for sid, st in log["stages"].items():
        job = stage_job.get(sid)
        if job not in in_window:
            continue
        for name, (key, _unit) in _SPARK_TOTALS.items():
            out[name] += st[key] / n_ops
        layer = layer_of[job] if layer_of[job] in _JOB_LAYERS else "other"
        out[f"spark.{layer}.task_s"] += st["task_s"] / n_ops

    # blocking-path accounting for find and show requests
    for kind in ACCOUNTED_KINDS:
        mine = [o.span for o in traced if o.cls == kind]
        for layer in PATH_LAYERS:
            out[f"{kind}.{layer}_self_ms"] = median(
                sum(tracer.self_ms(i) for i in tracer.subtree(r)
                    if spans[i].name.split(".", 1)[0] == layer) for r in mine)
        out[f"{kind}.spark_job_ms"] = median(
            1e3 * job_busy_s(log, spans[r].start, spans[r].end) for r in mine)
        out[f"{kind}.untraced_p50_ms"] = median(o.ms for o in untraced if o.cls == kind)
        out[f"{kind}.traced_p50_ms"] = median(o.ms for o in traced if o.cls == kind)
    out["op.untraced_p50_ms"] = median(_ops_latency(run, untraced))
    out["op.traced_p50_ms"] = median(_ops_latency(run, traced))
    out["op.tracing_overhead_ms"] = out["op.traced_p50_ms"] - out["op.untraced_p50_ms"]
    return out

