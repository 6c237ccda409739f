"""Turns the driver's records into the benchmark's metrics.

End-to-end metrics come from the untraced run; per-layer metrics from the
traced run, as medians over its traced timed ops. A Spark job belongs to
the innermost span that was open when it started: layer calls are serial,
so time attribution is exact even for jobs AQE submits from pool threads.
"""
from collections import defaultdict

import stats

FUNNEL_STAGES = ("gate", "dedup", "packer", "window_topk", "transitions")
MB = 1024 * 1024


def by_kind(records):
    out = defaultdict(list)
    for r in records:
        out[r["kind"]].append(r)
    return out


def end_to_end(recs, attempted, failed):
    timed = [o["seconds"] for o in recs["op"] if o["phase"] == "timed"]
    cold = [o["seconds"] for o in recs["op"] if o["phase"] == "cold"]
    return {
        "setup_s": (recs["setup"][0]["seconds"], "s"),
        "op_p50_s": (stats.median(timed), "s"),
        "first_op_s": (cold[0], "s"),
        "success_rate": (1.0 - stats.error_rate(attempted, failed), "share"),
        "heap_retained_mb": (recs["heap"][0]["used_mb"], "MB"),
    }


def _jobs_in(jobs, start, end):
    return [j for j in jobs if start <= j["start_us"] < end]


def _spark_counters(op, jobs):
    """Spark work inside one op: counters summed over its jobs, and the
    part of the op's wall time no job was running (driver-only time)."""
    mine = _jobs_in(jobs, op["start_us"], op["end_us"])
    active = stats.union_length(
        [(j["start_us"], j["end_us"]) for j in mine], op["start_us"], op["end_us"]) / 1e6
    return {
        "spark.jobs": (len(mine), "count"),
        "spark.stages": (sum(j["stages"] for j in mine), "count"),
        "spark.tasks": (sum(j["tasks"] for j in mine), "count"),
        "spark.task_s": (sum(j["task_ms"] for j in mine) / 1e3, "s"),
        "spark.job_active_s": (active, "s"),
        "driver.only_s": (op["seconds"] - active, "s"),
        "spark.shuffle_mb": (sum(j["shuffle_bytes"] for j in mine) / MB, "MB"),
        "spark.spill_mb": (sum(j["spill_bytes"] for j in mine) / MB, "MB"),
        "spark.gc_s": (sum(j["gc_ms"] for j in mine) / 1e3, "s"),
    }


def _span_metrics(op, spans, jobs, workload):
    """Layer-call times of one op, from its spans: `<span>_s` for every
    layer call, `<span>.jobs` for query lines, and the
    op's wall time outside any layer call (`<workload>.gap_s`)."""
    mine = [s for s in spans if s["op"] == op["i"]]
    root = next(s["id"] for s in mine if s["name"] == "op")
    m = defaultdict(lambda: [0.0, "s"])
    covered = 0.0
    for s in mine:
        if s["id"] == root:
            continue
        dur = (s["end_us"] - s["start_us"]) / 1e6
        m[f"{s['name']}_s"][0] += dur
        if s["name"].startswith("query."):
            m[f"{s['name']}.jobs"] = [len(_jobs_in(jobs, s["start_us"], s["end_us"])), "count"]
        if s["parent"] == root:
            covered += dur
    m[f"{workload}.gap_s"] = [op["seconds"] - covered, "s"]
    return {k: tuple(v) for k, v in m.items()}


def _funnel_metrics(recs, ops):
    """Per-stage streaming progress of the traced timed ops, plus the
    funnel's run-level ratios and the index compaction time."""
    m = {}
    for stage in FUNNEL_STAGES:
        per_op = defaultdict(list)
        for p in recs["progress"]:
            if p["stage"] == stage and p["ran"]:
                for o in ops:
                    if o["start_us"] <= p["ts_ms"] * 1000 < o["end_us"]:
                        per_op[o["i"]].append(p)
        for key, field, scale, unit in (("busy_s", "trigger_ms", 1e-3, "s"),
                                        ("planning_s", "planning_ms", 1e-3, "s"),
                                        ("commit_s", "commit_ms", 1e-3, "s"),
                                        ("rows_in", "rows_in", 1, "count")):
            m[f"stream.{stage}.{key}"] = (stats.median(
                [sum(p[field] for p in per_op[o["i"]]) * scale for o in ops]), unit)
        m[f"stream.{stage}.state_rows"] = (stats.median(
            [per_op[o["i"]][-1]["state_rows"] if per_op[o["i"]] else 0 for o in ops]), "count")
    ran = [p for p in recs["progress"] if p["ran"]]
    m["stream.empty_batch_share"] = (
        sum(1 for p in ran if p["rows_in"] == 0) / len(ran) if ran else 0.0, "share")
    d = recs["dedup"][0]
    m["operators.dedup_new_share"] = (d["new"] / d["probed"] if d["probed"] else 0.0, "share")
    m["io.compact_s"] = (recs["compact"][0]["seconds"], "s")
    return m


def per_layer(recs, workload):
    """Every per-layer metric the run measured, as {name: (value, unit)}."""
    timed = [o for o in recs["op"] if o["phase"] == "timed"]
    traced = [o for o in timed if o["traced"]]
    bare = [o for o in timed if not o["traced"]]
    jobs, spans = recs["job"], recs["span"]
    samples = defaultdict(list)
    for op in traced:
        for k, v in {**_spark_counters(op, jobs), **_span_metrics(op, spans, jobs, workload)}.items():
            samples[k].append(v)
    m = {k: (stats.median([v for v, _ in vs]), vs[0][1]) for k, vs in samples.items()}
    traced_p50 = stats.median([o["seconds"] for o in traced])
    m["trace.op_p50_s"] = (traced_p50, "s")
    m["trace.overhead_share"] = (traced_p50 / stats.median([o["seconds"] for o in bare]) - 1, "share")
    setup = recs["setup"][0]
    for part in ("jvm", "session", "open"):
        m[f"engine.{part}_s"] = (setup[f"{part}_s"], "s")
    if recs["io"]:
        m["io.committed_mb"] = (stats.median([r["committed_bytes"] / MB for r in recs["io"]]), "MB")
    if recs["memo"]:
        m["memo.entries"] = (stats.median([r["entries"] for r in recs["memo"]]), "count")
    if recs["progress"]:
        m.update(_funnel_metrics(recs, traced))
    return m
