"""Per-layer numbers for one traced job, and their summary over a run.

Each traced job's spans are joined with the Spark jobs their job groups
tagged, read from the status store after the listener bus drains. A
per-layer metric of a run is the mean over one traced cycle's jobs,
median over the traced cycles."""

from __future__ import annotations

from statistics import median

from perfbench import gen
from perfbench.trace import Span, union_length

# name -> unit, in the order they are reported
PER_LAYER = {
    "graph.build_s": "s",
    "graph.eager_jobs": "count",
    "cube.build_s": "s",
    "spark.catalyst_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.scheduler_delay_s": "s",
    "driver.gap_s": "s",
    "ml.build_s": "s",
    "ml.model_s": "s",
    "ml.model_calls": "count",
    "ml.batch_fill": "ratio",
    "ml.nan_skip_frac": "ratio",
    "ml.arrow_bytes": "bytes",
    "io.load_s": "s",
    "scale.build_s": "s",
    "scale.eager_jobs": "count",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.slot_busy_frac": "ratio",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "trace.overhead_frac": "ratio",
    "trace.outside_span_frac": "ratio",
}

ARROW_METRICS = ("data sent to Python workers", "data returned from Python workers")


def _has_ancestor_in(by_id: dict[int, Span], sp: Span, layer: str) -> bool:
    p = sp.parent
    while p is not None:
        if by_id[p].layer == layer:
            return True
        p = by_id[p].parent
    return False


def layer_time(spans: list[Span], by_id: dict[int, Span], layer: str, name: str | None = None) -> float:
    """Time inside the outermost spans of ``layer`` (optionally one name):
    nested spans of the same layer are not counted twice."""
    return sum(
        s.duration
        for s in spans
        if s.layer == layer
        and (name is None or s.name == name)
        and not _has_ancestor_in(by_id, s, layer)
    )


def _jobs_under(tr, spans: list[Span], layer: str) -> int:
    ids: set[int] = set()
    for s in spans:
        if s.layer == layer:
            for d in tr.subtree(s):
                ids.update(d.spark_jobs)
    return len(ids)


def _catalyst_s(status, df) -> float:
    """Analysis + optimisation + planning of the materialised plan, from
    the query-execution phase tracker. Forcing ``executedPlan`` replays
    the optimiser and planner the noop write ran on the same logical
    plan; it runs after the job, outside its wall time."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = status.to_json(qe.tracker().phases())
    return sum(
        (p["endTimeMs"] - p["startTimeMs"]) / 1000.0
        for k, p in phases.items()
        if k in ("analysis", "optimization", "planning")
    )


def collect_job(ctx, tr, root: Span, df, wall: float) -> dict:
    """Per-layer values of one traced job (see PER_LAYER)."""
    status = ctx.state["status"]
    catalyst = _catalyst_s(status, df)
    status.drain()
    spans = tr.subtree(root)
    by_id = {s.sid: s for s in tr.spans}
    for s in spans:
        s.spark_jobs = status.job_ids(tr.group_of(s))
    jobs = {j: status.job(j) for s in spans for j in s.spark_jobs}
    stage_ids = sorted({sid for j in jobs.values() for sid in j["stageIds"]})
    stages = [status.stage(sid) for sid in stage_ids]
    ran = [st for st in stages if st["status"] != "SKIPPED"]
    sched = 0.0
    for st in ran:
        sched += sum(t.get("schedulerDelay", 0) for t in status.tasks(st["stageId"], st["attemptId"]))
    arrow = 0.0
    for ex in status.new_sql_executions():
        if set(ex["jobs"]) & set(jobs):
            arrow += sum(ex["metrics"].get(m, 0.0) for m in ARROW_METRICS)

    def interval(jid):
        j = jobs[jid]
        return j["submissionTime"] / 1000.0, j["completionTime"] / 1000.0

    mat_jobs = [
        j for s in spans if s.name == "materialise" for d in tr.subtree(s) for j in d.spark_jobs
    ]
    mat_wall = union_length([interval(j) for j in set(mat_jobs)])
    build = sum(s.duration for s in spans if s.name == "build")
    # Spark's own job interval against the span that tagged it: the part
    # outside (beyond the status store's 1 ms clock) is misattributed time
    outside = inside = 0.0
    for s in spans:
        for j in s.spark_jobs:
            a, b = interval(j)
            inside += b - a
            outside += max(0.0, s.start - 0.001 - a) + max(0.0, b - s.end - 0.001)
    counters = ctx.state.get("counter_delta", {})
    calls = counters.get("model_calls", 0)
    cores = ctx.spark.sparkContext.defaultParallelism
    run_s = sum(st["executorRunTime"] for st in ran) / 1000.0
    return {
        "wall": wall,
        "build": build,
        "mat_jobs_wall": mat_wall,
        "graph.build_s": layer_time(spans, by_id, "graph"),
        "graph.eager_jobs": _jobs_under(tr, spans, "graph"),
        "cube.build_s": layer_time(spans, by_id, "cube"),
        "spark.catalyst_s": catalyst,
        "spark.jobs": len(jobs),
        "spark.stages": len(ran),
        "spark.tasks": sum(st["numCompleteTasks"] + st["numFailedTasks"] for st in ran),
        "spark.scheduler_delay_s": sched / 1000.0,
        "driver.gap_s": root.duration - build - mat_wall,
        "ml.build_s": layer_time(spans, by_id, "ml", "run_model_tiled"),
        "ml.model_s": counters.get("model_s", 0.0),
        "ml.model_calls": calls,
        "ml.batch_fill": counters.get("model_tiles", 0) / (calls * gen.BATCH) if calls else 0.0,
        "ml.nan_skip_frac": 1.0 - calls / ctx.job.batches if ctx.job.batches else 0.0,
        "ml.arrow_bytes": arrow,
        "io.load_s": layer_time(spans, by_id, "io"),
        "scale.build_s": layer_time(spans, by_id, "scale"),
        "scale.eager_jobs": _jobs_under(tr, spans, "scale"),
        "spark.shuffle_bytes": sum(st["shuffleWriteBytes"] for st in ran),
        "spark.spill_bytes": sum(st["diskBytesSpilled"] for st in ran),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(st["executorCpuTime"] for st in ran) / 1e9,
        "spark.slot_busy_frac": run_s / (wall * cores),
        "spark.gc_s": sum(st["jvmGcTime"] for st in ran) / 1000.0,
        "spark.failed_tasks": sum(st["numFailedTasks"] for st in ran),
        "outside_s": outside,
        "inside_s": inside,
    }


def layer_metrics(ctx, wl, samples: list[dict]) -> tuple[dict, dict]:
    """Per-layer metrics: the mean over one traced cycle's jobs (each job
    type once, so a layer only some job types use still shows), then the
    median over traced cycles. Plus the reconciliation summary."""
    traced = [s["layers"] for s in samples if s.get("layers")]
    cycles: dict[int, list[dict]] = {}
    for s in samples:
        if s.get("layers"):
            cycles.setdefault(s["cycle"], []).append(s["layers"])
    cycles = {c: js for c, js in cycles.items() if len(js) == len(wl.jobs)}
    if not cycles:
        raise RuntimeError("no traced cycle completed")
    out: dict[str, tuple[float, str]] = {}
    for name, unit in PER_LAYER.items():
        if name in traced[0]:
            per_cycle = [sum(j[name] for j in js) / len(js) for js in cycles.values()]
            out[name] = (median(per_cycle), unit)

    def mean_cycle(flag):
        # cycle 0 is left out: it runs while the JIT is still compiling
        ws = [s["cycle_wall"] for s in samples
              if "cycle_wall" in s and s["traced"] == flag and s["cycle"] > 0]
        return sum(ws) / len(ws) if ws else float("nan")

    untraced = mean_cycle(False)
    out["trace.overhead_frac"] = (mean_cycle(True) / untraced - 1.0, "ratio")
    inside = sum(t["inside_s"] for t in traced)
    out["trace.outside_span_frac"] = (
        sum(t["outside_s"] for t in traced) / inside if inside else 0.0,
        "ratio",
    )
    gaps = [t["driver.gap_s"] for t in traced]
    recon = {
        "jobs": len(traced),
        "wall_p50_s": median([t["wall"] for t in traced]),
        "build_p50_s": median([t["build"] for t in traced]),
        "spark_jobs_wall_p50_s": median([t["mat_jobs_wall"] for t in traced]),
        "driver_gap_p50_s": median(gaps),
        "negative_gap_jobs": sum(g < 0 for g in gaps),
        "gap_share_of_wall_p50": median([t["driver.gap_s"] / t["wall"] for t in traced]),
    }
    missing = [n for n in PER_LAYER if n not in out]
    if missing:
        raise RuntimeError(f"per-layer metrics not computed: {missing}")
    return out, recon
