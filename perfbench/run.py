"""Datacube-ML benchmark: one closed-loop client on local[nproc].

    python3 perfbench/run.py --workload floor_jobs --seed 1 --seconds 20 --trace 0

Sets up three times (session start, inputs generated from ``--seed``,
one warm-up job) and reports the median, checks every job type's output
in an untimed correctness pass, then runs jobs back to back for
``--seconds``. The last stdout line is one JSON object: end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
Everything it writes stays under ``.perfbench/`` in the checkout; see
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

SETUP_REPS = 3
MIN_CYCLES = 3

# end-to-end metrics, printed with --trace 0 (BENCHMARK.json end_to_end)
E2E_UNITS = {
    "setup_s": "s",
    "job_p50_s": "s",
    "jobs_per_s": "1/s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def materialise(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def unpersist_leaked(spark) -> None:
    # localCheckpoint blocks a finished job leaked; the context cleaner
    # frees them only on Python GC, so a long loop would accumulate them
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)


def run_job(ctx, job, tr):
    """One closed-loop request. Returns (wall_s, ok, df, span)."""
    tr.job += 1
    t0 = time.perf_counter()
    ok, df, root = True, None, None
    try:
        with tr.span(job.name, "job") as root:
            with tr.span("build", "build"):
                df = job.build(ctx)
            with tr.span("materialise", "spark"):
                materialise(df)
    except Exception:  # noqa: BLE001 - a failed job is counted, the loop goes on
        ok = False
        log(f"job {job.name} failed:\n{traceback.format_exc()}")
    wall = time.perf_counter() - t0
    unpersist_leaked(ctx.spark)
    return wall, ok, df, root


def setup_once(args, wl, work, data_dir):
    """Session start, input generation and one warm-up job: JIT, the
    package import in the Python workers, and the first job's codegen."""
    from perfbench import gen, harness
    from perfbench.workloads import Ctx, NullTracer, make_counted_model

    t0 = time.perf_counter()
    spark = harness.start_session(work)
    shutil.rmtree(data_dir, ignore_errors=True)
    record = gen.generate(data_dir, args.seed, wl.name)
    ctx = Ctx(spark, data_dir, args.seed, NullTracer())
    ctx.state["model"], ctx.state["counters"] = make_counted_model(spark.sparkContext)
    _, ok, _, _ = run_job(ctx, wl.jobs[0], ctx.tracer)
    if not ok:
        raise RuntimeError(f"warm-up job {wl.jobs[0].name} failed")
    return time.perf_counter() - t0, ctx, record


def counters(ctx) -> dict:
    return {k: acc.value for k, acc in ctx.state["counters"].items()}


def closed_loop(ctx, wl, seconds, tracer=None):
    """Whole cycles through the workload's jobs until ``seconds`` pass,
    so every job type runs equally often. With a ``tracer``, odd cycles
    are traced and even ones are not, which measures the overhead.
    Returns the samples and the loop wall time."""
    from perfbench.layers import collect_job
    from perfbench.workloads import NullTracer

    null = NullTracer()
    samples = []
    t0 = time.perf_counter()
    deadline = t0 + seconds
    cycle = 0
    while True:
        tr = tracer if tracer is not None and cycle % 2 else null
        ctx.tracer = tr
        c0 = time.perf_counter()
        for job in wl.jobs:
            ctx.job = job
            before = counters(ctx)
            wall, ok, df, root = run_job(ctx, job, tr)
            ctx.state["counter_delta"] = {k: v - before[k] for k, v in counters(ctx).items()}
            sample = {"job": job.name, "wall": wall, "ok": ok, "units": job.units,
                      "cycle": cycle, "traced": tr.enabled}
            if tr.enabled and ok:
                sample["layers"] = collect_job(ctx, tr, root, df, wall)
            samples.append(sample)
        samples[-1]["cycle_wall"] = time.perf_counter() - c0
        cycle += 1
        # three cycles at least, so that the median cycle is never the
        # first one, which runs while the JIT is still compiling
        if time.perf_counter() >= deadline and cycle >= MIN_CYCLES:
            break
    ctx.tracer = null
    return samples, time.perf_counter() - t0


def correctness(ctx, wl) -> dict:
    import duckdb

    from perfbench import gen
    from perfbench.workloads import check_oracle

    con = duckdb.connect()
    for t in gen.TABLES[wl.name]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{ctx.data_dir}/{t}.parquet'")
    out = {}
    try:
        out.update(check_oracle(ctx, con, wl))
        if wl.check is not None:
            out.update(wl.check(ctx, con))
    except Exception:  # noqa: BLE001 - reported as a failed check
        out["_error"] = (False, traceback.format_exc())
    con.close()
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    # on SIGTERM, unwind through the finally below: stop the JVM, clean up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.perf_counter()
    phases: dict[str, float] = {}

    def phase(name: str) -> None:
        phases[name] = time.perf_counter() - t_start - sum(phases.values())

    # import everything the run needs before starting anything: a
    # checkout without the package fails here, printing no result
    from perfbench import harness, stats
    from perfbench.workloads import workloads

    import __spark_entry__  # noqa: F401
    import openeo_processes_dask_ml_spark  # noqa: F401

    saved_path = list(sys.path)
    import tools.driver_sim  # noqa: F401 - prepends its own repo path

    sys.path[:] = saved_path

    wls = workloads()
    phase("imports")
    if args.workload not in wls:
        log(f"unknown workload {args.workload!r}; known: {sorted(wls)}")
        return 2
    wl = wls[args.workload]
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{wl.name}-{args.seed}-{os.getpid()}")
    data_dir = os.path.join(work, "data")
    harness.prepare_env(ROOT, os.path.join(work, "tmp"))

    spark = None
    try:
        setups = []
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            secs, ctx, record = setup_once(args, wl, work, data_dir)
            spark = ctx.spark
            setups.append(secs)
            log(f"setup {rep + 1}/{SETUP_REPS}: {secs:.3f} s")
        phase("setup")
        # the correctness pass is also the other job types' first (cold)
        # run, outside setup_s and before the loop. Jobs still get faster
        # for a few cycles after it while the JIT compiles; the loop's
        # medians leave its first, slowest cycle out.
        checks = correctness(ctx, wl)
        phase("correctness")

        cpu0 = harness.cpu_times()
        if args.trace:
            from perfbench.layers import layer_metrics
            from perfbench.trace import SparkStatus, Tracer

            tracer = Tracer(spark.sparkContext)
            ctx.state["status"] = SparkStatus(spark)
            ctx.state["status"].new_sql_executions()  # skip set-up's executions
            samples, loop_wall = closed_loop(ctx, wl, args.seconds, tracer)
        else:
            samples, loop_wall = closed_loop(ctx, wl, args.seconds)
        phase("loop")
        cpu1 = harness.cpu_times()
        rss = harness.vm_hwm_mb(harness.jvm_pid(spark)) + harness.vm_hwm_mb(os.getpid())
        for name, (ok, detail) in sorted(checks.items()):
            log(f"check {name}: {detail.strip().splitlines()[-1] if not ok else detail}")
        bad = {n for n, (ok, _) in checks.items() if not ok}
        for s in samples:
            if s["job"] in bad or "_error" in bad:
                s["ok"] = False

        attempted = len(samples)
        failed = sum(not s["ok"] for s in samples)
        # untraced cycles only, so a traced run's record means the same
        timed = [s for s in samples if not s["traced"]]
        walls = [s["wall"] for s in timed]
        # throughput at the median cycle: every cycle does the same work,
        # and a median is not moved by a few cycles another tenant slowed
        cycle_wall = median(s["cycle_wall"] for s in timed if "cycle_wall" in s)
        values = {
            "setup_s": median(setups),
            "job_p50_s": median(walls),
            "jobs_per_s": len(wl.jobs) / cycle_wall,
            "rows_per_s": sum(j.units for j in wl.jobs) / cycle_wall,
            "peak_rss_mb": rss,
        }
        e2e = {k: (values[k], u) for k, u in E2E_UNITS.items()}
        extra = {
            "failed_frac": failed / attempted,
            # a run on a busy host reads slow throughout; this says so
            "loop_steal_frac": (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1]),
            "samples": len(walls),
            "job_walls_s": [(s["job"], s["wall"]) for s in timed],
            "setup_reps_s": setups,
            "loop_wall_s": loop_wall,
            "unit": wl.unit,
            "inputs": record,
            "checks": {n: d.strip().splitlines()[-1] for n, (_, d) in checks.items()},
            "job_p50_by_type_s": {
                j.name: median([s["wall"] for s in timed if s["job"] == j.name])
                for j in wl.jobs
            },
        }
        tail = stats.highest_reportable(len(walls))
        if tail is not None:
            extra[f"job_p{tail:g}_s"] = stats.percentile(walls, tail)
        if args.trace:
            per_layer, recon = layer_metrics(ctx, wl, samples)
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
            extra["reconcile"] = recon
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            spans_path = os.path.join(base, "traces", f"{wl.name}-seed{args.seed}.jsonl")
            tracer.dump(spans_path)
            extra["spans"] = os.path.relpath(spans_path, ROOT)
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    finally:
        try:
            if spark is not None:
                harness.shutdown(spark)
                phase("shutdown")
        finally:
            shutil.rmtree(work, ignore_errors=True)

    for name, (v, unit) in e2e.items():
        log(f"{wl.name:16s} {name:14s} {v:14.6f} {unit}")
    log(f"{wl.name:16s} {'failed_frac':14s} {extra['failed_frac']:14.6f} ratio")
    log(f"{wl.name:16s} {'loop_steal_frac':14s} {extra['loop_steal_frac']:14.6f} ratio")
    log(f"{wl.name:16s} phases " + " ".join(f"{k}={v:.1f}s" for k, v in phases.items()))
    if "reconcile" in extra:
        log(f"{wl.name:16s} reconcile {json.dumps(extra['reconcile'])}")
    extra["phases_s"] = phases
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    result = {
        "correct": not bad and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    with open(os.path.join(base, "results", f"{wl.name}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({**result, "end_to_end": e2e, "extra": extra}, f, indent=1, default=str)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
