"""The two closed-loop workloads: job builders and correctness passes.

A job is "build the DataFrame + materialise it to the noop sink".
Builders call the package's public entry points directly and open a
span around each call, named after the layer it enters. The graph
dicts and output projections mirror the matching ``__spark_entry__``
queries, so the DuckDB twins in ``oracle_sql()`` check the same rows.
"""

from __future__ import annotations

import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench import gen

@dataclass
class Ctx:
    spark: object
    data_dir: str
    seed: int
    tracer: object
    state: dict = field(default_factory=dict)
    job: "Job | None" = None  # the job being run


@dataclass
class Job:
    name: str
    units: int  # input rows per job: events, documents or cube cells
    build: Callable[[Ctx], DataFrame]
    batches: int = 0  # model batches the harness forms per job


class NullTracer:
    """Untraced runs: a span is a no-op context."""

    enabled = False
    job = -1

    def span(self, name, layer):
        return nullcontext()


def _graph(ctx: Ctx, graph: dict):
    from openeo_processes_dask_ml_spark.graph import execute_graph

    tr = ctx.tracer
    with tr.span("execute_graph", "graph"):
        reg = _traced_registry(tr) if tr.enabled else None
        return execute_graph(graph, ctx.spark, ctx.data_dir, registry=reg)


def _traced_registry(tr):
    """The default registry with a span around every process, so loads,
    writes and cube operators inside a graph are timed from outside."""
    from openeo_processes_dask_ml_spark.graph.registry import default_registry

    reg = default_registry()
    for pid in reg.process_ids():
        reg.register(pid, _spanned(tr, pid, reg.get(pid)))
    return reg


def _spanned(tr, pid: str, impl):
    # the graphs here load through load_collection; every other process
    # they run is cube algebra
    layer = "io" if pid == "load_collection" else "cube"

    def run(args, ctx):
        with tr.span(pid, layer):
            return impl(args, ctx)

    return run


# ---------------------------------------------------------------- floor_jobs


def _dround(col, k):
    from openeo_processes_dask_ml_spark.utils.rounding import dround

    return dround(col, k)


def build_process_graph(ctx: Ctx) -> DataFrame:
    import __spark_entry__ as entry

    cube = _graph(ctx, entry.FLAGSHIP_GRAPH)
    return cube.df.select(
        "user_id", F.to_date("ts").alias("week"), _dround("value", 6).alias("value")
    )


# inline in __spark_entry__.q_graph_zonal; restated here so the
# benchmark can time execute_graph itself
ZONAL_GRAPH = {
    "load": {
        "process_id": "load_collection",
        "arguments": {"id": "events_grid", "bands": ["click", "view"]},
    },
    "zonal": {
        "process_id": "aggregate_spatial",
        "arguments": {
            "data": {"from_node": "load"},
            "geometries": [
                (1, "POLYGON ((1.5 1.5, 6.5 1.5, 6.5 4.5, 1.5 4.5, 1.5 1.5))"),
                (2, "POLYGON ((9.5 9.5, 14.5 9.5, 14.5 12.5, 9.5 12.5, 9.5 9.5))"),
            ],
            "reducer": "mean",
        },
        "result": True,
    },
}


def build_graph_zonal(ctx: Ctx) -> DataFrame:
    cube = _graph(ctx, ZONAL_GRAPH)
    return cube.df.select(
        F.col("zone_id").cast("long").alias("zone_id"),
        "ts",
        "event_type",
        _dround("value", 6).alias("value"),
    )


def build_minhash(ctx: Ctx) -> DataFrame:
    from openeo_processes_dask_ml_spark.io.load import load_table
    from openeo_processes_dask_ml_spark.scale.dedup import minhash_lsh_pairs

    tr = ctx.tracer
    with tr.span("load_table", "io"):
        docs = load_table(ctx.spark, ctx.data_dir, "documents")
    with tr.span("minhash_lsh_pairs", "scale"):
        return minhash_lsh_pairs(docs, num_hashes=24, bands=8, threshold=0.2)


# ----------------------------------------------------------- tiled_inference

MODEL_W = np.array([0.5, -0.25, 0.125])


def model_fn(batch: np.ndarray) -> np.ndarray:
    """The benchmark's model: per-pixel, (n, 4, T, T) -> (n, T, T)."""
    b = batch
    return np.tanh(MODEL_W[0] * b[:, 0] + MODEL_W[1] * b[:, 1] + MODEL_W[2] * b[:, 2] * b[:, 3])


def make_counted_model(sc):
    """``model_fn`` plus accumulators for model time, calls and tiles.
    Accumulators belong to one SparkContext, so this runs per session."""
    secs = sc.accumulator(0.0)
    calls = sc.accumulator(0)
    tiles = sc.accumulator(0)

    def predict(batch: np.ndarray) -> np.ndarray:
        t0 = time.perf_counter()
        out = model_fn(batch)
        secs.add(time.perf_counter() - t0)
        calls.add(1)
        tiles.add(int(batch.shape[0]))
        return out

    return predict, {"model_s": secs, "model_calls": calls, "model_tiles": tiles}


def descriptor():
    from openeo_processes_dask_ml_spark.mlm.descriptor import (
        MLModelDescriptor,
        ModelInput,
        ModelOutput,
    )

    return MLModelDescriptor(
        item={"id": "perfbench-pixel-model"},
        input=ModelInput.parse(
            {
                "bands": list(gen.BANDS),
                "input": {
                    "shape": [-1, len(gen.BANDS), gen.TILE, gen.TILE],
                    "dim_order": ["batch", "bands", "x", "y"],
                    "data_type": "float64",
                },
            }
        ),
        output=ModelOutput.parse(
            {"result": {"shape": [-1, gen.TILE, gen.TILE], "dim_order": ["batch", "x", "y"]}}
        ),
        framework="numpy",
        batch_size_suggestion=gen.BATCH,
    )


def build_tiled(ctx: Ctx) -> DataFrame:
    from openeo_processes_dask_ml_spark.cube import CubeFrame
    from openeo_processes_dask_ml_spark.io.load import load_table
    from openeo_processes_dask_ml_spark.ml.inference import run_model_tiled

    tr = ctx.tracer
    with tr.span("load_table", "io"):
        df = load_table(ctx.spark, ctx.data_dir, "raster")
    with tr.span("CubeFrame", "cube"):
        cube = CubeFrame(df, {"x": "x", "y": "y", "time": "t", "bands": "band"}, "value")
    with tr.span("MLModelDescriptor", "mlm"):
        desc = descriptor()
    with tr.span("run_model_tiled", "ml"):
        return run_model_tiled(cube, desc, ctx.state["model"])


def tiled_reference(seed: int) -> np.ndarray:
    """(t, x, y) model output over full tiles; NaN where the batch is
    all-NaN (skipped) — the remainder pixels are dropped."""
    grid = gen.raster_grid(seed)
    fx = (gen.RASTER_X // gen.TILE) * gen.TILE
    fy = (gen.RASTER_Y // gen.TILE) * gen.TILE
    g = grid[:, :, :fx, :fy]
    return model_fn(g)


def check_tiled(ctx: Ctx) -> tuple[bool, str]:
    pdf = build_tiled(ctx).toPandas()
    exp = tiled_reference(ctx.seed)
    days = gen.raster_days()
    if len(pdf) != exp.size:
        return False, f"rows {len(pdf)} != {exp.size}"
    t = pdf["t"].map({d: i for i, d in enumerate(days)}).to_numpy()
    x = pdf["x"].to_numpy().astype(np.int64)
    y = pdf["y"].to_numpy().astype(np.int64)
    got = np.full(exp.shape, -7.0)
    got[t, x, y] = pdf["value"].to_numpy(dtype=np.float64, na_value=np.nan)
    if (got == -7.0).any():
        return False, "missing or duplicated output cells"
    if not np.array_equal(got, exp, equal_nan=True):
        bad = int((~((got == exp) | (np.isnan(got) & np.isnan(exp)))).sum())
        return False, f"{bad} cells differ from the numpy reference"
    return True, f"ok ({len(pdf)} cells)"


# ------------------------------------------------------------------ registry


@dataclass
class Workload:
    name: str
    unit: str
    jobs: list[Job]
    # jobs checked against the oracle_sql() twin of the same name
    oracle: tuple[str, ...] = ()
    check: Callable | None = None  # workload-specific correctness pass


def workloads() -> dict[str, Workload]:
    ev = gen.EVENT_ROWS
    cells = gen.RASTER_X * gen.RASTER_Y * gen.RASTER_T * len(gen.BANDS)
    tiles = (gen.RASTER_X // gen.TILE) * (gen.RASTER_Y // gen.TILE)
    n_batches = gen.RASTER_T * -(-tiles // gen.BATCH)
    return {
        "floor_jobs": Workload(
            "floor_jobs",
            "input rows (events, documents)",
            [
                Job("process_graph", ev, build_process_graph),
                Job("graph_zonal", ev, build_graph_zonal),
                Job("dedup_minhash_lsh", gen.N_DOCS, build_minhash),
            ],
            oracle=("process_graph", "graph_zonal", "dedup_minhash_lsh"),
        ),
        "tiled_inference": Workload(
            "tiled_inference",
            "cube cells",
            [Job("run_model_tiled", cells, build_tiled, batches=n_batches)],
            check=lambda ctx, con: {"run_model_tiled": check_tiled(ctx)},
        ),
    }


def check_oracle(ctx: Ctx, con, wl: Workload) -> dict[str, tuple[bool, str]]:
    """Each oracle-paired job's rows against its DuckDB twin, compared
    with tools/driver_sim.py's normalisation and tolerance."""
    import __spark_entry__ as entry
    from tools import driver_sim

    sql = entry.oracle_sql()
    driver_sim.SF_DIR = ctx.data_dir
    out = {}
    for job in wl.jobs:
        if job.name not in wl.oracle:
            continue
        status = driver_sim.compare(
            ctx.spark, con, job.name, lambda s, d, j=job: j.build(ctx), sql[job.name]
        )
        out[job.name] = (status.startswith("ok"), status)
    return out
