"""Batched model inference over a long-form cube — the engine core.

The reference's ``run_model`` is a 12-stage plan: validate, select
bands, scale, cast, transpose, tile, pick batch size, rechunk so one
chunk = one batch, spill every batch to ``.npy``, run the model in a
subprocess barrier, reload, reassemble coordinates (reference:
data_model/data_model.py:1024-1167). The Spark re-expression deletes
the spill/barrier entirely:

  select/scale/cast  ->  Catalyst projections (codegen-fused)
  tiling             ->  tile-key columns = floor(coord_index / T),
                         remainder rows dropped by a WHERE
                         (data_model.py:393-424 semantics)
  oversized axes     ->  tile-aligned axis chunks, one tile plan per
                         chunk combination, unioned (the reference's
                         get_index_subsets walk)
  1 chunk = 1 batch  ->  groupBy(tile/batch keys) + applyInPandas
  .npy + subprocess  ->  executor-local model singleton, Arrow batches
  reassembly         ->  the UDF emits output rows with regenerated
                         coordinates; union of rows IS the cube
                         (no combine_by_coords step)

All-NaN batches skip prediction and emit missing values, matching
data_model.py:899-901, 997-1006 (the reference's NaN sentinel surfaces
as SQL NULL through the Arrow boundary — Spark's missing marker).

``run_model_tiled`` is one straight path for every cube: one capped
scan of the tiled axes, each axis turned into a list of chunks (a
single chunk unless it exceeds ``max_axis_elements``), the band
selection, scaling and cast built once, then one tile plan per chunk
combination. With no oversized axis that is exactly one plan — no
filter, no union.

Scale shape: the only shuffle is the groupBy on tile keys — one row per
cell moves once; the model runs streamwise per partition; grid
coordinate arrays (driver-held) are raster-resolution-sized (at most
``max_axis_elements`` per axis chunk), not data-sized.
"""

from __future__ import annotations

import functools
import itertools
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from openeo_processes_dask_ml_spark.cube import CubeFrame
from openeo_processes_dask_ml_spark.scale.tuning import local_rows_df
from openeo_processes_dask_ml_spark.mlm.descriptor import MLModelDescriptor, validate_cube
from openeo_processes_dask_ml_spark.utils.scaling import apply_scaling

BATCH_DIM_NAMES = ("batch", "batches")
FALLBACK_BATCH_SIZE = 12  # reference data_model.py:505


def get_batch_size(descriptor: MLModelDescriptor) -> int:
    """The reference's decision table (data_model.py:493-536):
    no batch dim -> 1 (or the suggestion); batch shape -1 -> suggestion
    or fallback 12; fixed batch shape -> that shape."""
    dims = [d.lower() for d in descriptor.input.dim_order]
    suggestion = descriptor.batch_size_suggestion
    batch_idx = next((i for i, d in enumerate(dims) if d in BATCH_DIM_NAMES), None)
    if batch_idx is None:
        return suggestion if suggestion else 1
    shape = (
        descriptor.input.shape[batch_idx]
        if batch_idx < len(descriptor.input.shape)
        else -1
    )
    if shape == -1:
        return suggestion if suggestion else FALLBACK_BATCH_SIZE
    return shape


def tile_count(n_cells: int, tile: int) -> int:
    """Full tiles only — the remainder is dropped
    (data_model.py:418-422)."""
    return n_cells // tile


def _axis_kind(df: DataFrame, col: str) -> str | None:
    """'ts' / 'date' for temporal axis columns, None otherwise —
    derived from the schema, not the values, so every chunk of an axis
    gets the same kind."""
    dt = df.schema[col].dataType
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "ts"
    return None


def _axis_array(vals, kind: str | None) -> np.ndarray:
    """Coordinate array for one collected axis. Spark collects
    timestamp/date values as python datetime/date objects, which
    numpy keeps as dtype=object — but regenerate_coords' datetime
    branch (and every timedelta computation) needs real datetime64
    arrays, so temporal axes are normalized here. Without this, a
    model that RESIZES a temporal dim fell through to the string
    fallback and emitted strings into a timestamp column."""
    if kind is not None:
        try:
            return np.array(vals, dtype="datetime64[ns]")
        except (ValueError, TypeError):  # tz-aware edge: keep objects
            return np.array(vals)
    return np.array(vals)


def _py_scalar(v, kind: str | None):
    """A numpy coordinate back to the python scalar Spark literals
    expect. datetime64[ns].item() is an INTEGER (nanoseconds) — it
    must go through [us]/[D] first to round-trip as datetime/date."""
    if isinstance(v, np.datetime64):
        unit = "D" if kind == "date" else "us"
        return v.astype(f"datetime64[{unit}]").item()
    return v.item() if hasattr(v, "item") else v


def regenerate_coords(
    in_coords: np.ndarray,
    out_len: int,
    next_coord=None,
    coord_width=None,
    full_axis=None,
):
    """Output coordinates for one dim of one tile (reference
    resolve_batch, data_model.py:779-855):

    same length      -> copy input coords                  (:799-802)
    numeric          -> cell-center linspace: the tile's pixel extent
                        runs from first-width/2 to last+width/2, the
                        out_len new cells split it evenly, and coords
                        sit at the new cell centers            (:812-820)
    datetime64       -> epoch-int linspace from the tile start up to
                        (exclusive) the NEXT coordinate after the tile
                        (endpoint=False); without a next coordinate the
                        extent extrapolates by the mean spacing  (:822-844)
    string/other     -> 'l1.l2.l3-i' join + counter        (:846-853)
    empty input      -> 0..n-1                  (reference missing-coords)

    ``coord_width`` is the input cell width (defaults to the tile's
    first spacing); ``next_coord`` is the first coordinate after the
    tile on the full axis, when one exists. ``full_axis`` is the whole
    dimension's coordinate array: the datetime mean-spacing fallback
    uses it (reference data_model.py:834 computes the mean over
    coords_for_dim, i.e. the FULL axis) so irregular axes and size-1
    last tiles match the reference goldens.
    """
    in_coords = np.asarray(in_coords)
    if in_coords.size == out_len:
        return in_coords
    if in_coords.size == 0:
        return np.arange(out_len)
    if np.issubdtype(in_coords.dtype, np.datetime64):
        start = in_coords[0].astype("datetime64[ns]").astype(np.int64)
        axis = np.asarray(full_axis) if full_axis is not None else in_coords
        if next_coord is not None:
            end = np.datetime64(next_coord, "ns").astype(np.int64)
        elif coord_width is not None:
            # a chunk of an oversized axis passes the GLOBAL mean
            # spacing — its full_axis is chunk-local, whose mean differs
            # on irregular axes, and chunking may change which tiles
            # share a batch but never values
            end = (
                (in_coords[-1] + np.timedelta64(coord_width))
                .astype("datetime64[ns]")
                .astype(np.int64)
            )
        elif axis.size > 1:
            mean_diff = np.mean(axis[1:] - axis[:-1])
            end = (in_coords[-1] + mean_diff).astype("datetime64[ns]").astype(np.int64)
        else:
            end = start + 1
        out = np.linspace(start, end, out_len, endpoint=False, dtype=np.int64)
        return out.astype("datetime64[ns]")
    if np.issubdtype(in_coords.dtype, np.number):
        if coord_width is None:
            coord_width = (
                in_coords[1] - in_coords[0] if in_coords.size > 1 else 1.0
            )
        image_start = in_coords[0] - coord_width / 2
        image_end = in_coords[-1] + coord_width / 2
        new_width = (image_end - image_start) / out_len
        return np.linspace(
            image_start + new_width / 2, image_end - new_width / 2, out_len
        )
    joined = ".".join(str(c) for c in in_coords)
    return np.array([f"{joined}-{i}" for i in range(out_len)])


def collapse_coords(in_coords: np.ndarray):
    """Coordinate for a dim fully consumed by the model: spatial/numeric
    -> tile center (mean, data_model.py:872-878); other -> first
    (:879-882)."""
    in_coords = np.asarray(in_coords)
    if in_coords.size and np.issubdtype(in_coords.dtype, np.number):
        return float(in_coords.mean())
    return in_coords[0] if in_coords.size else None


@dataclass
class _TiledDim:
    """One non-band model dim resolved against the cube, restricted to
    one chunk of its axis (the whole axis unless it exceeds the cap)."""

    model_dim: str
    cube_col: str
    tile: int  # model input size on this dim (-1 resolved to the full extent)
    coords: np.ndarray  # the chunk's sorted coordinates (raster-resolution-sized)
    next_after: object | None = None  # first coord AFTER the chunk, so the
    # chunk's last tile still sees its true successor for datetime
    # coordinate regeneration
    width: object | None = None  # the axis' GLOBAL cell width: a chunk
    # must not derive it from its own first spacing on irregular axes


def _collect_axis_chunks(
    df, col: str, chunk_len: int, kind: str | None = None
) -> list[tuple]:
    """Collect an oversized coordinate axis in sorted, bounded chunks
    of ``chunk_len`` values — plus ONE lookahead value per chunk (the
    next chunk's first coordinate), which chunked tiling needs for
    exact datetime coordinate regeneration at chunk boundaries. Each
    round is one capped aggregation (slice-inside-agg, the axis-cap
    discipline: at most chunk_len+1 values ever reach the driver) over
    rows strictly above the previous boundary, so driver memory stays
    O(chunk_len) no matter how long the axis is. K = ceil(axis/chunk)
    scans — the price of not holding the axis; each chunk's plan scans
    its slice again anyway."""
    chunks: list[tuple] = []
    last = None
    while True:
        src = df if last is None else df.filter(F.col(col) > F.lit(last))
        vals = src.agg(
            F.slice(
                F.sort_array(F.collect_set(col)), 1, chunk_len + 1
            ).alias("a")
        ).collect()[0]["a"]
        if not vals:
            return chunks
        if len(vals) > chunk_len:
            chunks.append((_axis_array(vals[:chunk_len], kind), vals[chunk_len]))
            last = vals[chunk_len - 1]
        else:
            chunks.append((_axis_array(vals, kind), None))
            return chunks


def run_model_tiled(
    cube: CubeFrame,
    descriptor: MLModelDescriptor,
    predict_fn: Callable[[np.ndarray], np.ndarray],
    out_value_col: str = "value",
    max_axis_elements: int = 10_000_000,
) -> DataFrame:
    """Apply ``predict_fn`` (batch tensor in model dim_order ->
    output tensor in output dim_order) over the cube, tiled to the
    model's input shape.

    ``predict_fn`` must be picklable; heavyweight models should lazily
    load an executor-local singleton inside it (the Spark analog of the
    reference's per-subprocess torch.jit.load).

    MLM pre/post-processing expressions (reference
    run_pytorch_model.py:18-37: pre-expr -> no_grad forward ->
    post-expr) wrap ``predict_fn`` inside the UDF, resolved through the
    allowlisted importlib dispatch.

    One path serves every cube:

    1. one capped aggregation collects every tiled axis (and the band
       universe when ``cube.attrs`` has no ``band_labels`` hint);
    2. each tiled axis becomes a list of ``(coords, next_after, width)``
       chunks. An axis within ``max_axis_elements`` is one chunk; a
       longer one is walked in chunks whose boundaries are MULTIPLES OF
       THE TILE SIZE in global index space — the reference's
       ``get_index_subsets`` walk (data_model.py:393-424) — so every
       chunk's tiles are global tiles and only the global trailing
       remainder is dropped. Each chunk carries its successor
       coordinate and the axis' global cell width, so regenerated
       coordinates equal the whole-axis ones. Axes the model consumes
       whole (shape -1) and the band universe cannot be chunked and
       raise with guidance;
    3. validation (against global axis sizes), derived bands, band
       selection, scaling and the cast run once on the whole cube;
    4. each chunk combination gets one tile plan — broadcast index
       join, tile and batch keys, ``applyInPandas`` — and the plans are
       unioned. With every axis in one chunk that is a single plan.

    Chunking changes only which tiles share a model batch (batches
    never span chunks), never the values."""
    from openeo_processes_dask_ml_spark.utils.dim_utils import resolve_dim

    pre = descriptor.input.pre_processing_function
    post = descriptor.output.post_processing_function
    if pre or post:
        inner = predict_fn
        pre_fmt, pre_expr = (pre.format, pre.expression) if pre else (None, None)
        post_fmt, post_expr = (post.format, post.expression) if post else (None, None)

        def predict_fn(batch: np.ndarray) -> np.ndarray:  # noqa: F811
            from openeo_processes_dask_ml_spark.utils.proc_expression import (
                run_process_expression,
            )

            if pre_expr:
                batch = np.asarray(run_process_expression(pre_fmt, pre_expr, batch))
            out = inner(batch)
            if post_expr:
                out = np.asarray(run_process_expression(post_fmt, post_expr, out))
            return out

    inp, outp = descriptor.input, descriptor.output
    band_col = cube.dims.get("bands")
    model_bands = [b.name for b in inp.bands]

    # --- resolve model dims against the cube --------------------------
    band_axis_dim: str | None = None
    resolved: list[tuple[str, int, str, str]] = []  # (dim, size, role, col)
    for d, s in zip(inp.dim_order, inp.shape):
        if d.lower() in BATCH_DIM_NAMES:
            continue
        role = resolve_dim(d, cube.dims.keys())
        if role == "bands" or (role is None and d.lower() in ("band", "bands", "channel")):
            band_axis_dim = d
            continue
        if role is None:
            raise ValueError(f"model dim {d!r} not found in cube dims {cube.dims}")
        resolved.append((d, s, role, cube.dims[role]))

    # --- one scan: every tiled axis + the band universe ---------------
    # ONE aggregation pass collects every coordinate axis — a per-dim
    # distinct().collect() would evaluate the cube once PER dim, which
    # on a decoded raster cube means one full decode fan-out per axis.
    # The cap sits INSIDE the aggregation: sort_array + slice run
    # executor-side on the single final agg row, so the driver sees at
    # most max_axis_elements + 1 values per axis. Axes are bounded by
    # axis length, not data volume, but a planetary 10 m grid axis is
    # millions of doubles; past the default cap (1e7 ~ 80 MB/axis) an
    # axis is walked in chunks instead.
    band_hint = cube.attrs.get("band_labels") if band_col else None
    tile_of = {col: s for _, s, _, col in resolved}
    scan_cols = list(tile_of)
    if model_bands and band_col and band_hint is None and band_col not in tile_of:
        scan_cols.append(band_col)
    axes_row = (
        cube.df.agg(
            *[
                F.slice(
                    F.sort_array(F.collect_set(c)), 1, max_axis_elements + 1
                ).alias(c)
                for c in scan_cols
            ]
        ).collect()[0]
        if scan_cols
        else {}
    )
    over = [c for c in scan_cols if len(axes_row[c]) > max_axis_elements]
    for c in over:
        if tile_of.get(c, -1) == -1:
            raise ValueError(
                f"cube axis {c!r} exceeds max_axis_elements="
                f"{max_axis_elements} and cannot be chunked (band universe "
                "/ full-extent model dim); tile the request yourself or "
                "raise the cap explicitly"
            )

    # --- each tiled axis -> [(coords, next_after, width)] chunks -------
    kind_of = {c: _axis_kind(cube.df, c) for c in tile_of}
    chunks_of: dict[str, list[tuple]] = {}
    size_of: dict[str, int] = {}
    for c, tile in tile_of.items():
        if c not in over:
            coords = _axis_array(axes_row[c], kind_of[c])
            chunks_of[c], size_of[c] = [(coords, None, None)], coords.size
            continue
        walk = _collect_axis_chunks(
            cube.df, c, max(tile, (max_axis_elements // tile) * tile), kind_of[c]
        )
        size_of[c] = sum(len(coords) for coords, _ in walk)
        # the GLOBAL cell width (numeric: the axis' first spacing;
        # datetime: the full-axis MEAN spacing, which telescopes to
        # (last-first)/(n-1) so it never needs the whole axis in driver
        # memory). Chunk-local spacings differ on irregular axes and
        # would shift regenerated coordinates vs the whole-axis run.
        g0 = walk[0][0]
        width = None
        if np.issubdtype(g0.dtype, np.number):
            if g0.size > 1:
                width = g0[1] - g0[0]
        elif np.issubdtype(g0.dtype, np.datetime64) and size_of[c] > 1:
            span = (walk[-1][0][-1] - g0[0]).astype("timedelta64[ns]")
            # positive-span floor division == np.mean's
            # float-then-truncate over the diffs
            width = span // (size_of[c] - 1)
        # a trailing chunk shorter than one tile holds only the global
        # remainder and is dropped, as global tiling drops it. An axis
        # shorter than one tile keeps its single chunk so it behaves as
        # an unchunked one (validate_cube's size error, or no full tile)
        # instead of silently planning nothing.
        chunks_of[c] = [
            (coords, nxt, width) for coords, nxt in walk if len(coords) >= tile
        ] or [(*walk[0], width)]

    if model_bands and band_col:
        cube_bands = list(band_hint if band_hint is not None else axes_row[band_col])
        band_map = validate_cube(
            descriptor,
            list(cube.dims.keys()),
            {role: size_of[col] for _, _, role, col in resolved},
            cube_bands,
        )
        ordered_band_labels = [band_map[b] for b in model_bands]
    else:
        ordered_band_labels = []

    # --- derived bands (ModelBand.expression) materialize first ------
    df = cube.df
    if model_bands and band_col:
        from openeo_processes_dask_ml_spark.mlm.band_expr import (
            append_derived_bands,
        )
        from openeo_processes_dask_ml_spark.mlm.descriptor import (
            derived_bands_to_compute,
        )

        to_compute = derived_bands_to_compute(inp.bands, cube_bands)
        if to_compute:
            others = [v for v in cube.dims.values() if v != band_col]
            df = append_derived_bands(
                df, band_col, others, cube.value_col, to_compute, cube_bands
            )

    # --- stages 3-5: select bands, scale, cast (pure projections) -----
    if ordered_band_labels:
        df = df.filter(F.col(band_col).isin(ordered_band_labels))
    if inp.value_scaling:
        df = df.withColumn(
            cube.value_col, apply_scaling(F.col(cube.value_col), inp.value_scaling)
        )
    df = df.withColumn(cube.value_col, F.col(cube.value_col).cast("double"))

    # --- output schema (the same for every chunk combination) ---------
    passthrough = [
        v for v in cube.dims.values() if v not in tile_of and v != band_col
    ]
    out_dims = [d for d in outp.dim_order if d.lower() not in BATCH_DIM_NAMES]
    out_shape = [
        s
        for d, s in zip(outp.dim_order, outp.shape)
        if d.lower() not in BATCH_DIM_NAMES
    ]
    col_of_dim = {d: col for d, _, _, col in resolved}
    fields = [df.schema[c] for c in passthrough]
    out_cols: list[str] = []
    for d in out_dims:
        if d == band_axis_dim or d.lower() in ("band", "bands", "channel", "channels"):
            col_name = band_col or "band"
            fields.append(T.StructField(col_name, T.StringType()))
        elif d in col_of_dim:
            col_name = col_of_dim[d]
            fields.append(df.schema[col_name])
        else:
            col_name = d
            fields.append(T.StructField(col_name, T.DoubleType()))
        out_cols.append(col_name)
    # dims consumed by the model but absent from the output collapse to
    # a single coordinate column: numeric -> tile-center mean (double);
    # datetime/string -> first coord (keep the input column's type)
    for d, col in col_of_dim.items():
        if d in out_dims:
            continue
        coords = chunks_of[col][0][0]
        if coords.size and np.issubdtype(coords.dtype, np.number):
            fields.append(T.StructField(col, T.DoubleType()))
        else:
            fields.append(df.schema[col])
    fields.append(T.StructField(out_value_col, T.DoubleType()))
    out_schema = T.StructType(fields)
    cols = list(out_schema.fieldNames())

    batch_size = get_batch_size(descriptor)
    model_dtype = inp.data_type
    dim_order = [d for d in inp.dim_order if d.lower() not in BATCH_DIM_NAMES]
    value_col = cube.value_col
    n_bands = len(ordered_band_labels)
    band_pos = {b: i for i, b in enumerate(ordered_band_labels)}
    spark = df.sparkSession

    def tile_plan(tiled: list[_TiledDim]) -> DataFrame:
        """Stage 7 onwards for one chunk combination: tile keys (the
        remainder dropped), batch keys, then the model UDF."""
        plan = df
        # coord -> index via a broadcast join against a tiny index table
        # (raster-resolution-sized). A create_map literal would inline
        # the whole coordinate axis into the serialized plan — fatal for
        # a 100k-coordinate dim; the broadcast table costs the same one
        # driver round-trip but keeps the plan O(1).
        n_tiles: dict[str, int] = {}
        for td in tiled:
            c = td.cube_col
            if c in over:
                # the index join alone keeps only the chunk's rows; the
                # range filter lets the scan skip the rest
                lo, hi = (
                    _py_scalar(v, kind_of[c])
                    for v in (td.coords.flat[0], td.coords.flat[-1])
                )
                plan = plan.filter((F.col(c) >= F.lit(lo)) & (F.col(c) <= F.lit(hi)))
            full = tile_count(td.coords.size, td.tile)
            n_tiles[c] = full
            # datetime64[ns].tolist() yields raw int nanoseconds — convert
            # temporal axes back to the python objects Spark rows accept
            # (µs for timestamps — Spark's native precision — days for dates)
            coord_vals = td.coords
            if np.issubdtype(coord_vals.dtype, np.datetime64):
                unit = "D" if kind_of[c] == "date" else "us"
                coord_vals = coord_vals.astype(f"datetime64[{unit}]")
            idx_df = local_rows_df(
                spark,
                [(v, i) for i, v in enumerate(coord_vals.tolist())],
                f"`{c}` {df.schema[c].dataType.simpleString()}, `__idx_{c}` long",
            )
            plan = plan.join(F.broadcast(idx_df), c, "inner").filter(
                F.col(f"__idx_{c}") < full * td.tile
            )
            plan = plan.withColumn(
                f"__tile_{c}", (F.col(f"__idx_{c}") / td.tile).cast("long")
            )

        # linear tile id -> batch id groups `batch_size` tiles per model call
        linear = F.lit(0)
        for td in tiled:
            linear = linear * n_tiles[td.cube_col] + F.col(f"__tile_{td.cube_col}")
        plan = plan.withColumn("__batch_id", (linear / batch_size).cast("long"))

        in_dim_names = {td.model_dim: td for td in tiled}
        tiled_cols = [td.cube_col for td in tiled]
        collapsed = [td for td in tiled if td.model_dim not in out_dims]
        axis_len = {
            d: n_bands if d == band_axis_dim else in_dim_names[d].tile
            for d in dim_order
        }
        tile_shape = tuple(axis_len[d] for d in dim_order)

        def infer(pdf: pd.DataFrame) -> pd.DataFrame:
            # scatter every row into ONE (n_tiles, *tile_shape) NaN batch
            # in model dim order; tile ordinals follow sorted tile keys
            tile_keys = pdf[[f"__tile_{c}" for c in tiled_cols]].to_numpy(
                dtype=np.int64
            )
            tids, ordinal = np.unique(tile_keys, axis=0, return_inverse=True)
            index = [ordinal.reshape(-1)]
            for d in dim_order:
                if d == band_axis_dim:
                    index.append(pdf[band_col].map(band_pos).to_numpy(dtype=np.int64))
                else:
                    td = in_dim_names[d]
                    k = tiled_cols.index(td.cube_col)
                    index.append(
                        pdf[f"__idx_{td.cube_col}"].to_numpy(dtype=np.int64)
                        - tile_keys[:, k] * td.tile
                    )
            batch = np.full((len(tids), *tile_shape), np.nan)
            batch[tuple(index)] = pdf[value_col].to_numpy(dtype=np.float64)

            if np.isnan(batch).all():
                # sparsity skip: no model call (data_model.py:899-901)
                out_tile_shape = [
                    s if s != -1 else axis_len.get(d, 1)
                    for d, s in zip(out_dims, out_shape)
                ]
                out = np.full((batch.shape[0], *out_tile_shape), np.nan)
            else:
                # stage 5: the model sees its declared input dtype
                # (reference preprocess_datacube, data_model.py:1248) —
                # int8/uint8/float16 models must not get float64 tensors.
                # Applied after the NaN sparsity check (integer casts
                # destroy NaN markers).
                if model_dtype not in (None, "float64", "double"):
                    batch = batch.astype(model_dtype)
                out = np.asarray(predict_fn(batch), dtype=np.float64)
                if out.ndim == len(out_dims):  # model dropped the batch axis
                    out = out[None, ...]

            # vectorized emission: flat numpy columns per tile (meshgrid
            # ravel), concatenated into ONE DataFrame per batch — never
            # per-cell Python dicts; a 224x224x24 output tile is ~1.2M
            # cells per batch.
            mesh_parts: list[list[np.ndarray]] = [[] for _ in out_cols]
            collapsed_vals: dict[str, list] = {td.cube_col: [] for td in collapsed}
            for tid in tids:
                coords_per_axis = []
                for ax, d in enumerate(out_dims):
                    n_out = out.shape[1 + ax]
                    full_axis = None
                    if d == band_axis_dim or d.lower() in (
                        "band", "bands", "channel", "channels",
                    ):
                        in_c = np.array(ordered_band_labels)
                        nxt, width = None, None
                    elif d in in_dim_names:
                        td = in_dim_names[d]
                        t = tid[tiled_cols.index(td.cube_col)]
                        full_axis = td.coords
                        end = (t + 1) * td.tile
                        in_c = full_axis[t * td.tile : end]
                        # past the chunk's end: the chunk lookahead
                        nxt = full_axis[end] if end < full_axis.size else td.next_after
                        # numeric default: the axis' first spacing.
                        # Datetime axes get NO default — their branch uses
                        # the full-axis MEAN spacing (reference
                        # data_model.py:834) unless the chunk carries the
                        # global mean as its width.
                        width = td.width
                        if (
                            width is None
                            and full_axis.size > 1
                            and np.issubdtype(full_axis.dtype, np.number)
                        ):
                            width = full_axis[1] - full_axis[0]
                    else:
                        in_c = np.array([])
                        nxt, width = None, None
                    regen = regenerate_coords(
                        in_c, n_out, next_coord=nxt, coord_width=width,
                        full_axis=full_axis,
                    )
                    # Temporal columns: regeneration works in
                    # datetime64[ns] but the engine types are coarser —
                    # truncate to µs (TimestampType's native precision;
                    # the safe Arrow cast rejects sub-µs remainders) or
                    # to days for DateType (as date objects — a date
                    # column holds nothing finer).
                    if d in in_dim_names and np.issubdtype(
                        np.asarray(regen).dtype, np.datetime64
                    ):
                        kind = kind_of[in_dim_names[d].cube_col]
                        if kind == "date":
                            regen = regen.astype("datetime64[D]").astype(object)
                        elif kind == "ts":
                            regen = regen.astype("datetime64[us]")
                    coords_per_axis.append(regen)
                mesh = np.meshgrid(*coords_per_axis, indexing="ij")
                for parts, m in zip(mesh_parts, mesh):
                    parts.append(m.ravel())
                for td in collapsed:
                    t = tid[tiled_cols.index(td.cube_col)]
                    cval = collapse_coords(td.coords[t * td.tile : (t + 1) * td.tile])
                    if isinstance(cval, np.datetime64):
                        cval = _py_scalar(cval, kind_of[td.cube_col])
                    collapsed_vals[td.cube_col].append(cval)
            cells = int(np.prod(out.shape[1:]))
            data = {c: np.concatenate(p) for c, p in zip(out_cols, mesh_parts)}
            data[out_value_col] = out.reshape(-1)
            frame = pd.DataFrame(data)
            for c in passthrough:
                frame[c] = pdf[c].iloc[0]
            for c, vals in collapsed_vals.items():
                frame[c] = np.repeat(pd.Series(vals).to_numpy(), cells)
            return frame.reindex(columns=cols)

        keys = passthrough + ["__batch_id"]
        return plan.groupBy(*keys).applyInPandas(
            lambda key, pdf: infer(pdf), schema=out_schema
        )

    # --- one tile plan per chunk combination, unioned -----------------
    plans = []
    for combo in itertools.product(*chunks_of.values()):
        chunk_of = dict(zip(chunks_of, combo))
        tiled = [
            _TiledDim(d, col, s if s != -1 else size_of[col], *chunk_of[col])
            for d, s, _, col in resolved
        ]
        plans.append(tile_plan(tiled))
    return functools.reduce(DataFrame.unionByName, plans)


def sklearn_fast_path(
    df: DataFrame,
    feature_col: str,
    predict_fn: Callable[[np.ndarray], np.ndarray],
    out_col: str = "prediction",
) -> DataFrame:
    """The reference's 1-value-out fast path
    (scikit_learn_model.py:71-132): reshape each Arrow batch to
    (n_samples, n_features) and call predict — here a single
    ``mapInPandas`` stage, no tiling machinery."""
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.DoubleType())]
    )

    def run(batches):
        for pdf in batches:
            feats = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[feature_col]]
            )
            out = np.asarray(predict_fn(feats), dtype=np.float64).reshape(-1)
            res = pdf.copy()
            res[out_col] = out
            yield res

    return df.mapInPandas(run, schema=schema)
