"""Inference-harness semantics vs the reference's golden tests:

- batch-size decision table (reference test_datamodel.py:352-379 /
  data_model.py:493-536)
- tiling remainder-drop (data_model.py:418-422)
- coordinate regeneration goldens (test_datamodel_resolve_batches.py):
  spatial tile centers, numeric linspace, datetime linspace epoch ints,
  missing coords 0..n-1, string label join
- end-to-end tiled run: NaN-batch skip, passthrough dims, output grid
"""

import numpy as np
import pytest

from openeo_processes_dask_ml_spark.ml.inference import (
    collapse_coords,
    get_batch_size,
    regenerate_coords,
    tile_count,
)
from openeo_processes_dask_ml_spark.mlm.descriptor import (
    MLModelDescriptor,
    ModelInput,
    ModelOutput,
)


def _descriptor(dim_order, shape, suggestion=None):
    return MLModelDescriptor(
        item={"id": "t"},
        input=ModelInput(shape=shape, dim_order=dim_order),
        output=ModelOutput(),
        framework="fake",
        batch_size_suggestion=suggestion,
    )


@pytest.mark.parametrize(
    "dim_order,shape,suggestion,expected",
    [
        # no batch dim, no suggestion -> 1
        (["x", "y"], [4, 4], None, 1),
        # no batch dim, suggestion -> suggestion
        (["x", "y"], [4, 4], 16, 16),
        # batch -1, no suggestion -> fallback 12 (data_model.py:505)
        (["batch", "x", "y"], [-1, 4, 4], None, 12),
        # batch -1 + suggestion -> suggestion
        (["batch", "x", "y"], [-1, 4, 4], 16, 16),
        # fixed batch shape wins
        (["batch", "x", "y"], [8, 4, 4], 16, 8),
        (["batch", "x", "y"], [8, 4, 4], None, 8),
    ],
)
def test_batch_size_table(dim_order, shape, suggestion, expected):
    assert get_batch_size(_descriptor(dim_order, shape, suggestion)) == expected


def test_tiling_remainder_dropped():
    # 5x5 cube, 2x2 model -> 2 tiles per dim; rows/cols 4 dropped
    assert tile_count(5, 2) == 2
    assert tile_count(4, 2) == 2
    assert tile_count(3, 4) == 0


def test_coords_same_length_copied():
    c = np.array([1.0, 2.0, 3.0])
    assert regenerate_coords(c, 3) is c


def test_coords_numeric_cell_centers():
    # reference golden (data_model.py:812-820): pixel extent is
    # first-w/2 .. last+w/2; new coords sit at the new cell centers.
    # [100..109] step 1 -> extent 99.5..109.5, 5 cells of width 2 ->
    # centers 100.5, 102.5, ..., 108.5
    c = np.linspace(100, 119, 20)[:10]  # one tile of 10, step 1
    out = regenerate_coords(c, 5)
    assert out == pytest.approx([100.5, 102.5, 104.5, 106.5, 108.5])


def test_coords_spatial_tile_center():
    # golden: linspace(100,119,20) step1, tiled by 10 -> centers 104.5/114.5
    full = np.linspace(100, 119, 20)
    assert collapse_coords(full[:10]) == pytest.approx(104.5)
    assert collapse_coords(full[10:]) == pytest.approx(114.5)


def test_coords_datetime_endpoint_false():
    # golden (data_model.py:822-844): linspace up to (exclusive) the
    # NEXT coord after the tile; 5 daily stamps -> 10 halves the step
    days = np.array(
        ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04", "2024-01-05"],
        dtype="datetime64[ns]",
    )
    nxt = np.datetime64("2024-01-06", "ns")
    out = regenerate_coords(days, 10, next_coord=nxt)
    ints = days.astype(np.int64)
    expected = np.linspace(
        ints[0], nxt.astype(np.int64), 10, endpoint=False, dtype=np.int64
    )
    assert (out.astype(np.int64) == expected).all()
    assert out[0] == days[0]
    assert out[-1] == np.datetime64("2024-01-05T12:00:00", "ns")
    # without a next coord: extrapolate extent by the mean spacing —
    # same result on a uniform grid
    out2 = regenerate_coords(days, 10)
    assert (out2.astype(np.int64) == expected).all()


def test_coords_datetime_full_axis_spacing():
    """Irregular axis: the mean-spacing fallback must use the FULL axis
    (reference data_model.py:834), not the tile's own coords — and a
    size-1 last tile must not hit the degenerate end=start+1 branch."""
    full = np.array(
        ["2024-01-01", "2024-01-02", "2024-01-04", "2024-01-08"],
        dtype="datetime64[ns]",
    )  # spacings 1d, 2d, 4d -> mean 7/3 d
    last_tile = full[3:]  # size-1 tile, no next coord
    out = regenerate_coords(last_tile, 2, full_axis=full)
    start = full[3].astype(np.int64)
    mean_diff = np.mean(full[1:] - full[:-1])
    end = (full[3] + mean_diff).astype("datetime64[ns]").astype(np.int64)
    expected = np.linspace(start, end, 2, endpoint=False, dtype=np.int64)
    assert (out.astype(np.int64) == expected).all()
    # two-element tile on the irregular axis: full-axis mean, not the
    # tile's own single spacing
    tile = full[2:]  # spacing would be 4d tile-local; full-axis mean is 7/3 d
    out2 = regenerate_coords(tile, 4, full_axis=full)
    end2 = (full[3] + mean_diff).astype("datetime64[ns]").astype(np.int64)
    expected2 = np.linspace(
        full[2].astype(np.int64), end2, 4, endpoint=False, dtype=np.int64
    )
    assert (out2.astype(np.int64) == expected2).all()


def test_coords_missing_becomes_range():
    out = regenerate_coords(np.array([]), 4)
    assert (out == np.arange(4)).all()


def test_coords_string_join_counter():
    # golden: ["t1","t2","t3"] -> ["t1.t2.t3-0", "t1.t2.t3-1"]
    out = regenerate_coords(np.array(["t1", "t2", "t3"]), 2)
    assert out.tolist() == ["t1.t2.t3-0", "t1.t2.t3-1"]


def test_collapse_non_numeric_takes_first():
    assert collapse_coords(np.array(["a", "b"])) == "a"


# --- end-to-end tiled run -------------------------------------------------


@pytest.fixture()
def raster_cube(spark):
    """4x4 grid x 2 bands x 2 time steps; one spatial tile (x<2, y<2 at
    t=2024-02) is all-NaN to exercise the sparsity skip."""
    from datetime import datetime

    from openeo_processes_dask_ml_spark.cube import CubeFrame

    rows = []
    for t in ["2024-01-01", "2024-02-01"]:
        for b in ["red", "nir"]:
            for xi in range(4):
                for yi in range(4):
                    val = float(xi * 10 + yi)
                    if t == "2024-02-01" and xi < 2 and yi < 2:
                        val = float("nan")
                    rows.append((datetime.strptime(t, "%Y-%m-%d"), b, float(xi), float(yi), val))
    df = spark.createDataFrame(rows, ["time", "band", "x", "y", "value"])
    return CubeFrame(df, {"time": "time", "bands": "band", "x": "x", "y": "y"}, "value")


def test_run_model_tiled_end_to_end(spark, raster_cube):
    from openeo_processes_dask_ml_spark.ml.inference import run_model_tiled

    descriptor = MLModelDescriptor(
        item={"id": "t"},
        input=ModelInput.parse(
            {
                "bands": ["nir", "red"],
                "input": {
                    "shape": [-1, 2, 2, 2],
                    "dim_order": ["batch", "bands", "x", "y"],
                    "data_type": "float64",
                },
            }
        ),
        output=ModelOutput.parse(
            {"result": {"shape": [-1, 2, 2], "dim_order": ["batch", "x", "y"]}}
        ),
        framework="fake",
        batch_size_suggestion=2,
    )

    def predict(batch):
        # bands ordered [nir, red] per the model band list
        return batch[:, 0] - batch[:, 1]

    out = run_model_tiled(raster_cube, descriptor, predict)
    rows = out.collect()
    # 2 time steps x 4 tiles x (2x2 out grid) = 32 rows
    assert len(rows) == 32
    by_key = {(str(r["time"])[:10], r["x"], r["y"]): r["value"] for r in rows}
    # nir - red = 0 everywhere values exist (same value per band)
    assert by_key[("2024-01-01", 0.0, 0.0)] == 0.0
    # the all-NaN tile was reconstituted as missing values (the
    # reference emits NaN, data_model.py:997-1006; through Arrow the
    # pandas NaN sentinel becomes SQL NULL — Spark's missing marker)
    assert by_key[("2024-02-01", 0.0, 0.0)] is None
    assert by_key[("2024-02-01", 1.0, 1.0)] is None
    # non-NaN tiles at the same timestep still computed
    assert by_key[("2024-02-01", 2.0, 2.0)] == 0.0
    # output grid preserved input coords (same-length copy rule)
    xs = sorted({r["x"] for r in rows})
    assert xs == [0.0, 1.0, 2.0, 3.0]


def test_run_model_tiled_remainder_dropped(spark, raster_cube):
    """3x3 model tile over a 4x4 grid -> 1 tile, cells 3 dropped."""
    from openeo_processes_dask_ml_spark.ml.inference import run_model_tiled

    descriptor = MLModelDescriptor(
        item={"id": "t"},
        input=ModelInput.parse(
            {
                "bands": ["red"],
                "input": {
                    "shape": [-1, 1, 3, 3],
                    "dim_order": ["batch", "bands", "x", "y"],
                },
            }
        ),
        output=ModelOutput.parse(
            {"result": {"shape": [-1, 3, 3], "dim_order": ["batch", "x", "y"]}}
        ),
        framework="fake",
    )
    out = run_model_tiled(raster_cube, descriptor, lambda b: b[:, 0])
    rows = out.collect()
    assert len(rows) == 2 * 9  # 2 timesteps x one 3x3 tile
    assert {r["x"] for r in rows} == {0.0, 1.0, 2.0}  # x=3 dropped


def test_run_model_tiled_pre_post_expressions(spark, raster_cube):
    """MLM pre/post-processing expressions wrap the model call inside
    the UDF (reference run_pytorch_model.py:18-37): pre doubles the
    input (numpy:abs here), post negates — both allowlisted importlib
    callables."""
    from openeo_processes_dask_ml_spark.ml.inference import run_model_tiled
    from openeo_processes_dask_ml_spark.mlm.descriptor import ProcessingExpression

    descriptor = MLModelDescriptor(
        item={"id": "t"},
        input=ModelInput.parse(
            {
                "bands": ["red"],
                "input": {
                    "shape": [-1, 1, 2, 2],
                    "dim_order": ["batch", "bands", "x", "y"],
                },
            }
        ),
        output=ModelOutput.parse(
            {"result": {"shape": [-1, 2, 2], "dim_order": ["batch", "x", "y"]}}
        ),
        framework="fake",
    )
    descriptor.input.pre_processing_function = ProcessingExpression(
        "python", "numpy:abs"
    )
    descriptor.output.post_processing_function = ProcessingExpression(
        "python", "numpy:negative"
    )
    out = run_model_tiled(raster_cube, descriptor, lambda b: b[:, 0])
    jan = [
        r["value"]
        for r in out.collect()
        if str(r["time"])[:10] == "2024-01-01" and r["value"] is not None
    ]
    # values were non-negative; post negates them
    assert jan and all(v <= 0 for v in jan)


def test_run_model_tiled_upsampling_linspace(spark, raster_cube):
    """Model emits a 4x4 grid from a 2x2 tile -> cell-center coords
    over the tile's pixel extent (reference data_model.py:812-820)."""
    from openeo_processes_dask_ml_spark.ml.inference import run_model_tiled

    descriptor = MLModelDescriptor(
        item={"id": "t"},
        input=ModelInput.parse(
            {
                "bands": ["red"],
                "input": {
                    "shape": [-1, 1, 2, 2],
                    "dim_order": ["batch", "bands", "x", "y"],
                },
            }
        ),
        output=ModelOutput.parse(
            {"result": {"shape": [-1, 4, 4], "dim_order": ["batch", "x", "y"]}}
        ),
        framework="fake",
    )

    def upsample(batch):
        return np.repeat(np.repeat(batch[:, 0], 2, axis=1), 2, axis=2)

    out = run_model_tiled(raster_cube, descriptor, upsample)
    xs = sorted({r["x"] for r in out.collect()})
    # tile [0,1] (width 1) -> pixel extent -0.5..1.5, 4 new cells of
    # width 0.5 -> centers -0.25, 0.25, 0.75, 1.25; tile [2,3] likewise
    assert xs == pytest.approx([-0.25, 0.25, 0.75, 1.25, 1.75, 2.25, 2.75, 3.25])


def test_run_model_tiled_casts_to_model_dtype(spark, raster_cube):
    """Stage 5 (reference data_model.py:1248): the model must receive
    its declared input dtype, not a blanket float64."""
    from openeo_processes_dask_ml_spark.ml.inference import run_model_tiled

    descriptor = MLModelDescriptor(
        item={"id": "t"},
        input=ModelInput.parse(
            {
                "bands": ["red"],
                "input": {
                    "shape": [-1, 1, 2, 2],
                    "dim_order": ["batch", "bands", "x", "y"],
                    "data_type": "int8",
                },
            }
        ),
        output=ModelOutput.parse(
            {"result": {"shape": [-1, 2, 2], "dim_order": ["batch", "x", "y"]}}
        ),
        framework="fake",
    )

    def predict(batch):
        # signal the observed dtype through the output values
        flag = 1.0 if batch.dtype == np.int8 else -1.0
        return np.full(batch.shape[0:1] + batch.shape[2:], flag)

    out = run_model_tiled(raster_cube, descriptor, predict)
    vals = {r["value"] for r in out.collect() if r["value"] is not None}
    assert vals == {1.0}


def test_expression_bands_validate_and_map():
    """Derived-band expressions now VALIDATE (parse + referenced bands
    resolved) and map to their own name; computation happens before
    tiling (tests/test_band_expr.py). The reference leaves this todo
    (data_model.py:362-367)."""
    from openeo_processes_dask_ml_spark.mlm.descriptor import validate_cube

    descriptor = MLModelDescriptor(
        item={"id": "t"},
        input=ModelInput.parse(
            {
                "bands": [
                    {"name": "ndvi", "format": "rio-calc",
                     "expression": "(B08-B04)/(B08+B04)"},
                ],
                "input": {
                    "shape": [-1, 1, 2, 2],
                    "dim_order": ["batch", "bands", "x", "y"],
                },
            }
        ),
        output=ModelOutput.parse(
            {"result": {"shape": [-1, 2, 2], "dim_order": ["batch", "x", "y"]}}
        ),
        framework="fake",
    )
    mapping = validate_cube(
        descriptor, ["bands", "x", "y"], {"x": 4, "y": 4}, ["B04", "B08"]
    )
    assert mapping["ndvi"] == "ndvi"


def _xy_descriptor(tile=2, out=None, batch=2):
    return MLModelDescriptor(
        item={"id": "t"},
        input=ModelInput.parse(
            {
                "bands": ["nir", "red"],
                "input": {
                    "shape": [-1, 2, tile, tile],
                    "dim_order": ["batch", "bands", "x", "y"],
                    "data_type": "float64",
                },
            }
        ),
        output=ModelOutput.parse(
            {
                "result": {
                    "shape": [-1, out or tile, out or tile],
                    "dim_order": ["batch", "x", "y"],
                }
            }
        ),
        framework="fake",
        batch_size_suggestion=batch,
    )


def _rows_key(rows):
    return sorted(
        (str(r["time"])[:10], r["x"], r["y"], r["value"]) for r in rows
    )


def test_run_model_tiled_axis_cap_guard(spark, raster_cube):
    """The cap is enforced executor-side (the driver never receives
    more than cap+1 values per scan). An over-cap TILED axis is walked
    in tile-aligned chunks; an over-cap axis the model consumes whole
    (shape -1) cannot be chunked and raises with guidance."""
    from openeo_processes_dask_ml_spark.ml.inference import run_model_tiled

    descriptor = _xy_descriptor()
    fn = lambda b: b[:, 0] - b[:, 1]  # noqa: E731
    whole_x = MLModelDescriptor(
        item={"id": "t"},
        input=ModelInput.parse(
            {
                "bands": ["nir", "red"],
                "input": {
                    "shape": [-1, 2, -1, 2],  # x consumed whole
                    "dim_order": ["batch", "bands", "x", "y"],
                },
            }
        ),
        output=ModelOutput.parse(
            {"result": {"shape": [-1, -1, 2], "dim_order": ["batch", "x", "y"]}}
        ),
        framework="fake",
    )
    with pytest.raises(ValueError, match="max_axis_elements"):
        run_model_tiled(raster_cube, whole_x, fn, max_axis_elements=2)
    # a tiled axis completes via chunked tile plans, identical to
    # the unchunked run (incl. the all-NaN tile -> NULL reassembly)
    chunked = run_model_tiled(
        raster_cube, descriptor, fn, max_axis_elements=2
    )
    whole = run_model_tiled(
        raster_cube, descriptor, fn, max_axis_elements=1000
    )
    assert _rows_key(chunked.collect()) == _rows_key(whole.collect())


def test_run_model_tiled_chunked_remainder_matches_global(spark, raster_cube):
    """Chunk boundaries are tile-aligned, so chunked tiling drops
    exactly the GLOBAL remainder: 4x4 grid, 3x3 tile, cap 3 -> the
    x/y axes chunk as [0,1,2]+[3], the trailing 1-wide chunk holds
    only remainder cells and is dropped — same cells as one global
    request (reference get_index_subsets semantics)."""
    from openeo_processes_dask_ml_spark.ml.inference import run_model_tiled

    descriptor = MLModelDescriptor(
        item={"id": "t"},
        input=ModelInput.parse(
            {
                "bands": ["red"],
                "input": {
                    "shape": [-1, 1, 3, 3],
                    "dim_order": ["batch", "bands", "x", "y"],
                },
            }
        ),
        output=ModelOutput.parse(
            {"result": {"shape": [-1, 3, 3], "dim_order": ["batch", "x", "y"]}}
        ),
        framework="fake",
    )
    chunked = run_model_tiled(
        raster_cube, descriptor, lambda b: b[:, 0], max_axis_elements=3
    )
    whole = run_model_tiled(
        raster_cube, descriptor, lambda b: b[:, 0], max_axis_elements=1000
    )
    got = _rows_key(chunked.collect())
    assert got == _rows_key(whole.collect())
    assert {k[1] for k in got} == {0.0, 1.0, 2.0}  # x=3 dropped globally


def test_run_model_tiled_chunked_skips_axis_rescans(spark, raster_cube):
    """Job-count ratchet on building the plan: the unchunked build runs
    ONE axis aggregation (2 jobs under AQE), the 2x2-chunked build adds
    exactly the two chunk walks per axis (4 aggregations) and nothing
    per chunk combination — no chunk rescans its axes. Counted with a
    job group around the build; the counts may only go down."""
    from openeo_processes_dask_ml_spark.ml.inference import run_model_tiled

    sc = spark.sparkContext
    descriptor = _xy_descriptor()

    def build_jobs(cap):
        group = f"run_model_tiled_build_cap{cap}"
        sc.setJobGroup(group, "run_model_tiled build")
        try:
            out = run_model_tiled(
                raster_cube, descriptor, lambda b: b[:, 0],
                max_axis_elements=cap,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status store is fed by the listener bus: drain it first
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    n_whole, whole = build_jobs(1000)
    n_chunked, chunked = build_jobs(2)  # x and y both chunk as 2 + 2
    assert n_whole == 2
    assert n_chunked == 10
    assert _rows_key(chunked.collect()) == _rows_key(whole.collect())


def test_run_model_tiled_chunked_short_axis_matches_global_error(
    spark, raster_cube
):
    """tile > cap with an axis shorter than one tile: global semantics
    is validate_cube's size error; the chunked dispatch must reproduce
    it, not silently return nothing."""
    from openeo_processes_dask_ml_spark.ml.inference import run_model_tiled

    descriptor = MLModelDescriptor(
        item={"id": "t"},
        input=ModelInput.parse(
            {
                "bands": ["red"],
                "input": {
                    "shape": [-1, 1, 5, 5],  # 5x5 tile over a 4x4 grid
                    "dim_order": ["batch", "bands", "x", "y"],
                },
            }
        ),
        output=ModelOutput.parse(
            {"result": {"shape": [-1, 5, 5], "dim_order": ["batch", "x", "y"]}}
        ),
        framework="fake",
    )
    with pytest.raises(ValueError, match="< model input"):
        run_model_tiled(
            raster_cube, descriptor, lambda b: b[:, 0],
            max_axis_elements=1000,
        ).collect()
    with pytest.raises(ValueError, match="< model input"):
        run_model_tiled(
            raster_cube, descriptor, lambda b: b[:, 0],
            max_axis_elements=2,  # forces the chunked dispatch
        ).collect()


def test_run_model_tiled_chunked_irregular_axis_same_values(spark):
    """r15 review: chunked sub-requests must regenerate coordinates
    with the GLOBAL cell width, not their chunk-local first spacing —
    an irregular axis with a different spacing at a chunk boundary
    must produce identical outputs chunked and unchunked."""
    from openeo_processes_dask_ml_spark.cube import CubeFrame
    from openeo_processes_dask_ml_spark.ml.inference import run_model_tiled

    xs = [0.0, 2.0, 4.0, 6.0, 10.0, 11.0, 12.0, 13.0]  # spacing 2 then 1
    rows = [("red", x, float(i)) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, ["band", "x", "value"])
    cube = CubeFrame(df, {"bands": "band", "x": "x"}, "value")
    descriptor = MLModelDescriptor(
        item={"id": "t"},
        input=ModelInput.parse(
            {
                "bands": ["red"],
                "input": {
                    "shape": [-1, 1, 2],
                    "dim_order": ["batch", "bands", "x"],
                },
            }
        ),
        output=ModelOutput.parse(
            # upsample 2 -> 4: regenerated x coords depend on the width
            {"result": {"shape": [-1, 4], "dim_order": ["batch", "x"]}}
        ),
        framework="fake",
    )
    up = lambda b: np.repeat(b[:, 0], 2, axis=-1)  # noqa: E731
    whole = run_model_tiled(cube, descriptor, up, max_axis_elements=1000)
    chunked = run_model_tiled(cube, descriptor, up, max_axis_elements=4)
    key = lambda r: (round(r["x"], 9), r["value"])  # noqa: E731
    assert sorted(map(key, chunked.collect())) == sorted(
        map(key, whole.collect())
    )


def _time_resize_descriptor():
    return MLModelDescriptor(
        item={"id": "t"},
        input=ModelInput.parse(
            {
                "bands": ["red"],
                "input": {"shape": [-1, 1, 2], "dim_order": ["batch", "bands", "time"]},
            }
        ),
        # upsample 2 -> 4: regenerated time coords depend on the axis
        # spacing, exercising the datetime regeneration end-to-end
        output=ModelOutput.parse(
            {"result": {"shape": [-1, 4], "dim_order": ["batch", "time"]}}
        ),
        framework="fake",
    )


_IRREGULAR_DAYS = [1, 2, 3, 6, 7, 8, 9, 10]  # spacing 1d,1d,3d,1d,1d,1d,1d


def test_run_model_tiled_resized_timestamp_axis_chunk_equivalence(spark):
    """r16: a model that RESIZES a timestamp dim used to crash —
    Spark collects timestamp coords as python datetime objects
    (numpy object arrays), so regenerate_coords' datetime64 branch
    never fired and the string fallback emitted strings into a
    timestamp column. Axis arrays are now schema-normalized to
    datetime64, and chunked sub-requests carry the GLOBAL mean
    spacing (ADVICE r15: chunk-local means differ on irregular axes),
    so chunked == unchunked to the value."""
    from datetime import datetime

    from openeo_processes_dask_ml_spark.cube import CubeFrame
    from openeo_processes_dask_ml_spark.ml.inference import run_model_tiled

    rows = [
        ("red", datetime(2024, 1, d), float(i))
        for i, d in enumerate(_IRREGULAR_DAYS)
    ]
    df = spark.createDataFrame(rows, ["band", "time", "value"])
    cube = CubeFrame(df, {"bands": "band", "time": "time"}, "value")
    up = lambda b: np.repeat(b[:, 0], 2, axis=-1)  # noqa: E731
    whole = run_model_tiled(cube, _time_resize_descriptor(), up, max_axis_elements=1000)
    chunked = run_model_tiled(cube, _time_resize_descriptor(), up, max_axis_elements=4)
    key = lambda r: (str(r["time"]), r["value"])  # noqa: E731
    w = sorted(map(key, whole.collect()))
    assert w == sorted(map(key, chunked.collect()))
    # sub-tile midpoints regenerated (1d spacing tile -> 12h steps)
    assert ("2024-01-01 12:00:00", 0.0) in w
    # the global-last tile extrapolates by the GLOBAL mean spacing
    # (9d span / 7 gaps), not the chunk-local 1d mean
    assert len(w) == 16


def test_run_model_tiled_resized_date_axis_chunk_equivalence(spark):
    """Date axes resize too: regeneration happens in datetime64[ns]
    and truncates back to date objects at emission (a date column
    holds nothing finer than days)."""
    from datetime import date

    from openeo_processes_dask_ml_spark.cube import CubeFrame
    from openeo_processes_dask_ml_spark.ml.inference import run_model_tiled

    rows = [
        ("red", date(2024, 1, d), float(i)) for i, d in enumerate(_IRREGULAR_DAYS)
    ]
    df = spark.createDataFrame(rows, ["band", "time", "value"])
    cube = CubeFrame(df, {"bands": "band", "time": "time"}, "value")
    up = lambda b: np.repeat(b[:, 0], 2, axis=-1)  # noqa: E731
    whole = run_model_tiled(cube, _time_resize_descriptor(), up, max_axis_elements=1000)
    chunked = run_model_tiled(cube, _time_resize_descriptor(), up, max_axis_elements=4)
    key = lambda r: (str(r["time"]), r["value"])  # noqa: E731
    w = sorted(map(key, whole.collect()))
    assert w == sorted(map(key, chunked.collect()))
    assert len(w) == 16
    assert all(len(t) == 10 for t, _ in w)  # real dates, not strings
