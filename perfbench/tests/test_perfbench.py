"""The benchmark's own tests: generator determinism, the percentile
rule, span self-time arithmetic, metric names. No Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, stats  # noqa: E402
from perfbench.layers import PER_LAYER  # noqa: E402
from perfbench.trace import Span, parse_sql_metric, self_time, union_length  # noqa: E402


def _digests(directory: str) -> dict[str, str]:
    return {
        name: hashlib.sha256(open(os.path.join(directory, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(directory))
    }


@pytest.mark.parametrize("workload", sorted(gen.TABLES))
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    a, b = tmp_path / "a", tmp_path / "b"
    rec_a = gen.generate(str(a), 11, workload)
    rec_b = gen.generate(str(b), 11, workload)
    assert rec_a == rec_b
    assert _digests(str(a)) == _digests(str(b))
    assert sorted(os.listdir(a)) == sorted(f"{t}.parquet" for t in gen.TABLES[workload])


def test_other_seed_gives_other_inputs(tmp_path):
    gen.generate(str(tmp_path / "a"), 1, "floor_jobs")
    gen.generate(str(tmp_path / "b"), 2, "floor_jobs")
    assert _digests(str(tmp_path / "a")) != _digests(str(tmp_path / "b"))


def test_seeded_shares_are_stated_and_realised():
    for seed in range(5):
        sh = gen.shares(seed)
        assert 0.14 <= sh["near_dup_share"] < 0.16
        assert 0.18 <= sh["nan_batch_share"] < 0.22
    grid = gen.raster_grid(3)
    ntx, nty = gen.RASTER_X // gen.TILE, gen.RASTER_Y // gen.TILE
    tiles = grid[:, 0, : ntx * gen.TILE, : nty * gen.TILE].reshape(
        gen.RASTER_T, ntx, gen.TILE, nty, gen.TILE
    )
    nan_tile = np.isnan(tiles).all(axis=(2, 4))
    # a tile is either entirely NaN or entirely data, and NaN tiles
    # come in whole batches so the harness skips the model call
    assert (nan_tile == np.isnan(tiles).any(axis=(2, 4))).all()
    batch_of = (np.arange(ntx)[:, None] * nty + np.arange(nty)[None, :]) // gen.BATCH
    for t in range(gen.RASTER_T):
        for b in np.unique(batch_of):
            members = nan_tile[t][batch_of == b]
            assert members.all() or not members.any()
    n_batches = gen.RASTER_T * len(np.unique(batch_of))
    nan_batches = sum(
        nan_tile[t][batch_of == b].all() for t in range(gen.RASTER_T) for b in np.unique(batch_of)
    )
    assert nan_batches == round(gen.shares(3)["nan_batch_share"] * n_batches)


def test_documents_hold_near_duplicates():
    docs = gen.documents(5).to_pydict()["text"]
    assert len(set(docs)) < len(docs)  # exact copies exist
    words = [set(t.split()) for t in docs]
    assert any(len(words[i] & words[j]) / len(words[i] | words[j]) > 0.8
               for i in range(50) for j in range(i + 1, len(docs)) if docs[i] != docs[j])


# ------------------------------------------------------------ percentile rule


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 100) == 100
    assert stats.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize(
    "n, q, ok",
    [
        (99, 90, False),  # only 9.9 samples beyond p90
        (100, 90, True),  # exactly 10 beyond
        (999, 99, False),
        (1000, 99, True),
        (19, 50, False),
        (20, 50, True),
    ],
)
def test_percentile_needs_ten_samples_beyond(n, q, ok):
    assert stats.reportable(n, q) is ok


def test_highest_reportable_tail():
    assert stats.highest_reportable(30) is None
    assert stats.highest_reportable(100) == 90.0
    assert stats.highest_reportable(999) == 90.0
    assert stats.highest_reportable(1000) == 99.0
    assert stats.highest_reportable(10_000) == 99.9


# ------------------------------------------------------------------ self time


def _span(sid, start, end, parent=None):
    return Span(sid, f"s{sid}", "x", parent, 0, start, end)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3)]) == 3.0
    assert union_length([(0, 4), (1, 2), (3, 3.5)]) == 4.0


def test_self_time_subtracts_children():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 5.0, 6.0, 0)]
    assert self_time(parent, kids) == pytest.approx(7.0)


def test_self_time_counts_overlapping_children_once():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 4.0, 0), _span(2, 3.0, 5.0, 0)]
    assert self_time(parent, kids) == pytest.approx(6.0)


def test_self_time_clips_children_to_parent():
    parent = _span(0, 2.0, 6.0)
    kids = [_span(1, 0.0, 3.0, 0), _span(2, 5.0, 9.0, 0)]
    assert self_time(parent, kids) == pytest.approx(2.0)
    assert self_time(parent, []) == pytest.approx(4.0)


def test_tracer_nests_spans_and_dumps_self_time(tmp_path):
    from perfbench.trace import Tracer

    tr = Tracer()
    with tr.span("job", "job") as job:
        with tr.span("build", "build") as build:
            pass
    assert build.parent == job.sid and job.parent is None
    path = tmp_path / "spans.jsonl"
    tr.dump(str(path))
    rows = [json.loads(line) for line in path.read_text().splitlines()]
    assert [r["name"] for r in rows] == ["job", "build"]
    assert rows[0]["self_s"] == pytest.approx(job.duration - build.duration)


# -------------------------------------------------------------- metric names


def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def test_metric_names_are_well_formed():
    doc = _benchmark_json()
    names = [m["name"] for m in doc["end_to_end"] + doc["per_layer"]]
    names += [w["name"] for w in doc["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.fullmatch(name), name


def test_benchmark_json_matches_the_code():
    from perfbench.run import E2E_UNITS
    from perfbench.workloads import workloads

    doc = _benchmark_json()
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == PER_LAYER
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == E2E_UNITS
    assert [w["name"] for w in doc["workloads"]] == list(workloads())
    assert any(m["name"] == "setup_s" for m in doc["end_to_end"])


def test_parse_sql_metric_forms():
    assert parse_sql_metric("7,394") == 7394.0
    assert parse_sql_metric("16.2 MiB") == pytest.approx(16.2 * (1 << 20))
    assert parse_sql_metric("49 ms") == pytest.approx(0.049)
    assert parse_sql_metric("total (min, med, max)\n2.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB)") == 2048.0
    assert parse_sql_metric("n/a") is None

