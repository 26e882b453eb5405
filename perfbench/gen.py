"""Seeded input generator: the fixture schemas at benchmark sizes.

Every table is a pure function of ``(seed, table)``: the same seed
writes byte-identical parquet files (pyarrow, no wall-clock metadata).
The package only ever sees these files, through ``io.load.load_table``.

Tables (schemas match the repo's fixture tables, FIXTURES.md F7):

- ``events``: event_id, ts (timestamp[us], January 2024), user_id
  (0..1499), event_type (5 labels), value, props.
- ``documents``: doc_id, text, lang, source, n_chars. A seeded share of
  the documents are near-duplicates of an earlier document (a few words
  replaced) and a third of those are exact copies.
- ``raster``: x, y, t (date), band (B0..B3), value. A seeded share of
  the model batches (``TILE``-sized tiles grouped ``BATCH`` at a time)
  is all-NaN, which drives the inference skip path.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_ROWS = 50_000
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
N_USERS = 1500
N_DOCS = 1000

# raster cube: RASTER_X x RASTER_Y pixels, RASTER_T days, 4 bands.
# 72 = 4 full 16-pixel tiles + an 8-pixel remainder the harness drops.
TILE = 16
# 16 tiles per time step in batches of 6: two full batches and one of 4
BATCH = 6
RASTER_X = 72
RASTER_Y = 72
RASTER_T = 6
BANDS = ("B0", "B1", "B2", "B3")

VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query big "
    "order group filter stream vector index shard token corpus crawl page "
    "model tile cube band pixel"
).split()

# tables each workload reads
TABLES = {
    "floor_jobs": ("events", "documents"),
    "tiled_inference": ("raster",),
}


def shares(seed: int) -> dict:
    """The seed-dependent input properties the workloads depend on. The
    ranges are narrow so that the work per job, and with it the timings,
    varies little between seeds."""
    rng = np.random.default_rng([seed, 0])
    return {
        "near_dup_share": round(0.14 + 0.02 * float(rng.random()), 4),
        "nan_batch_share": round(0.18 + 0.04 * float(rng.random()), 4),
    }


def _pick(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """Exactly round(share * n) of n positions, as a boolean mask."""
    mask = np.zeros(n, dtype=bool)
    mask[rng.permutation(n)[: round(share * n)]] = True
    return mask


def events(seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    n = EVENT_ROWS
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    kind = rng.integers(0, len(EVENT_TYPES), n)
    value = np.round(rng.gamma(2.0, 40.0, n), 2)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, n).astype(np.int64)),
            "event_type": pa.array([EVENT_TYPES[k] for k in kind]),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _dup_sources(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """-1 for an original row, else the index of an earlier row it copies."""
    src = np.full(n, -1, dtype=np.int64)
    dup = _pick(rng, n, share)
    dup[0] = False
    idx = np.nonzero(dup)[0]
    src[idx] = (rng.random(idx.size) * idx).astype(np.int64)
    # chains resolve to their root so every copy points at an original
    for i in idx:
        while src[src[i]] != -1:
            src[i] = src[src[i]]
    return src


def documents(seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    share = shares(seed)["near_dup_share"]
    src = _dup_sources(rng, N_DOCS, share)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(N_DOCS):
        if src[i] < 0:
            words = vocab[rng.integers(0, len(VOCAB), int(rng.integers(20, 90)))]
            texts.append(" ".join(words))
            continue
        words = np.array(texts[src[i]].split())
        if rng.random() >= 1 / 3:  # near copy; else an exact copy
            k = max(1, words.size // 20)
            pos = rng.choice(words.size, k, replace=False)
            words[pos] = vocab[rng.integers(0, len(VOCAB), k)]
        texts.append(" ".join(words))
    lang = np.where(rng.random(N_DOCS) < 0.7, "en", "de")
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(lang.tolist()),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, N_DOCS)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def raster_grid(seed: int) -> np.ndarray:
    """The cube as a dense (t, band, x, y) float64 array, NaN batches set.

    Batches follow the harness's tile order: tile (i, j) of a time step
    has linear id ``i * n_tiles_y + j`` and belongs to batch
    ``id // BATCH``; the remainder pixels beyond the last full tile
    carry data but never reach the model."""
    rng = np.random.default_rng([seed, 4])
    grid = rng.normal(0.0, 1.0, (RASTER_T, len(BANDS), RASTER_X, RASTER_Y))
    ntx, nty = RASTER_X // TILE, RASTER_Y // TILE
    n_batches = -(-(ntx * nty) // BATCH)
    share = shares(seed)["nan_batch_share"]
    nan_batch = _pick(rng, RASTER_T * n_batches, share).reshape(RASTER_T, n_batches)
    tile_id = (np.arange(ntx)[:, None] * nty + np.arange(nty)[None, :]) // BATCH
    for t in range(RASTER_T):
        for b in np.nonzero(nan_batch[t])[0]:
            ti, tj = np.nonzero(tile_id == b)
            for i, j in zip(ti, tj):
                grid[t, :, i * TILE:(i + 1) * TILE, j * TILE:(j + 1) * TILE] = np.nan
    return grid


def raster_days() -> list[dt.date]:
    return [dt.date(2024, 1, 1) + dt.timedelta(days=d) for d in range(RASTER_T)]


def raster(seed: int) -> pa.Table:
    grid = raster_grid(seed)
    t, b, x, y = np.meshgrid(
        np.arange(RASTER_T), np.arange(len(BANDS)),
        np.arange(RASTER_X), np.arange(RASTER_Y), indexing="ij",
    )
    days = np.array(raster_days(), dtype="datetime64[D]")
    return pa.table(
        {
            "x": pa.array(x.ravel().astype(np.float64)),
            "y": pa.array(y.ravel().astype(np.float64)),
            "t": pa.array(days[t.ravel()], type=pa.date32()),
            "band": pa.array(np.array(BANDS)[b.ravel()].tolist()),
            "value": pa.array(grid.ravel(), from_pandas=False),
        }
    )


BUILDERS = {
    "events": events,
    "documents": documents,
    "raster": raster,
}


def generate(out_dir: str, seed: int, workload: str) -> dict:
    """Write the workload's tables to ``out_dir``; return the record."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in TABLES[workload]:
        table = BUILDERS[name](seed)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
        rows[name] = table.num_rows
    return {"seed": seed, "rows": rows, **shares(seed)}
