"""Seeded benchmark inputs, generated once per seed and cached.

Everything here runs before the timed regions and outside ``setup_s``.
A cache entry is built in a scratch directory and renamed into place,
so a run killed half-way never leaves a partial entry behind.

- ``etl``: the ``lineitem``/``orders`` tables of ``tools/gen_fixture.py``
  at ``ETL_SF``, rewritten with ``ROW_GROUP_ROWS``-row row groups so a
  scan splits into one task per core instead of one task per file, plus
  the DuckDB replay of the benchmark pipeline's SQL (the expected
  output).
- ``vec``: random vectors written as the stored history file and a
  few day files. Each day plants near-duplicates of history vectors and
  of earlier vectors of the same day; the ids a drain should keep are
  recorded beside them.
"""

from __future__ import annotations

import inspect
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ETL_SF = 0.1
ROW_GROUP_ROWS = 75_000

# The SQL the ``etl_batch`` pipeline computes; checks compare the sink
# output with DuckDB's answer over the same files.
ETL_SQL = """
SELECT o_custkey, SUM(l_extendedprice) AS revenue, COUNT(*) AS n
FROM read_parquet('{lineitem}') AS l JOIN read_parquet('{orders}') AS o
  ON l_orderkey = o_orderkey
WHERE l_quantity > 10
GROUP BY o_custkey
"""

HISTORY = 800        # stored history; its first BATCH vectors bootstrap the store
BATCH = 200          # vectors in one day file
DAYS = 3             # distinct day files, cycled through by the drains
HIST_DUPS = 20       # per day: near-copies of history vectors
DAY_DUPS = 20        # per day: near-copies of earlier vectors of the day
# angle (rad) between a planted copy and its original, cos ~ 1 - 2e-8.
# With the ingest's default LSH geometry (12 planes x 2 tables) a pair
# this close misses every shared bucket with probability ~6e-7.
DUP_NOISE = 2e-4
KEEP_SEEDS = 32      # cache entries per kind kept before the oldest is evicted


def _cached(root: Path, kind: str, seed: int, build) -> tuple[Path, float]:
    """Return (entry dir, seconds spent generating it now)."""
    out = root / f"{kind}-seed{seed}"
    if (out / "meta.json").exists():
        os.utime(out)
        return out, 0.0
    t0 = time.perf_counter()
    root.mkdir(parents=True, exist_ok=True)
    tmp = root / f".{kind}-seed{seed}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    try:
        build(tmp, seed)
        shutil.rmtree(out, ignore_errors=True)
        tmp.rename(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    entries = sorted((p for p in root.glob(f"{kind}-seed*") if p.is_dir()),
                     key=lambda p: p.stat().st_mtime)
    for old in entries[:-KEEP_SEEDS]:
        shutil.rmtree(old, ignore_errors=True)
    return out, time.perf_counter() - t0


# -- etl ----------------------------------------------------------------------

def _build_etl(out: Path, seed: int) -> None:
    import duckdb

    repo = Path(__file__).resolve().parent.parent
    gen = out / "gen"
    subprocess.run([sys.executable, str(repo / "tools" / "gen_fixture.py"),
                    "--sf", str(ETL_SF), "--seed", str(seed),
                    "--out", str(gen)],
                   check=True, stdout=subprocess.DEVNULL)
    rows = {}
    for t in ("lineitem", "orders"):
        table = pq.read_table(gen / f"{t}.parquet")
        pq.write_table(table, out / f"{t}.parquet",
                       row_group_size=ROW_GROUP_ROWS, compression="snappy")
        rows[t] = table.num_rows
    shutil.rmtree(gen)
    sql = ETL_SQL.format(lineitem=out / "lineitem.parquet",
                         orders=out / "orders.parquet")
    con = duckdb.connect()
    try:
        expected = con.execute(sql).arrow()
    finally:
        con.close()
    pq.write_table(expected, out / "expected.parquet")
    input_bytes = sum((out / f"{t}.parquet").stat().st_size
                      for t in ("lineitem", "orders"))
    (out / "meta.json").write_text(json.dumps(
        {"sf": ETL_SF, "seed": seed, "rows": rows,
         "input_rows": sum(rows.values()), "input_bytes": input_bytes}))


def etl_inputs(root: Path, seed: int) -> tuple[Path, dict, float]:
    d, secs = _cached(root, "etl", seed, _build_etl)
    return d, json.loads((d / "meta.json").read_text()), secs


# -- vectors ------------------------------------------------------------------

def ingest_defaults() -> dict:
    """Keyword defaults of ``run_stream_vector_ingest``. The benchmark
    runs the ingest with them, and sizes and checks its vectors by them."""
    from blackroad_data_pipeline_spark.streaming.ops import (
        run_stream_vector_ingest)

    return {k: p.default for k, p in
            inspect.signature(run_stream_vector_ingest).parameters.items()
            if p.default is not inspect.Parameter.empty}


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def _on_store_grid(x: np.ndarray, cfg: dict) -> np.ndarray:
    """``x`` with every component moved to the midpoint of its cell of
    the store's scalar quantizer, where ``dequantize(quantize(x))`` gives
    ``x`` back. The ingest dedups a day against the stored (quantized)
    history, so with history on the grid the stored history is exactly
    the generated one, and a planted copy's angle to it is the planted
    noise alone."""
    lo, hi = map(float, cfg["bounds"])
    levels = (1 << cfg["bits"]) - 1
    q = np.clip(np.floor((x - lo) / (hi - lo) * levels), 0, levels - 1)
    return (q + 0.5) * (hi - lo) / levels + lo


def _near_copy(rng, v: np.ndarray) -> np.ndarray:
    g = rng.standard_normal(v.shape)
    return _unit(v + DUP_NOISE * _unit(g))


def _write_vectors(path: Path, ids, vecs) -> None:
    pq.write_table(pa.table({
        "vec_id": pa.array(np.asarray(ids), pa.int64()),
        "embedding": pa.array(list(np.asarray(vecs, np.float32)),
                              pa.list_(pa.float32())),
    }), path)


def _fp32(x: np.ndarray) -> np.ndarray:
    """``x`` as written to parquet (float32), back in float64."""
    return x.astype(np.float32).astype(np.float64)


def _share_bucket(a: np.ndarray, b: np.ndarray, cfg: dict) -> np.ndarray:
    """Per row: do ``a`` and ``b`` share a bucket in at least one LSH
    table of the ingest's dedup (the package's own hyperplanes)?"""
    from blackroad_data_pipeline_spark.llmops.similarity import _hyperplanes

    hit = np.zeros(len(a), bool)
    for t in range(cfg["n_tables"]):
        planes = _hyperplanes(cfg["dim"], cfg["n_planes"], cfg["seed"] + t)
        hit |= (((a @ planes.T) > 0) == ((b @ planes.T) > 0)).all(axis=1)
    return hit


def _build_vec(out: Path, seed: int) -> None:
    cfg = ingest_defaults()
    dim = cfg["dim"]
    rng = np.random.default_rng(seed)
    hist = _on_store_grid(_unit(rng.standard_normal((HISTORY, dim))), cfg)
    _write_vectors(out / "history.parquet", np.arange(HISTORY), hist)
    days, fresh_vecs, misses = [], [hist], 0
    fresh = BATCH - HIST_DUPS - DAY_DUPS
    for j in range(DAYS):
        vecs = _unit(rng.standard_normal((fresh, dim)))
        fresh_vecs.append(vecs)
        h_src = rng.choice(HISTORY, HIST_DUPS, replace=False)
        d_src = rng.choice(fresh, DAY_DUPS, replace=False)
        copies = _near_copy(rng, np.vstack([hist[h_src], vecs[d_src]]))
        # hash what the ingest hashes: the day's rows as written (fp32)
        # and the history as dequantized from the store (the grid values)
        originals = np.vstack([hist[h_src], _fp32(vecs[d_src])])
        misses += int((~_share_bucket(_fp32(copies), originals, cfg)).sum())
        vecs = np.vstack([vecs, copies])
        # the planted copies come last, so every copy has a larger id
        # than the vector it copies and the greedy dedup drops the copy
        ids = 100_000 * (j + 1) + np.arange(BATCH)
        _write_vectors(out / f"day{j}.parquet", ids, vecs)
        days.append({"file": f"day{j}.parquet",
                     "keep": [int(i) for i in ids[:fresh]],
                     "planted": BATCH - fresh})
    # fresh vectors are random directions: in 64 dimensions no two of
    # them come near the dedup threshold, so only planted copies are
    # duplicates. Verify rather than assume.
    every = np.vstack(fresh_vecs)
    sims = every @ every.T
    np.fill_diagonal(sims, 0.0)
    norms = np.linalg.norm(every, axis=1)
    sims /= np.outer(norms, norms)
    if sims.max() > cfg["threshold"] - 0.1:
        raise RuntimeError(f"seed {seed}: unplanted near-duplicate "
                           f"(cos {sims.max():.3f})")
    if misses:
        raise RuntimeError(f"seed {seed}: {misses} planted copies share no "
                           f"LSH bucket with their original")
    (out / "meta.json").write_text(json.dumps(
        {"seed": seed, "dim": dim, "history": HISTORY, "batch": BATCH,
         "days": days}))


def vec_inputs(root: Path, seed: int) -> tuple[Path, dict, float]:
    d, secs = _cached(root, "vec", seed, _build_vec)
    return d, json.loads((d / "meta.json").read_text()), secs
