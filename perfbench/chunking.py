"""The streamed layout of `events`: K time-ordered files.

A streamed member reads `events` as a directory-shaped table. With a
file stream capped at one file per trigger, K files drain as K
micro-batches. `chunk_events` writes that layout from the (ts-ordered)
events table, with seed-jittered chunk boundaries and ascending
mtimes, keeping the source's schema and column types.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def chunk_bounds(n_rows: int, k: int, rng: np.random.Generator) -> list[int]:
    """K+1 increasing row offsets from 0 to n_rows: K chunks whose
    sizes are jittered by up to +-25% around n_rows / k."""
    k = max(1, min(k, n_rows))
    step = n_rows / k
    inner = [round(step * i + rng.uniform(-0.25, 0.25) * step) for i in range(1, k)]
    bounds = [0] + inner + [n_rows]
    for i in range(1, len(bounds)):  # keep every chunk non-empty
        bounds[i] = max(bounds[i], bounds[i - 1] + 1)
    bounds[-1] = n_rows
    return bounds


def chunk_events(events: pa.Table, out_dir: str, k: int, seed: int) -> int:
    """Write ``events`` (already ts-ordered) as K time-ordered files
    under ``out_dir/events.parquet/`` with ascending mtimes."""
    target = os.path.join(out_dir, "events.parquet")
    shutil.rmtree(target, ignore_errors=True)
    os.makedirs(target)
    bounds = chunk_bounds(events.num_rows, k, np.random.default_rng(seed))
    base = 1_000_000_000
    for i in range(len(bounds) - 1):
        path = os.path.join(target, f"chunk-{i:03d}.parquet")
        pq.write_table(events.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        os.utime(path, (base + i, base + i))
    return len(bounds) - 1
