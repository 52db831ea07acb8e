"""Answer checks: the DuckDB oracle for queries, a numpy golden for the
pyramid.

DuckDB runs each query's registered oracle SQL on the same parquet files
with ``SET threads`` equal to Spark's core count and ends with an Arrow
fetch, so both engines pay a columnar end action; its timings are the
same-run reference reported beside ``suite_s``.
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np


def duckdb_reference(data_dir: str, tables, oracles: dict[str, str], threads: int):
    """Run every oracle SQL once over views of ``<data_dir>/<table>.parquet``:
    returns ({name: seconds}, {name: pandas})."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {int(threads)}")
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')"
            )
        times, frames = {}, {}
        for name, sql in oracles.items():
            t0 = time.perf_counter()
            table = con.execute(sql).arrow()
            times[name] = time.perf_counter() - t0
            frames[name] = table.to_pandas()
        return times, frames
    finally:
        con.close()


# ------------------------------------------------------------ pyramid golden


def synthetic_stack(shape: tuple[int, ...]) -> np.ndarray:
    """The synthetic decoder's array for ``shape``: voxel i of the C-order
    flattening holds ``i % 1000`` as uint16."""
    return (np.arange(int(np.prod(shape)), dtype=np.int64) % 1000).reshape(shape).astype(np.uint16)


def windowed_mean(arr: np.ndarray, factors: tuple[int, int, int]) -> np.ndarray:
    """One 2x2x2-style level over the last three axes: the mean of each
    window, ragged edge windows averaging the voxels present, integer
    dtypes truncated toward zero."""
    out = arr.astype(np.float64)
    for axis, f in zip(range(arr.ndim - 3, arr.ndim), factors):
        n = out.shape[axis]
        starts = np.arange(0, n, f)
        sums = np.add.reduceat(out, starts, axis=axis)
        counts = np.minimum(starts + f, n) - starts
        shape = [1] * out.ndim
        shape[axis] = len(counts)
        out = sums / counts.reshape(shape)
    return np.trunc(out).astype(arr.dtype) if np.issubdtype(arr.dtype, np.integer) else out.astype(arr.dtype)


def golden_levels(shape, n_levels: int, factors) -> list[np.ndarray]:
    """Levels 0..n-1 of the cascade: level k+1 from the stored level k."""
    levels = [synthetic_stack(shape)]
    for _ in range(1, n_levels):
        levels.append(windowed_mean(levels[-1], factors))
    return levels


def read_level(out_root: str, level: int, stack_id: str, shape: tuple[int, ...]) -> np.ndarray:
    """Reassemble one stack's level from its stored chunk rows; raises if a
    chunk is missing, overlaps another or has the wrong extent."""
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(out_root, f"level={level}", "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no chunk files for level {level}")
    arr = np.zeros(shape, dtype=np.uint16)
    seen = np.zeros(shape, dtype=bool)
    for f in files:
        t = pq.read_table(f).to_pydict()
        for i, sid in enumerate(t["stack_id"]):
            if sid != stack_id:
                continue
            dz, dy, dx = t["shape"][i]
            block = np.frombuffer(t["payload"][i], dtype=t["dtype"][i]).reshape(dz, dy, dx)
            z0, y0, x0 = t["z0"][i], t["y0"][i], t["x0"][i]
            idx = (t["t"][i], t["c"][i], slice(z0, z0 + dz), slice(y0, y0 + dy), slice(x0, x0 + dx))
            if seen[idx].any() or seen[idx].shape != (dz, dy, dx):
                raise ValueError(f"{stack_id} level {level}: chunk at {(z0, y0, x0)} overlaps or overruns")
            arr[idx] = block
            seen[idx] = True
    if not seen.all():
        raise ValueError(f"{stack_id} level {level}: {int((~seen).sum())} voxels not covered")
    return arr


def check_pyramid(out_root: str, stacks: dict[str, tuple[int, ...]], n_levels: int, factors) -> list[str]:
    """Compare every level of every stack with the golden; returns one
    message per mismatch (empty when all match)."""
    errors = []
    for stack_id, shape in stacks.items():
        for level, want in enumerate(golden_levels(shape, n_levels, factors)):
            try:
                got = read_level(out_root, level, stack_id, want.shape)
            except (OSError, ValueError) as exc:
                errors.append(str(exc))
                continue
            if not np.array_equal(got, want):
                bad = int((got != want).sum())
                errors.append(f"{stack_id} level {level}: {bad} voxels differ from the golden")
    return errors
