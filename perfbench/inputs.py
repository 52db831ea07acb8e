"""Benchmark inputs.

A workload reads only what is here or what is generated here from
``--seed``; the same seed gives byte-identical inputs.

- :data:`TABLES_DIR` holds the ten sf0.01 test tables (TESTDATA.md),
  copied unchanged: one single-row-group parquet file per table. The
  seed only shuffles the order in which the queries run
  (:func:`query_order`).
- :func:`write_stacks` writes synthetic-decoder stack files (ASCII
  ``T,C,Z,Y,X;`` header, see ``arraylib.decode.synthetic_decoder``) whose
  spatial shapes are drawn so that they leave ragged edges against the
  chunk grid and the 2x2x2 pyramid factor.
"""

from __future__ import annotations

import os

import numpy as np

#: the sf0.01 test tables, as ``<name>.parquet``
TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def table_bytes(data_dir: str = TABLES_DIR) -> int:
    """Total size of the parquet files in ``data_dir``."""
    return sum(
        os.path.getsize(os.path.join(data_dir, f)) for f in os.listdir(data_dir) if f.endswith(".parquet")
    )


def query_order(seed: int, names) -> list[str]:
    """``names`` in a seed-drawn order."""
    names = list(names)
    return [names[i] for i in np.random.default_rng([seed, 3]).permutation(len(names))]


def stack_shapes(seed: int, n_stacks: int, voxels_per_stack: int, z_range, y_range) -> list[tuple[int, ...]]:
    """Seed-drawn TCZYX shapes, two channels each. Z and Y are drawn from
    the ranges; X is then chosen so each stack holds about
    ``voxels_per_stack`` voxels, so every seed carries the same work.
    Every spatial extent is odd, so each level of the 2x2x2 cascade has a
    ragged edge window; the caller picks ranges that are no multiple of
    the chunk size."""
    rng = np.random.default_rng([seed, 2])
    shapes = []
    for _ in range(n_stacks):
        z = int(rng.integers(*z_range)) | 1
        y = int(rng.integers(*y_range)) | 1
        x = int(round(voxels_per_stack / (2 * z * y))) | 1
        shapes.append((1, 2, z, y, x))
    return shapes


def write_stacks(in_dir: str, shapes: list[tuple[int, ...]]) -> list[str]:
    """One synthetic-decoder file per shape, named like the reference's
    ``tile(N).czi`` acquisitions; returns the paths in listing order."""
    os.makedirs(in_dir, exist_ok=True)
    paths = []
    for i, shape in enumerate(shapes):
        path = os.path.join(in_dir, f"tile_{i:02d}({i}).czi")
        with open(path, "wb") as fh:
            fh.write(",".join(str(s) for s in shape).encode("ascii") + b";")
        paths.append(path)
    return sorted(paths)
