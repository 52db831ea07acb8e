"""The benchmark's own checks: event-log parsing, the pyramid golden and
its read-back, and seeded input generation. No SparkSession is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os
import sys
import types

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(1, os.path.dirname(os.path.dirname(HERE)))

import check  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from aind_protein_data_transformation_spark.catalog import TABLES  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog.jsonl")
T = 1_800_000_000.0  # the fixture's time origin, in seconds


# ------------------------------------------------------------- event log


def test_parser_reads_fixture_log():
    log = tracing.parse_event_log([FIXTURE])
    assert sorted(log.jobs) == [0, 1, 2, 3]
    assert log.jobs[1]["group"] == "op-0" and log.jobs[3]["group"] == "op-1"
    assert log.executions[1]["start"] == pytest.approx(T + 0.21)
    assert log.executions[1]["end"] == pytest.approx(T + 0.90)
    assert len(log.tasks) == 4
    # only the Python node's metrics count; the scan's rows do not
    assert log.py_accums == {56: "bytes", 57: "bytes", 61: "rows"}


def test_op_breakdown_accounts_for_the_wall():
    log = tracing.parse_event_log([FIXTURE])
    row = tracing.op_breakdown(log, "op-0", T, T + 1.0, [(T, T + 0.16)])
    approx = {
        "wall_s": 1.0,
        "build_s": 0.16,
        "build_in_jobs_s": 0.10,
        "action_s": 0.84,
        "sql_s": 0.69,
        "in_jobs_s": 0.40,
        "outside_jobs_s": 0.29,
        "unaccounted_s": 0.15,
        "task_busy_s": 0.25,
        "max_task_s": 0.18,
        "gc_s": 0.02,
    }
    for key, want in approx.items():
        assert row[key] == pytest.approx(want, abs=1e-6), key
    exact = {
        "build_jobs": 1,
        "jobs": 2,
        "stages": 2,
        "tasks": 2,
        "input_bytes": 4000,
        "output_bytes": 300,
        "shuffle_write_bytes": 700,
        "shuffle_read_bytes": 700,
        "spill_bytes": 64,
        "python_rows": 300,
        "python_bytes": 2240 + 2176,
    }
    for key, want in exact.items():
        assert row[key] == want, key
    # the parts add up to the wall
    assert row["build_s"] + row["sql_s"] + row["unaccounted_s"] == pytest.approx(row["wall_s"])


def test_union_of_intervals():
    assert tracing.union_s([(0, 1), (0.5, 2), (3, 4), (4, 4.5)]) == pytest.approx(3.5)
    assert tracing.union_s([(1, None), (2, 1)]) == 0.0


def test_peak_heap_counts_only_evacuating_pauses(tmp_path):
    log = tmp_path / "gc.log"
    log.write_text(
        "[0.004s][info][gc] Using G1\n"
        "[0.2s][info][gc] GC(0) Pause Young (Normal) (G1 Evacuation Pause) 120M->40M(256M) 3.2ms\n"
        "[1.0s][info][gc] GC(1) Pause Remark 900M->880M(1024M) 4.0ms\n"
        "[1.1s][info][gc] GC(1) Pause Cleanup 890M->890M(1024M) 0.1ms\n"
        "[2.0s][info][gc] GC(2) Pause Young (Mixed) (G1 Evacuation Pause) 1G->300M(1G) 9.0ms\n"
        "[3.0s][info][gc] GC(3) Pause Full (System.gc()) 400M->2048K(1G) 20.0ms\n"
    )
    assert run.peak_heap_after_gc_mb(str(log)) == 300.0
    assert run.peak_heap_after_gc_mb(str(tmp_path / "absent.log")) == 0.0


def test_steal_frac_is_the_steal_share_of_all_ticks():
    before = [100, 0, 10, 500, 0, 0, 0, 5, 0, 0]
    after = [160, 0, 20, 520, 0, 0, 0, 15, 0, 0]
    assert run.steal_frac(before, after) == pytest.approx(10 / 100)
    assert run.steal_frac(before, before) == 0.0
    assert len(run.cpu_times()) >= 8


def test_patched_records_every_binding_and_restores():
    spans = tracing.Spans()
    lib = types.ModuleType("perfbench_test_lib")

    def load(x):
        return x + 1

    lib.load = load
    user = types.ModuleType("perfbench_test_user")
    user.load = load  # as after ``from lib import load``
    sys.modules[lib.__name__], sys.modules[user.__name__] = lib, user
    try:
        with tracing.patched(spans, [(lib, "load", "lib.load")]):
            with spans.span("outer"):
                assert user.load(1) == 2
            assert lib.load(2) == 3
        assert lib.load is load and user.load is load
    finally:
        del sys.modules[lib.__name__], sys.modules[user.__name__]
    names = [(r["name"], r["parent"]) for r in spans.records]
    assert names == [("outer", None), ("lib.load", 0), ("lib.load", None)]
    assert len(spans.top_level("lib.")) == 2


# ---------------------------------------------------------- pyramid golden


def _loop_windowed_mean(arr: np.ndarray, f: tuple[int, int, int]) -> np.ndarray:
    t, c, z, y, x = arr.shape
    out = np.zeros((t, c, -(-z // f[0]), -(-y // f[1]), -(-x // f[2])), dtype=arr.dtype)
    for idx in np.ndindex(out.shape):
        ti, ci, zi, yi, xi = idx
        win = arr[ti, ci, zi * f[0]:(zi + 1) * f[0], yi * f[1]:(yi + 1) * f[1], xi * f[2]:(xi + 1) * f[2]]
        out[idx] = int(win.astype(np.float64).mean())
    return out


def test_windowed_mean_matches_loop_on_ragged_shape():
    arr = np.random.default_rng(0).integers(0, 65535, size=(1, 2, 5, 7, 3)).astype(np.uint16)
    np.testing.assert_array_equal(check.windowed_mean(arr, (2, 2, 2)), _loop_windowed_mean(arr, (2, 2, 2)))


def test_golden_level0_is_the_synthetic_decoder():
    from aind_protein_data_transformation_spark.arraylib import decode

    shape = (1, 2, 5, 7, 9)
    want, dtype = decode.synthetic_decoder("x.czi", b"1,2,5,7,9;")
    assert dtype == "uint16"
    np.testing.assert_array_equal(check.synthetic_stack(shape), want)


def _write_store(root: str, stacks: dict, n_levels: int, chunk=(2, 4, 4), drop_last=False):
    """Chunk rows in the layout ``blocks.encode_chunks`` writes."""
    for level in range(n_levels):
        rows = {k: [] for k in ("stack_id", "dtype", "t", "c", "z0", "y0", "x0", "shape", "payload")}
        for sid, shape in stacks.items():
            arr = check.golden_levels(shape, n_levels, (2, 2, 2))[level]
            _, nc, nz, ny, nx = arr.shape
            for c in range(nc):
                for z0 in range(0, nz, chunk[0]):
                    for y0 in range(0, ny, chunk[1]):
                        for x0 in range(0, nx, chunk[2]):
                            block = arr[0, c, z0:z0 + chunk[0], y0:y0 + chunk[1], x0:x0 + chunk[2]]
                            for key, val in zip(rows, (sid, "uint16", 0, c, z0, y0, x0, list(block.shape), block.tobytes())):
                                rows[key].append(val)
        if drop_last:
            rows = {k: v[:-1] for k, v in rows.items()}
        os.makedirs(os.path.join(root, f"level={level}"))
        pq.write_table(pa.table(rows), os.path.join(root, f"level={level}", "part-0.parquet"))


def test_check_pyramid_accepts_a_correct_store(tmp_path):
    stacks = {"a(0).czi": (1, 2, 5, 9, 7), "b(1).czi": (1, 2, 3, 5, 11)}
    _write_store(str(tmp_path), stacks, 3)
    assert check.check_pyramid(str(tmp_path), stacks, 3, (2, 2, 2)) == []


def test_check_pyramid_reports_a_wrong_voxel(tmp_path):
    stacks = {"a(0).czi": (1, 2, 5, 9, 7)}
    _write_store(str(tmp_path), stacks, 2)
    path = os.path.join(tmp_path, "level=1", "part-0.parquet")
    t = pq.read_table(path).to_pydict()
    payload = bytearray(t["payload"][0])
    payload[0] ^= 1
    t["payload"][0] = bytes(payload)
    pq.write_table(pa.table(t), path)
    errors = check.check_pyramid(str(tmp_path), stacks, 2, (2, 2, 2))
    assert errors == ["a(0).czi level 1: 1 voxels differ from the golden"]


def test_check_pyramid_reports_a_missing_chunk(tmp_path):
    stacks = {"a(0).czi": (1, 1, 4, 8, 8)}
    _write_store(str(tmp_path), stacks, 1, drop_last=True)
    errors = check.check_pyramid(str(tmp_path), stacks, 1, (2, 2, 2))
    assert len(errors) == 1 and "not covered" in errors[0]


# ---------------------------------------------------------------- inputs


def _files(d: str) -> list[str]:
    return sorted(os.listdir(d))


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    names = [f"q{i}" for i in range(20)]
    order = inputs.query_order(5, names)
    assert order == inputs.query_order(5, names)
    assert order != inputs.query_order(6, names)
    assert sorted(order) == sorted(names)

    shapes = inputs.stack_shapes(5, 4, 180_000, (17, 32), (49, 80))
    assert shapes == inputs.stack_shapes(5, 4, 180_000, (17, 32), (49, 80))
    assert shapes != inputs.stack_shapes(6, 4, 180_000, (17, 32), (49, 80))
    assert all(d % 2 == 1 for s in shapes for d in s[2:])  # ragged at every level
    # the same work on every seed
    for seed in range(20):
        total = sum(int(np.prod(s)) for s in inputs.stack_shapes(seed, 4, 180_000, (17, 32), (49, 80)))
        assert abs(total - 720_000) < 0.03 * 720_000
    sa, sb = str(tmp_path / "sa"), str(tmp_path / "sb")
    inputs.write_stacks(sa, shapes)
    inputs.write_stacks(sb, shapes)
    assert filecmp.cmpfiles(sa, sb, _files(sa), shallow=False)[1] == []


def test_tables_dir_holds_every_catalog_table():
    assert _files(inputs.TABLES_DIR) == [f"{t}.parquet" for t in sorted(TABLES)]
    assert inputs.table_bytes() == sum(
        os.path.getsize(os.path.join(inputs.TABLES_DIR, f)) for f in _files(inputs.TABLES_DIR)
    )
