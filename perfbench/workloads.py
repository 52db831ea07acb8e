"""The benchmark's workloads.

Each workload prepares its seeded inputs, runs one untimed warm-up pass
that also checks every answer, then runs operations in a closed loop
(one client: the next operation starts when the previous one returns).
An operation is one registered query (``fn()`` build plus a ``noop``
write) or one ``arraylib.job.run_job`` call. Each operation carries its
own Spark job group, which the traced run uses to match event-log jobs
to it.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

import check
import inputs

class Op:
    """One timed operation's record."""

    __slots__ = ("name", "group", "start", "build_end", "end", "ok", "error")

    def __init__(self, name: str, group: str) -> None:
        self.name, self.group = name, group
        self.start = self.build_end = self.end = 0.0
        self.ok, self.error = True, None

    @property
    def wall(self) -> float:
        return self.end - self.start


class Headline:
    """The 20 ``bench.HEADLINE`` queries on the sf0.01 test tables, in a
    seed-shuffled order."""

    name = "headline_sf001"
    #: plan-building and catalog spans for the traced run
    build_prefix, input_prefix = "queries.", "catalog."

    def __init__(self, work: str, seed: int) -> None:
        self.seed = seed
        self.data_dir = inputs.TABLES_DIR
        self.input_bytes = inputs.table_bytes(self.data_dir)
        self.reference: dict[str, float] = {}

    def warm_up(self, spark) -> float:
        """Untimed first pass: run every query once, collecting its result.
        Returns the seconds spent."""
        # bench imports the package, so it is imported here, inside the
        # set-up time, and not before it
        from bench import HEADLINE

        import aind_protein_data_transformation_spark.queries as q

        self.names = inputs.query_order(self.seed, HEADLINE)
        self.ops_per_pass = self.min_ops = self.trace_ops = len(self.names)
        self.got, self.errors, self.warm_up_s = {}, [], {}
        for name in self.names:
            t0 = time.perf_counter()
            try:
                self.got[name] = q.REGISTRY[name].fn(spark, self.data_dir).toPandas()
            except Exception as exc:  # noqa: BLE001 - a failed query is a counted failure
                self.errors.append(f"{name}: raised {exc!r}"[:300])
            self._release(spark)
            self.warm_up_s[name] = time.perf_counter() - t0
        return sum(self.warm_up_s.values())

    def verify(self, threads: int) -> tuple[int, list[str]]:
        """Compare each warm-up answer with DuckDB's oracle result.
        Returns (attempted, failures)."""
        import aind_protein_data_transformation_spark.queries as q
        from aind_protein_data_transformation_spark.plans.canonical import compare_frames

        from aind_protein_data_transformation_spark.catalog import TABLES

        oracles = {n: q.REGISTRY[n].oracle for n in self.names}
        self.reference, want = check.duckdb_reference(self.data_dir, TABLES, oracles, threads)
        failures = list(self.errors)
        for name, frame in self.got.items():
            ok, msg = compare_frames(frame, want[name])
            if not ok:
                failures.append(f"{name}: {msg}"[:300])
        self.got = {}
        return len(self.names), failures

    def op_names(self):
        while True:
            yield from self.names

    def run_op(self, spark, name: str, op: Op, spans=None) -> None:
        import aind_protein_data_transformation_spark.queries as q

        fn = q.REGISTRY[name].fn
        op.start = time.time()
        if spans is None:
            df = fn(spark, self.data_dir)
        else:
            with spans.span("queries.fn", query=name):
                df = fn(spark, self.data_dir)
        op.build_end = time.time()
        df.write.format("noop").mode("overwrite").save()
        op.end = time.time()
        self._release(spark)

    def build_intervals(self, op: Op, spans) -> list[tuple[float, float]]:
        return [(op.start, op.build_end)]

    def suite_s(self, ops: list[Op]) -> float:
        """Sum over the queries of each query's median wall time."""
        by_name: dict[str, list[float]] = {}
        for op in ops:
            by_name.setdefault(op.name, []).append(op.wall)
        return sum(statistics.median(v) for v in by_name.values())

    def stored_per_input(self) -> float:
        return 0.0

    def trace_targets(self):
        from aind_protein_data_transformation_spark import catalog

        return [
            (catalog, "load_table", "catalog.load_table"),
            (catalog, "ensure_views", "catalog.ensure_views"),
        ]

    def layer_detail(self, ops: list[Op], spans) -> dict:
        return {}

    def context(self) -> dict:
        return {
            "queries": self.names,
            "input_bytes": self.input_bytes,
            "warm_up_s": self.warm_up_s,
            "ref.duckdb_suite_s": sum(self.reference.values()),  # first run of each query
            "ref.duckdb_queries_s": self.reference,
        }

    @staticmethod
    def _release(spark) -> None:
        # every operation re-executes from the files: drop what a query
        # persisted so the next one cannot read it from memory
        import aind_protein_data_transformation_spark.queries as q

        q.cache.release_caches()
        spark.catalog.clearCache()


class StackPyramid:
    """``arraylib.job.run_job`` over seed-drawn synthetic stacks, each job
    writing a fresh output root."""

    name = "stack_pyramid"
    build_prefix, input_prefix = "arraylib.plan.", "arraylib.stacks."
    N_STACKS, VOXELS_PER_STACK = 4, 180_000
    Z_RANGE, Y_RANGE = (17, 32), (49, 80)
    CHUNK = (16, 32, 32)

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.in_dir = os.path.join(work, "stacks")
        shapes = inputs.stack_shapes(
            seed, self.N_STACKS, self.VOXELS_PER_STACK, self.Z_RANGE, self.Y_RANGE
        )
        paths = inputs.write_stacks(self.in_dir, shapes)
        self.stacks = {os.path.basename(p): s for p, s in zip(paths, shapes)}
        self.voxels = sum(int(np.prod(s)) for s in shapes)
        self.input_bytes = 2 * self.voxels  # uint16
        self.ops_per_pass = 1
        self.min_ops = self.trace_ops = 2
        self.jobs_run = 0
        self.stored_bytes: list[int] = []

    def _job(self, spark, op: Op) -> list[str]:
        """Run one job into a fresh root, check every level against the
        golden, delete the root; returns the mismatches."""
        from aind_protein_data_transformation_spark.arraylib.job import StackJobSettings, run_job

        out = os.path.join(self.work, "out", f"job{self.jobs_run}")
        self.jobs_run += 1
        settings = StackJobSettings(input_source=self.in_dir, output_directory=out, chunk_size=self.CHUNK)
        op.start = op.build_end = time.time()
        response = run_job(spark, settings)
        op.end = time.time()
        try:
            if response.status_code != 0:
                return [f"run_job: {response.message}"]
            self.stored_bytes.append(_tree_bytes(out))
            return check.check_pyramid(out, self.stacks, settings.downsample_levels, settings.scale_factor)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def warm_up(self, spark) -> float:
        """Untimed first job. Returns its seconds."""
        op = Op("run_job", "warm-up")
        t0 = time.time()
        try:
            self.errors = self._job(spark, op)
        except Exception as exc:  # noqa: BLE001 - a failed job is a counted failure
            self.errors = [f"run_job raised {exc!r}"[:300]]
        return time.time() - t0 if op.end == 0.0 else op.wall

    def verify(self, threads: int) -> tuple[int, list[str]]:
        return 1, self.errors

    def op_names(self):
        while True:
            yield "run_job"

    def run_op(self, spark, name: str, op: Op, spans=None) -> None:
        errors = self._job(spark, op)
        if errors:
            op.ok, op.error = False, "; ".join(errors)[:300]

    def build_intervals(self, op: Op, spans) -> list[tuple[float, float]]:
        """Driver-side Python work inside the job: plan building, listing
        and metadata writes."""
        within = {"start": op.start, "end": op.end}
        return [
            (r["start"], r["end"])
            for prefix in ("arraylib.plan.", "arraylib.stacks.", "arraylib.ome.")
            for r in spans.top_level(prefix, within)
        ]

    def suite_s(self, ops: list[Op]) -> float:
        return statistics.median(op.wall for op in ops)

    def stored_per_input(self) -> float:
        return statistics.median(self.stored_bytes) / self.input_bytes

    def context(self) -> dict:
        return {
            "stacks": {k: list(v) for k, v in self.stacks.items()},
            "voxels": self.voxels,
            "chunk_size": list(self.CHUNK),
            "stored_bytes_per_input_byte": self.stored_per_input() if self.stored_bytes else None,
        }

    def trace_targets(self):
        """(module, attr, span name) for every arraylib call run_job makes."""
        from aind_protein_data_transformation_spark.arraylib import blocks, decode, ome, pyramid, stacks

        return [
            (stacks, "scan_stack_dir", "arraylib.stacks.scan_stack_dir"),
            (stacks, "deal_round_robin", "arraylib.stacks.deal_round_robin"),
            (stacks, "select_bucket", "arraylib.stacks.select_bucket"),
            (decode, "decode_stacks", "arraylib.plan.decode_stacks"),
            (decode, "pad_to_5d", "arraylib.plan.pad_to_5d"),
            (pyramid, "downsample_once", "arraylib.plan.downsample_once"),
            (blocks, "encode_chunks", "arraylib.plan.encode_chunks"),
            (blocks, "write_level_parquet", "arraylib.blocks.write_level_parquet"),
            (ome, "build_multiscales_metadata", "arraylib.ome.build_multiscales_metadata"),
            (ome, "write_ome_ngff_json", "arraylib.ome.write_ome_ngff_json"),
        ]

    def layer_detail(self, ops: list[Op], spans) -> dict:
        """Per job: prep (before the first level write), each level's write
        span (its downsample and encode run inside it) and the OME writes."""
        jobs = []
        for op in ops:
            within = {"start": op.start, "end": op.end}
            writes = spans.top_level("arraylib.blocks.write_level_parquet", within)
            jobs.append(
                {
                    "prep_s": (writes[0]["start"] if writes else op.end) - op.start,
                    "level_write_s": {f"L{i}": w["end"] - w["start"] for i, w in enumerate(writes)},
                    "ome_s": spans.total("arraylib.ome.", within),
                }
            )
        return {"jobs": jobs}


def _tree_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


WORKLOADS = {w.name: w for w in (Headline, StackPyramid)}
