#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process, one client, Spark
``local[<cores>]`` with cores read from the CPU affinity mask and the
cgroup quota; DuckDB runs on the same thread count. The run:

1. prepares the workload's inputs from ``--seed``: the query order over
   the tables in ``perfbench/data/``, or stack files under ``.perfbench/``;
2. set-up (``setup_s``): imports the package, starts the SparkSession
   and runs the untimed warm-up pass, which collects every answer;
3. checks the warm-up answers (DuckDB oracle SQL for queries, a numpy
   golden for every pyramid level);
4. runs operations in a closed loop for ``--seconds`` (at least one
   whole pass), with tracing off;
5. with ``--trace 1``, restarts the session with the Spark event log on,
   runs one untimed pass, then traced passes with spans around every
   call into the queries / catalog / arraylib layers, and reports the
   per-layer metrics instead of the end-to-end ones.

The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``; the full run record
(host facts, per-operation times, the DuckDB reference, the trace) is
written to ``.perfbench/records/`` and summarised on stderr. See
``perfbench/LAYERS.md`` for what each metric means and which end-to-end
metric each per-layer metric should move.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import re
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "aind_protein_data_transformation_spark"

#: a traced operation's wall time counts as accounted for when the build
#: spans plus the event log's SQL executions and jobs cover all of it but
#: this much
TOLERANCE_S, TOLERANCE_FRAC = 0.05, 0.10


def host_cores() -> int:
    """Usable cores: the affinity mask, capped by a cgroup v2 CPU quota."""
    cores = len(os.sched_getaffinity(0))
    try:
        with open("/sys/fs/cgroup/cpu.max", encoding="ascii") as fh:
            quota, period = fh.read().split()
        if quota != "max":
            cores = min(cores, max(1, int(int(quota) / int(period))))
    except (OSError, ValueError):
        pass
    return cores


def host_memory_bytes() -> int:
    """Physical memory, capped by a cgroup v2 memory limit."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        total = int(fh.readline().split()[1]) * 1024
    try:
        with open("/sys/fs/cgroup/memory.max", encoding="ascii") as fh:
            limit = fh.read().strip()
        if limit != "max":
            total = min(total, int(limit))
    except (OSError, ValueError):
        pass
    return total


def cpu_times() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    :func:`cpu_times` readings; a slowdown that shows here is the host's."""
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / sum(delta) if sum(delta) > 0 else 0.0


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children", encoding="ascii") as fh:
                kids = [int(k) for k in fh.read().split()]
        except OSError:
            kids = []
        out += kids
        todo += kids
    return out


#: an evacuating collection in the JVM's unified GC log:
#: "... Pause Young (Normal) (G1 Evacuation Pause) 120M->40M(256M) 3.2ms".
#: Remark and Cleanup pauses evacuate nothing, so their "after" figure
#: still holds the young generation.
_GC_PAUSE = re.compile(r"Pause (?:Young|Full) .*?(\d+)([KMG])->(\d+)([KMG])\((\d+)[KMG]\)")
_MB = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}


def peak_heap_after_gc_mb(gc_log: str) -> float:
    """Largest heap occupancy a young, mixed or full collection left
    behind, in MB, whatever size the collector let the heap grow to. A
    young collection leaves old-generation garbage in place, so the
    figure moves with what the run promotes as well as with what it
    keeps live. 0.0 when the log records no collection."""
    peak = 0.0
    try:
        with open(gc_log, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                m = _GC_PAUSE.search(line)
                if m:
                    peak = max(peak, int(m.group(3)) * _MB[m.group(4)])
    except OSError:
        pass
    return peak


def jvm_pid() -> int | None:
    """The driver JVM: the gateway process or its ``java`` descendant."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return None
    for pid in [proc.pid, *_descendants(proc.pid)]:
        try:
            with open(f"/proc/{pid}/comm", encoding="ascii") as fh:
                if fh.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def prepare_env(work: str, cores: int) -> None:
    """Pin the environment the session inherits: the package importable
    by Python workers, every scratch path inside the run's work dir, and
    the package's own knobs at their defaults."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ["SPARK_GRAFT_MASTER"] = f"local[{cores}]"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM that spark-submit starts would write hsperfdata to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def start_session(work: str, event_log_dir: str | None = None):
    from aind_protein_data_transformation_spark.session import get_spark

    conf = {
        # the driver heap stays at the package's default; the GC log gives
        # the heap occupancy; hsperfdata would land in /tmp whatever
        # java.io.tmpdir says
        "spark.driver.extraJavaOptions": (
            f"-Xlog:gc:file={os.path.join(work, 'gc.log')} "
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
            }
        )
    spark = get_spark("perfbench", **conf)
    # window queries log a WindowExec warning per run; keep stderr readable
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the gateway JVM (and with it the Python worker daemons) and
    wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort at shutdown
            proc.kill()
            proc.wait()


def session_floor(spark) -> float:
    """Median of five warmed one-row noop writes: the fixed cost of any
    query on this session."""
    df = spark.range(1)
    df.write.format("noop").mode("overwrite").save()
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def closed_loop(wl, spark, seconds: float | None, ops_wanted: int | None = None, spans=None, tag="op"):
    """Run operations back to back until ``seconds`` have passed and at
    least ``wl.min_ops`` ran (or exactly ``ops_wanted``)."""
    from workloads import Op

    sc = spark.sparkContext
    ops = []
    deadline = time.time() + (seconds or 0)
    names = wl.op_names()
    while True:
        if ops_wanted is not None and len(ops) >= ops_wanted:
            break
        if ops_wanted is None and len(ops) >= wl.min_ops and time.time() >= deadline:
            break
        name = next(names)
        op = Op(name, f"{tag}-{len(ops)}")
        sc.setJobGroup(op.group, name)
        t0 = time.time()
        try:
            wl.run_op(spark, name, op, spans)
        except Exception as exc:  # noqa: BLE001 - counted as a failed operation
            op.ok, op.error = False, repr(exc)[:300]
            op.start, op.end = op.start or t0, op.end or time.time()
        ops.append(op)
    sc.setLocalProperty("spark.jobGroup.id", None)
    return ops


def trace_run(wl, work: str, cores: int, untraced_suite: float, record: dict, failures: list[str]):
    """Second session with the event log on: one untimed pass, then
    ``wl.trace_ops`` traced operations. Returns the per-layer metrics and
    every operation run. An operation whose wall time the breakdown does
    not account for within the tolerance is added to ``failures``."""
    import tracing as tr

    log_dir = os.path.join(work, "eventlog")
    spark = start_session(work, log_dir)
    try:
        rewarm = closed_loop(wl, spark, None, wl.ops_per_pass, tag="rewarm")
        spans = tr.Spans()
        with tr.patched(spans, wl.trace_targets()):
            ops = closed_loop(wl, spark, None, wl.trace_ops, spans=spans, tag="traced")
    finally:
        spark.stop()
    log = tr.parse_event_log(tr.event_log_files(log_dir))
    rows = []
    for op in ops:
        row = tr.op_breakdown(log, op.group, op.start, op.end, wl.build_intervals(op, spans))
        row["name"] = op.name
        row["accounted"] = abs(row["unaccounted_s"]) <= TOLERANCE_S + TOLERANCE_FRAC * row["wall_s"]
        if not row["accounted"]:
            failures.append(
                f"trace: {op.name} ({op.group}): {row['unaccounted_s']:.3f} s of "
                f"{row['wall_s']:.3f} s wall not accounted for"
            )
        rows.append(row)
    passes = len(ops) / wl.ops_per_pass

    def per_pass(key: str) -> float:
        return sum(r[key] for r in rows) / passes

    busy = sum(r["task_busy_s"] for r in rows)
    action = sum(r["action_s"] for r in rows)
    traced_suite = wl.suite_s(ops)
    metrics = {
        "build.plan_s": spans.total(wl.build_prefix) / passes,
        "build.jobs": per_pass("build_jobs"),
        "input.load_s": spans.total(wl.input_prefix) / passes,
        "exec.action_s": per_pass("action_s"),
        "exec.outside_jobs_s": per_pass("outside_jobs_s"),
        "exec.in_jobs_s": per_pass("in_jobs_s"),
        "exec.jobs": per_pass("jobs"),
        "exec.stages": per_pass("stages"),
        "exec.tasks": per_pass("tasks"),
        "exec.task_busy_s": per_pass("task_busy_s"),
        "exec.idle_core_frac": 1.0 - busy / (action * cores) if action > 0 else 0.0,
        "exec.max_task_s": max(r["max_task_s"] for r in rows),
        "exec.gc_s": per_pass("gc_s"),
        "exec.input_bytes": per_pass("input_bytes"),
        "exec.shuffle_write_bytes": per_pass("shuffle_write_bytes"),
        "exec.shuffle_read_bytes": per_pass("shuffle_read_bytes"),
        "exec.spill_bytes": per_pass("spill_bytes"),
        "exec.output_bytes": per_pass("output_bytes"),
        "exec.python_rows": per_pass("python_rows"),
        "exec.python_bytes": per_pass("python_bytes"),
        "output.stored_per_input": wl.stored_per_input(),
        "trace.overhead_s": traced_suite - untraced_suite,
        "trace.unaccounted_s": per_pass("unaccounted_s"),
        "trace.ops_outside_tolerance": sum(not r["accounted"] for r in rows),
    }
    record["trace"] = {
        "tolerance": {"seconds": TOLERANCE_S, "fraction_of_wall": TOLERANCE_FRAC},
        "traced_suite_s": traced_suite,
        "untraced_suite_s": untraced_suite,
        "ops": rows,
        "layers": wl.layer_detail(ops, spans),
        "spans": spans.records,
    }
    return metrics, rewarm + ops


def run(args, work: str, cores: int, record: dict) -> dict:
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](work, args.seed)

    t0 = time.perf_counter()
    importlib.import_module(PACKAGE)
    spark = start_session(work)
    start_s = time.perf_counter() - t0
    warm = wl.warm_up(spark)
    setup_s = start_s + warm
    attempted, failures = wl.verify(cores)
    floor = session_floor(spark)
    driver_memory = spark.sparkContext.getConf().get("spark.driver.memory")
    ops = closed_loop(wl, spark, args.seconds)
    jvm = jvm_pid()
    rss_kb = _status_kb(os.getpid(), "VmHWM") + (_status_kb(jvm, "VmHWM") if jvm else 0)
    heap_mb = peak_heap_after_gc_mb(os.path.join(work, "gc.log"))
    spark.stop()

    walls = [op.wall for op in ops]
    suite = wl.suite_s(ops)
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "suite_s": (suite, "s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "input_mb_per_s": (wl.input_bytes / 1e6 / suite, "MB/s"),
        "peak_heap_mb": (heap_mb, "MB"),
    }
    record.update(
        {
            "host": {
                "cores": cores,
                "memory_bytes": host_memory_bytes(),
                "python": platform.python_version(),
                "spark": _version("pyspark"),
                "duckdb": _version("duckdb"),
                "driver_memory": driver_memory,
                "session.floor_s": floor,
            },
            "peak_rss_mb": rss_kb / 1024.0,
            "session.start_s": start_s,
            "warm_up_s": warm,
            "ops": [{"name": o.name, "wall_s": o.wall, "ok": o.ok} for o in ops],
            "n_ops": len(ops),
            "failures": failures,
            "workload": wl.context(),
            "end_to_end": {k: v for k, (v, _) in end_to_end.items()},
        }
    )
    if args.trace:
        layer, traced_ops = trace_run(wl, work, cores, suite, record, failures)
        ops += traced_ops
        layer = {"session.start_s": start_s, "session.floor_s": floor, **layer}
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
    attempted += len(ops)
    failures += [f"{op.name}: {op.error}" for op in ops if not op.ok]
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }


#: units of the per-layer metrics
UNITS = {
    "session.start_s": "s",
    "session.floor_s": "s",
    "build.plan_s": "s",
    "build.jobs": "count",
    "input.load_s": "s",
    "exec.action_s": "s",
    "exec.outside_jobs_s": "s",
    "exec.in_jobs_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_busy_s": "s",
    "exec.idle_core_frac": "ratio",
    "exec.max_task_s": "s",
    "exec.gc_s": "s",
    "exec.input_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.output_bytes": "bytes",
    "exec.python_rows": "count",
    "exec.python_bytes": "bytes",
    "output.stored_per_input": "ratio",
    "trace.overhead_s": "s",
    "trace.unaccounted_s": "s",
    "trace.ops_outside_tolerance": "count",
}


def _version(module: str) -> str:
    try:
        return importlib.import_module(module).__version__
    except (ImportError, AttributeError):
        return "unknown"


def main(argv: list[str]) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"{PACKAGE} is not importable from {ROOT}: run from the repository root", file=sys.stderr)
        return 2

    cores = host_cores()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    prepare_env(work, cores)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace}
    ticks = cpu_times()
    try:
        result = run(args, work, cores, record)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    record["host"]["steal_frac"] = steal_frac(ticks, cpu_times())
    record["result"] = result
    records = os.path.join(base, "records")
    os.makedirs(records, exist_ok=True)
    path = os.path.join(records, os.path.basename(work) + ".json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1)
    host = record["host"]
    print(
        f"[perfbench] {args.workload} seed={args.seed} cores={host['cores']} "
        f"spark={host['spark']} duckdb={host['duckdb']} floor={host['session.floor_s']:.4f}s "
        f"steal={host['steal_frac']:.3f} "
        f"ops={record['n_ops']} failed={result['failed']} record={os.path.relpath(path, ROOT)}",
        file=sys.stderr,
    )
    for failure in record["failures"]:
        print(f"[perfbench] FAILED {failure}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
