"""Span recorder and Spark event-log reader for the traced run.

Spans are kept in memory and written out once, when the run ends. They
wrap the public calls into each layer from the outside (module attributes
are swapped for the duration of :func:`patched`); the program itself is
not instrumented.

The event log (``spark.eventLog.enabled``, uncompressed, one JSON event
per line) gives what the driver-side spans cannot see: job and SQL
execution intervals, and per-task metrics. Jobs and SQL executions are
matched to benchmark operations by their job group, which the benchmark
sets per operation.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import time
from dataclasses import dataclass, field


class Spans:
    """In-memory span list: ``(id, parent, name, start, end, attrs)`` with
    epoch-second timestamps (the event log's clock, at finer grain)."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.records),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            **({"attrs": attrs} if attrs else {}),
        }
        self.records.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def top_level(self, prefix: str, within: dict | None = None) -> list[dict]:
        """Spans named ``prefix*`` that have no ``prefix*`` ancestor,
        optionally only those inside ``within``'s interval."""
        out = []
        for rec in self.records:
            if not rec["name"].startswith(prefix) or rec["end"] is None:
                continue
            parent = rec["parent"]
            nested = False
            while parent is not None:
                if self.records[parent]["name"].startswith(prefix):
                    nested = True
                    break
                parent = self.records[parent]["parent"]
            if nested:
                continue
            if within and not (within["start"] <= rec["start"] and rec["end"] <= within["end"]):
                continue
            out.append(rec)
        return out

    def total(self, prefix: str, within: dict | None = None) -> float:
        return sum(r["end"] - r["start"] for r in self.top_level(prefix, within))


@contextlib.contextmanager
def patched(spans: Spans, targets: list[tuple[object, str, str]]):
    """Swap ``module.attr`` for a span-recording wrapper named ``span``.

    The same function object bound under the same name in any other
    loaded module (``from .catalog import load_table``) is swapped too, so
    every call site is seen. Everything is restored on exit.
    """
    swapped: list[tuple[object, str, object]] = []
    try:
        for module, attr, name in targets:
            original = getattr(module, attr)
            wrapper = spans.wrap(original, name)
            for mod in list(sys.modules.values()):
                if getattr(mod, attr, None) is original:
                    swapped.append((mod, attr, original))
                    setattr(mod, attr, wrapper)
        yield
    finally:
        for mod, attr, original in reversed(swapped):
            setattr(mod, attr, original)


# ---------------------------------------------------------------- event log

#: plan nodes that run Python workers (pandas/Arrow UDF evaluation)
_PY_NODE_MARKERS = ("Python", "InPandas", "InArrow")


@dataclass
class EventLog:
    jobs: dict[int, dict] = field(default_factory=dict)
    executions: dict[int, dict] = field(default_factory=dict)
    tasks: list[dict] = field(default_factory=list)
    #: accumulator id -> "rows" | "bytes" for Python-worker plan nodes
    py_accums: dict[int, str] = field(default_factory=dict)


def event_log_files(log_dir: str) -> list[str]:
    """The event-log files under ``log_dir``: one plain file, or the
    parts of a rolling ``eventlog_v2_*`` directory, in name order."""
    files = []
    for root, _, names in os.walk(log_dir):
        files += [os.path.join(root, n) for n in names if not n.startswith((".", "appstatus"))]
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")
    return sorted(files)


def _plan_py_accums(plan: dict, out: dict[int, str]) -> None:
    if any(m in plan.get("nodeName", "") for m in _PY_NODE_MARKERS):
        for metric in plan.get("metrics", []):
            name = metric["name"]
            if name == "number of output rows":
                out[metric["accumulatorId"]] = "rows"
            elif name.startswith("data sent to Python") or name.startswith("data returned from Python"):
                out[metric["accumulatorId"]] = "bytes"
    for child in plan.get("children", []):
        _plan_py_accums(child, out)


def _int_updates(accumulables: list[dict]) -> dict[int, int]:
    """Task accumulator updates; SQL metrics log theirs as decimal strings."""
    out = {}
    for a in accumulables:
        upd = a.get("Update")
        if isinstance(upd, str) and upd.isdigit():
            upd = int(upd)
        if isinstance(upd, int):
            out[a["ID"]] = upd
    return out


def parse_event_log(paths: list[str]) -> EventLog:
    """Read one application's events (its log file, or its rolling parts
    in order) into jobs, SQL executions, task metrics and the accumulator
    ids of Python-worker plan nodes."""
    log = EventLog()
    stage_job: dict[int, int] = {}
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": list(ev["Stage IDs"]),
                    }
                    log.jobs[ev["Job ID"]] = job
                    for sid in job["stages"]:
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    log.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev["Task Info"]
                    sr = m.get("Shuffle Read Metrics", {})
                    log.tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "job": stage_job.get(ev["Stage ID"]),
                            "run_s": m.get("Executor Run Time", 0) / 1000.0,
                            "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                            "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
                            "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
                            "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0),
                            "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            "spill_bytes": m.get("Disk Bytes Spilled", 0),
                            "accums": _int_updates(info.get("Accumulables", [])),
                        }
                    )
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    log.executions[ev["executionId"]] = {
                        "group": ev.get("jobGroupId"),
                        "start": ev["time"] / 1000.0,
                        "end": None,
                    }
                    _plan_py_accums(ev.get("sparkPlanInfo", {}), log.py_accums)
                elif kind.endswith("SparkListenerSQLExecutionEnd"):
                    if ev["executionId"] in log.executions:
                        log.executions[ev["executionId"]]["end"] = ev["time"] / 1000.0
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_py_accums(ev.get("sparkPlanInfo", {}), log.py_accums)
    return log


def union_s(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    return sum(e - s for s, e in _merge(intervals))


def _clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e is not None and e > lo and s < hi]


#: the event log stamps in whole milliseconds; an interval edge may sit
#: up to one tick outside the Python span that contains it
_TICK = 0.001


def op_breakdown(log: EventLog, group: str, start: float, end: float, build: list[tuple[float, float]]) -> dict:
    """Where one operation's wall time went.

    ``build`` lists the operation's driver-side Python intervals (a
    query's ``fn()``; the plan-building, listing and metadata calls inside
    ``run_job``). Jobs submitted inside them are eager build work. The
    rest is the action: SQL-execution time not covered by a job is
    optimisation, AQE re-planning and scheduling (``outside_jobs_s``),
    and whatever neither the build spans nor the event log cover is
    ``unaccounted_s``.
    """
    build = _merge(build)

    def in_build(t: float) -> bool:
        return any(s - _TICK <= t <= e + _TICK for s, e in build)

    jobs = {jid: j for jid, j in log.jobs.items() if j["group"] == group}
    build_jobs = [j for j in jobs.values() if in_build(j["start"])]
    action_ids = {jid for jid, j in jobs.items() if not in_build(j["start"])}
    execs = _merge(
        (x["start"], x["end"])
        for x in log.executions.values()
        if x["group"] == group and x["end"] is not None and not in_build(x["start"])
    )
    job_iv = [(jobs[jid]["start"], jobs[jid]["end"]) for jid in action_ids]
    sql_s = union_s(execs)
    covered = sum(union_s(_clip(job_iv, s, e)) for s, e in execs)
    tasks = [t for t in log.tasks if t["job"] in action_ids]
    wall = end - start
    build_s = union_s(build)
    py_rows = py_bytes = 0
    for t in tasks:
        for acc_id, upd in t["accums"].items():
            kind = log.py_accums.get(acc_id)
            if kind == "rows":
                py_rows += upd
            elif kind == "bytes":
                py_bytes += upd
    return {
        "wall_s": wall,
        "build_s": build_s,
        "build_jobs": len(build_jobs),
        "build_in_jobs_s": union_s([(j["start"], j["end"]) for j in build_jobs]),
        "action_s": wall - build_s,
        "sql_s": sql_s,
        "in_jobs_s": union_s(job_iv),
        "outside_jobs_s": max(0.0, sql_s - covered),
        "unaccounted_s": wall - build_s - union_s(list(execs) + job_iv),
        "jobs": len(action_ids),
        "stages": len({t["stage"] for t in tasks}),
        "tasks": len(tasks),
        "task_busy_s": sum(t["run_s"] for t in tasks),
        "max_task_s": max((t["run_s"] for t in tasks), default=0.0),
        "gc_s": sum(t["gc_s"] for t in tasks),
        "input_bytes": sum(t["input_bytes"] for t in tasks),
        "output_bytes": sum(t["output_bytes"] for t in tasks),
        "shuffle_read_bytes": sum(t["shuffle_read_bytes"] for t in tasks),
        "shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
        "spill_bytes": sum(t["spill_bytes"] for t in tasks),
        "python_rows": py_rows,
        "python_bytes": py_bytes,
    }


def _merge(intervals) -> list[tuple[float, float]]:
    """Disjoint, sorted union of the non-empty ``(start, end)`` intervals."""
    out: list[list[float]] = []
    for s, e in sorted(i for i in intervals if i[1] is not None and i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]
