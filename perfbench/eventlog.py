"""Fold a Spark event log (uncompressed, non-rolling JSON lines) into
per-span metrics.

Attribution: a job belongs to the span whose id its ``perfbench.span``
local property carries; a stage belongs to the first job that lists it;
a task belongs to its stage.  A span's totals cover its own jobs and those
of every span nested under it.

Per-span figures:

* ``wall_s``, ``self_s`` (wall minus the part its child spans cover);
* ``driver_s`` — wall time with no task of the span's jobs running
  (planning, driver-side loops, file renames);
* ``exec_run_s``, ``exec_cpu_s``, ``gc_s`` — summed over tasks;
* ``shuffle_write_mb``, ``shuffle_read_mb``, ``spill_mb``;
* ``tasks``, ``failed_tasks``, ``jobs``;
* SQL-metric sums by operator: Python worker start/init/run time and bytes
  sent/returned (``MapInArrow``, ``ArrowEvalPython`` ...);
* executor run time by operator class (:func:`operator_class`).
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

from spans import PROPERTY
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"

PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
_PY_METRICS = (PY_START, PY_INIT, PY_RUN, PY_SENT, PY_RETURNED)

CLASSES = ("write", "python", "window", "scan", "exchange", "project")
_WINDOW_NODES = ("Window", "Sort", "HashAggregate", "ObjectHashAggregate",
                 "SortAggregate", "WindowGroupLimit")
_PYTHON_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                 "FlatMapGroupsInPandas", "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas",
                 "AggregateInPandas", "WindowInPandas", "PythonMapInArrow",
                 "ArrowWindowPython", "PythonUDTF", "ArrowEvalPythonUDTF")


@dataclass
class Task:
    stage: int
    attempt: int
    launch: float
    finish: float
    failed: bool
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_b: int
    shuffle_read_b: int
    spill_b: int
    input_b: int
    output_b: int
    accums: dict[int, float] = field(default_factory=dict)


@dataclass
class EventLog:
    job_span: dict[int, int] = field(default_factory=dict)      # job -> span id
    stage_job: dict[int, int] = field(default_factory=dict)     # stage -> job
    tasks: list[Task] = field(default_factory=list)
    stage_nodes: dict[int, set[str]] = field(default_factory=dict)  # RDD scope names
    accum_node: dict[int, tuple[str, str]] = field(default_factory=dict)  # acc -> (node, metric)


def _walk_plan(info: dict, out: dict[int, tuple[str, str]]) -> None:
    node = info.get("nodeName", "").strip()
    for m in info.get("metrics", []):
        out[int(m["accumulatorId"])] = (node, m["name"])
    for child in info.get("children", []):
        _walk_plan(child, out)


def read(path: str) -> EventLog:
    log = EventLog()
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                job = e["Job ID"]
                span = (e.get("Properties") or {}).get(PROPERTY)
                if span is not None:
                    log.job_span[job] = int(span)
                for sid in e.get("Stage IDs", []):
                    log.stage_job.setdefault(sid, job)
            elif kind == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                accums = {}
                for a in info.get("Accumulables", []):
                    # SQL metrics carry Metadata "sql" and a string Update
                    if a.get("Metadata") == "sql" and a.get("Update") is not None:
                        accums[int(a["ID"])] = float(a["Update"])
                log.tasks.append(Task(
                    stage=e["Stage ID"],
                    attempt=info.get("Attempt", 0),
                    launch=info["Launch Time"] / 1000.0,
                    finish=info["Finish Time"] / 1000.0,
                    failed=bool(info.get("Failed")) or
                    (e.get("Task End Reason") or {}).get("Reason") != "Success",
                    run_s=m.get("Executor Run Time", 0) / 1000.0,
                    cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                    gc_s=m.get("JVM GC Time", 0) / 1000.0,
                    shuffle_write_b=sw.get("Shuffle Bytes Written", 0),
                    shuffle_read_b=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    spill_b=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    input_b=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    output_b=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    accums=accums,
                ))
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                names = log.stage_nodes.setdefault(info["Stage ID"], set())
                for rdd in info.get("RDD Info", []):
                    if rdd.get("Scope"):
                        names.add(json.loads(rdd["Scope"])["name"].strip())
            elif kind in (_SQL_START, _SQL_AQE) and "sparkPlanInfo" in e:
                _walk_plan(e["sparkPlanInfo"], log.accum_node)
    return log


def operator_class(task: Task, log: EventLog) -> str:
    """One class per task, by the operators of its stage (the RDD scope
    names, which name every operator outside whole-stage codegen, plus the
    operators whose SQL metrics the task updated) and by its I/O, in
    priority order: ``write`` (bytes written to files) > ``python`` >
    ``window`` (window, sort, aggregate) > ``scan`` (file scan or bytes
    read) > ``exchange`` (shuffle only) > ``project`` (everything else).
    The classes partition executor run time, so they add up to the span's
    ``exec_run_s``."""
    if task.output_b > 0:
        return "write"
    nodes = set(log.stage_nodes.get(task.stage, ()))
    nodes.update(log.accum_node[a][0] for a in task.accums if a in log.accum_node)
    if any(n.startswith(_PYTHON_NODES) for n in nodes):
        return "python"
    if any(n.startswith(_WINDOW_NODES) for n in nodes):
        return "window"
    if task.input_b > 0 or any(n.startswith("Scan") for n in nodes):
        return "scan"
    if task.shuffle_write_b > 0 or task.shuffle_read_b > 0:
        return "exchange"
    return "project"


def _union_within(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def fold(log: EventLog, spans: list) -> dict[int, dict]:
    """span id -> metrics dict, for every span in ``spans`` (objects with
    ``id``, ``parent``, ``start``, ``end``)."""
    by_id = {s.id: s for s in spans}
    children: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s.id)

    def subtree(sid: int) -> set[int]:
        out, todo = set(), [sid]
        while todo:
            x = todo.pop()
            out.add(x)
            todo.extend(children[x])
        return out

    tasks_by_span: dict[int, list[Task]] = defaultdict(list)
    jobs_by_span: dict[int, int] = defaultdict(int)
    for job, sid in log.job_span.items():
        jobs_by_span[sid] += 1
    for t in log.tasks:
        job = log.stage_job.get(t.stage)
        sid = log.job_span.get(job) if job is not None else None
        if sid is not None:
            tasks_by_span[sid].append(t)

    out = {}
    for s in spans:
        ids = subtree(s.id)
        ts = [t for i in ids for t in tasks_by_span.get(i, [])]
        kids = [by_id[c] for c in children[s.id]]
        child_cover = _union_within([(k.start, k.end) for k in kids], s.start, s.end)
        wall = s.end - s.start
        m = {
            "wall_s": wall,
            "self_s": wall - child_cover,
            "driver_s": wall - _union_within([(t.launch, t.finish) for t in ts], s.start, s.end),
            "exec_run_s": sum(t.run_s for t in ts),
            "exec_cpu_s": sum(t.cpu_s for t in ts),
            "gc_s": sum(t.gc_s for t in ts),
            "shuffle_write_mb": sum(t.shuffle_write_b for t in ts) / 1e6,
            "shuffle_read_mb": sum(t.shuffle_read_b for t in ts) / 1e6,
            "spill_mb": sum(t.spill_b for t in ts) / 1e6,
            "tasks": len(ts),
            "failed_tasks": sum(1 for t in ts if t.failed),
            "retried_tasks": sum(1 for t in ts if t.attempt > 0),
            "jobs": sum(jobs_by_span.get(i, 0) for i in ids),
            "own_jobs": jobs_by_span.get(s.id, 0),
            "task_walls_s": sorted(t.finish - t.launch for t in ts),
        }
        py = dict.fromkeys(_PY_METRICS, 0.0)
        cls = dict.fromkeys(CLASSES, 0.0)
        for t in ts:
            cls[operator_class(t, log)] += t.run_s
            for a, v in t.accums.items():
                node = log.accum_node.get(a)
                if node is not None and node[1] in py:
                    py[node[1]] += v
        m["python_init_s"] = (py[PY_START] + py[PY_INIT]) / 1000.0
        m["python_run_s"] = py[PY_RUN] / 1000.0
        m["python_mb"] = (py[PY_SENT] + py[PY_RETURNED]) / 1e6
        for c, v in cls.items():
            m[f"class_{c}_s"] = v
        out[s.id] = m
    return out
