"""Stdlib-only reader for Spark's JSON event log, and the span arithmetic
of the traced run.

A traced run tags the Spark jobs of each span with the job group
``perfbench-span-<id>``. This module maps every job back to its span,
sums the task and SQL metrics of the job's stages per span, and computes
a span's self time (its duration minus the part covered by child spans)
and its driver gap (its duration minus the part covered by Spark jobs).
All times are seconds; event-log times (epoch milliseconds) are converted
on read.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

GROUP_PREFIX = "perfbench-span-"

# task-level counters summed per span; names are the metric names the
# traced run reports under ``spark.``
TASK_FIELDS = (
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "scheduler_delay_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "python_bytes_sent",
    "python_bytes_received",
)

# SQL metrics of the Python operators (ArrowEvalPython, FlatMapGroupsInPandas,
# applyInPandasWithState, ...), reported per task as accumulables
_PY_SENT = "data sent to Python workers"
_PY_RECEIVED = "data returned from Python workers"


def group_for(span_id: int) -> str:
    return f"{GROUP_PREFIX}{span_id}"


def span_of_group(group: str | None) -> int | None:
    if not group or not group.startswith(GROUP_PREFIX):
        return None
    try:
        return int(group[len(GROUP_PREFIX):])
    except ValueError:
        return None


def _log_files(path: str) -> list[str]:
    """A log file, or every event file under a log directory in write
    order (Spark 4 writes ``eventlog_v2_<app>/events_<n>_<app>``)."""
    if not os.path.isdir(path):
        return [path]
    found = []
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "appstatus")):
                continue
            idx = n.split("_")[1] if n.startswith("events_") else ""
            found.append((d, int(idx) if idx.isdigit() else 0, n))
    return [os.path.join(d, n) for d, _, n in sorted(found)]


def read_events(path: str):
    """Yield the events of one log file, or of every log file under a directory."""
    for f in _log_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _num(v) -> float:
    if isinstance(v, (int, float)):
        return float(v)
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _task_counters(ev: dict) -> dict[str, float]:
    tm = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    run_ms = _num(tm.get("Executor Run Time"))
    duration_ms = _num(info.get("Finish Time")) - _num(info.get("Launch Time"))
    busy_ms = (
        run_ms
        + _num(tm.get("Executor Deserialize Time"))
        + _num(tm.get("Result Serialization Time"))
    )
    out = {
        "executor_run_s": run_ms / 1e3,
        "executor_cpu_s": _num(tm.get("Executor CPU Time")) / 1e9,
        "gc_s": _num(tm.get("JVM GC Time")) / 1e3,
        "scheduler_delay_s": max(0.0, duration_ms - busy_ms) / 1e3,
        "shuffle_read_bytes": _num(sr.get("Remote Bytes Read")) + _num(sr.get("Local Bytes Read")),
        "shuffle_write_bytes": _num(sw.get("Shuffle Bytes Written")),
        "spill_bytes": _num(tm.get("Memory Bytes Spilled")) + _num(tm.get("Disk Bytes Spilled")),
        "python_bytes_sent": 0.0,
        "python_bytes_received": 0.0,
    }
    for acc in info.get("Accumulables") or ():
        name = acc.get("Name")
        if name == _PY_SENT:
            out["python_bytes_sent"] += _num(acc.get("Update"))
        elif name == _PY_RECEIVED:
            out["python_bytes_received"] += _num(acc.get("Update"))
    return out


def parse(events) -> dict:
    """Jobs, stages and per-stage task sums from an event stream.

    Returns ``{"jobs": {job_id: {...}}, "stages": {stage_id: {...}}}``
    where a job holds its span id (from the job group), start/end
    seconds and stage ids, and a stage holds its wall seconds, task count
    and the summed ``TASK_FIELDS``.
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_sums: dict[int, dict[str, float]] = defaultdict(lambda: dict.fromkeys(TASK_FIELDS, 0.0))
    stage_tasks: dict[int, int] = defaultdict(int)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "span": span_of_group(props.get("spark.jobGroup.id")),
                "start": _num(ev.get("Submission Time")) / 1e3,
                "end": None,
                "stages": list(ev.get("Stage IDs") or ()),
            }
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = _num(ev.get("Completion Time")) / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info") or {}
            sid = info.get("Stage ID")
            sub, done = info.get("Submission Time"), info.get("Completion Time")
            stages[sid] = {
                "name": info.get("Stage Name", ""),
                "wall_s": max(0.0, _num(done) - _num(sub)) / 1e3 if sub and done else 0.0,
            }
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            stage_tasks[sid] += 1
            sums = stage_sums[sid]
            for k, v in _task_counters(ev).items():
                sums[k] += v
    for sid, st in stages.items():
        st["tasks"] = stage_tasks.get(sid, 0)
        st.update(stage_sums.get(sid, dict.fromkeys(TASK_FIELDS, 0.0)))
    return {"jobs": jobs, "stages": stages}


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals`` ((start, end) pairs), each
    clipped to [lo, hi] when given; overlaps count once."""
    clipped = []
    for s, e in intervals:
        if s is None or e is None:
            continue
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it that child spans cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for sp in spans:
        if sp.get("parent") is not None:
            children[sp["parent"]].append((sp["start"], sp["end"]))
    return {
        sp["id"]: (sp["end"] - sp["start"]) - union_length(children[sp["id"]], sp["start"], sp["end"])
        for sp in spans
    }


def attribute(spans: list[dict], parsed: dict) -> dict[int, dict]:
    """Per span: the jobs tagged with its group, or with one of the groups
    listed in its ``groups`` (a streaming query tags its micro-batch jobs
    with its run id), and, inclusive of descendants, job count, stage
    count, task count, stage wall, the summed task counters and
    ``driver_gap_s`` (span time not covered by any of its jobs)."""
    by_id = {sp["id"]: sp for sp in spans}
    alias = {g: sp["id"] for sp in spans for g in sp.get("groups", ())}
    own_jobs: dict[int, list[dict]] = defaultdict(list)
    for job in parsed["jobs"].values():
        sid = job["span"] if job["span"] in by_id else alias.get(job.get("group"))
        if sid is not None:
            own_jobs[sid].append(job)
    kids: dict[int, list[int]] = defaultdict(list)
    for sp in spans:
        if sp.get("parent") in by_id:
            kids[sp["parent"]].append(sp["id"])

    def subtree_jobs(sid: int) -> list[dict]:
        out = list(own_jobs.get(sid, ()))
        for k in kids.get(sid, ()):
            out.extend(subtree_jobs(k))
        return out

    result = {}
    for sp in spans:
        jobs = subtree_jobs(sp["id"])
        stage_ids = {s for j in jobs for s in j["stages"] if s in parsed["stages"]}
        sums = dict.fromkeys(TASK_FIELDS, 0.0)
        for s in stage_ids:
            for k in TASK_FIELDS:
                sums[k] += parsed["stages"][s][k]
        covered = union_length([(j["start"], j["end"]) for j in jobs], sp["start"], sp["end"])
        result[sp["id"]] = {
            "own_jobs": len(own_jobs.get(sp["id"], ())),
            "jobs": len(jobs),
            "stages": len(stage_ids),
            "tasks": sum(parsed["stages"][s]["tasks"] for s in stage_ids),
            "stage_s": sum(parsed["stages"][s]["wall_s"] for s in stage_ids),
            "job_s": covered,
            "driver_gap_s": (sp["end"] - sp["start"]) - covered,
            **sums,
        }
    return result
