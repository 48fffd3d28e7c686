"""Fold a Spark event log into per-job records and per-phase totals.

The benchmark runs each query in two phases, ``build`` (the registry
callable) and ``exec`` (the noop write), and tags every job with the
job group ``"<query id>|<phase>"``. :func:`read_jobs` turns the JSON
lines of an uncompressed, non-rolling event log into one
:class:`Job` per Spark job, with its stage and task metrics summed and
the SQL metrics of its Python nodes (``MapInPandas``, ``ArrowEvalPython``,
...) attached. :func:`by_phase` adds the jobs up per phase: by job group
when the job carries one of the phase keys, else by the phase whose
time interval holds the job's submission time (jobs started from
threads that did not inherit the group).
"""

from __future__ import annotations

import json
from collections.abc import Iterable
from dataclasses import dataclass, field

MB = 1024 * 1024

# per-job metric names; every Job.m and every by_phase value has all of them
FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "stage_wait_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "input_mb",
    "output_mb",
    "output_records",
    "task_failures",
    "py_sent_mb",
    "py_received_mb",
    "py_rows_received",
    "py_run_s",
)

# SQL metrics of a Python plan node -> (Job.m field, scale to the field's unit)
_PY_METRICS = {
    "data sent to Python workers": ("py_sent_mb", 1 / MB),
    "data returned from Python workers": ("py_received_mb", 1 / MB),
    "number of output rows": ("py_rows_received", 1.0),
    "time to run Python workers": ("py_run_s", None),  # scale from metricType
}
_TIMING_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


@dataclass
class Job:
    job_id: int
    submit_ms: int
    group: str | None
    m: dict[str, float] = field(default_factory=lambda: dict.fromkeys(FIELDS, 0.0))


@dataclass(frozen=True)
class Phase:
    key: str  # "<query id>|build" or "<query id>|exec"
    start_ms: float
    end_ms: float


def _python_metric_ids(node: dict, out: dict[int, tuple[str, float]]) -> None:
    names = {m["name"] for m in node.get("metrics", [])}
    if "data sent to Python workers" in names:
        for m in node["metrics"]:
            spec = _PY_METRICS.get(m["name"])
            if spec is not None:
                name, scale = spec
                if scale is None:
                    scale = _TIMING_SCALE.get(m.get("metricType"), 1e-3)
                out[m["accumulatorId"]] = (name, scale)
    for child in node.get("children", []):
        _python_metric_ids(child, out)


def read_jobs(lines: Iterable[str]) -> list[Job]:
    """One :class:`Job` per ``SparkListenerJobStart`` in the log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[tuple[int, int], int] = {}
    py_ids: dict[int, tuple[str, float]] = {}
    tasks: list[dict] = []
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = Job(e["Job ID"], e["Submission Time"], props.get("spark.jobGroup.id"))
            jobs[job.job_id] = job
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            stage_submit[key] = info.get("Submission Time") or 0
            job = jobs.get(stage_job.get(info["Stage ID"], -1))
            if job is not None:
                job.m["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            tasks.append(e)
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _python_metric_ids(e["sparkPlanInfo"], py_ids)
    for job in jobs.values():
        job.m["jobs"] = 1.0
    for e in tasks:
        job = jobs.get(stage_job.get(e["Stage ID"], -1))
        if job is None:
            continue
        m = job.m
        info = e["Task Info"]
        tm = e.get("Task Metrics") or {}
        m["tasks"] += 1
        if (e.get("Task End Reason") or {}).get("Reason") != "Success":
            m["task_failures"] += 1
        submitted = stage_submit.get((e["Stage ID"], e["Stage Attempt ID"]))
        if submitted:
            m["stage_wait_s"] += max(0, info["Launch Time"] - submitted) / 1e3
        m["task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
        m["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        m["spill_mb"] += (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / MB
        rd = tm.get("Shuffle Read Metrics") or {}
        m["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)) / MB
        m["shuffle_write_mb"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
        m["input_mb"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
        out = tm.get("Output Metrics") or {}
        m["output_mb"] += out.get("Bytes Written", 0) / MB
        m["output_records"] += out.get("Records Written", 0)
        for acc in info.get("Accumulables", []):
            spec = py_ids.get(acc.get("ID"))
            if spec is not None and acc.get("Update") is not None:
                name, scale = spec
                m[name] += float(acc["Update"]) * scale
    return sorted(jobs.values(), key=lambda j: j.job_id)


def phase_of(job: Job, phases: list[Phase], keys: set[str]) -> str | None:
    """The phase key a job belongs to, or ``None`` if it ran outside all."""
    if job.group in keys:
        return job.group
    for p in phases:
        if p.start_ms <= job.submit_ms <= p.end_ms:
            return p.key
    return None


def by_phase(jobs: list[Job], phases: list[Phase]) -> dict[str, dict[str, float]]:
    """Sum job metrics per phase key; jobs outside every phase are dropped."""
    keys = {p.key for p in phases}
    out = {k: dict.fromkeys(FIELDS, 0.0) for k in keys}
    for job in jobs:
        key = phase_of(job, phases, keys)
        if key is not None:
            for f, v in job.m.items():
                out[key][f] += v
    return out
