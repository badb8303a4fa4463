"""Reader for an uncompressed Spark event log (``spark.eventLog.compress=false``).

:func:`read_jobs` folds the log into one :class:`Job` per job id, with the
task metrics of every stage that ran in it. A job belongs to the bench
span named by its ``spark.job.description``. :func:`exec_metrics` sums a
set of jobs into the ``exec.*`` metrics over one span's interval.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from .trace import covered, span_of_description

# SQL metrics of the Arrow/Python exec nodes (PythonSQLMetrics)
PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")

COUNTERS = (
    "tasks",
    "cpu_s",
    "run_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_rows",
    "input_bytes",
    "python_bytes",
)


@dataclass
class Job:
    id: int
    span: int | None
    start: float  # epoch seconds
    end: float = 0.0
    stages: set = field(default_factory=set)  # stages that ran tasks here
    totals: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))


def _add_task(t: dict, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    im = m.get("Input Metrics") or {}
    t["tasks"] += 1
    t["cpu_s"] += (m.get("Executor CPU Time", 0) + m.get("Executor Deserialize CPU Time", 0)) / 1e9
    t["run_s"] += m.get("Executor Run Time", 0) / 1e3
    t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    t["input_rows"] += im.get("Records Read", 0)
    t["input_bytes"] += im.get("Bytes Read", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
        if acc.get("Name") in PYTHON_BYTES:
            t["python_bytes"] += int(acc.get("Update") or 0)


def read_jobs(path: str) -> dict[int, Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}  # a stage runs its tasks in the first job that lists it
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                jobs[jid] = Job(jid, span_of_description(desc), ev["Submission Time"] / 1e3)
                for sid in ev.get("Stage IDs", ()):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                if job is not None:
                    job.stages.add(ev["Stage ID"])
                    _add_task(job.totals, ev)
    return jobs


def exec_metrics(jobs, lo: float, hi: float, cores: int) -> dict[str, float]:
    """``exec.*`` over ``jobs`` for a span running from ``lo`` to ``hi``."""
    jobs = list(jobs)
    out = {k: 0 for k in COUNTERS}
    for j in jobs:
        for k in COUNTERS:
            out[k] += j.totals[k]
    wall = hi - lo
    job_s = covered([(j.start, j.end) for j in jobs], lo, hi)
    out.update(
        jobs=len(jobs),
        stages=sum(len(j.stages) for j in jobs),
        job_s=job_s,
        driver_s=wall - job_s,
        cpu_util=out["cpu_s"] / (wall * cores) if wall > 0 else 0.0,
    )
    return {f"exec.{k}": v for k, v in out.items()}
