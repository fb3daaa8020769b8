"""Read a local Spark event log into per-job counters.

The traced run sets ``spark.eventLog.enabled`` with ``compress=false`` and
wraps every public call in ``sc.setJobGroup("<workload>.<call>")``; this
module turns the resulting JSON-lines files into ``Job`` records carrying
the task metrics and SQL accumulables of the tasks each job ran, and
assigns a loop call's jobs to its supersteps.

Supersteps are recovered from outside the engine: the loop returns its
per-superstep walls, and counting back from the call's end gives one time
window per superstep. A SQL execution is never split across supersteps,
so an execution that straddles a window's start belongs to that window
and the next window is counted back from the execution's first job. This
keeps the windows aligned when the loop spends time between supersteps
(the checkpoint manager's metrics append).
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int = 0
    execution: str | None = None
    stage_ids: list[int] = field(default_factory=list)
    tasks: int = 0
    run_ms: int = 0
    shuffle_bytes: int = 0
    shuffle_records: int = 0
    fetch_wait_ms: int = 0
    spill_bytes: int = 0
    # stage id -> task durations (ms), for skew
    task_ms: dict[int, list[int]] = field(default_factory=lambda: defaultdict(list))
    # SQL accumulable name -> summed task updates
    acc: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    # (plan node name, metric name) -> summed task updates
    node_acc: dict[tuple[str, str], float] = field(default_factory=lambda: defaultdict(float))


def _plan_metrics(plan: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in plan.get("metrics", []):
        out[int(m["accumulatorId"])] = (plan.get("nodeName", ""), m["name"])
    for child in plan.get("children", []):
        _plan_metrics(child, out)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def event_files(log_dir: Path) -> list[Path]:
    """Every event file under ``log_dir`` (plain or rolling layout), in order."""
    files = [p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith(".")]
    # rolling logs number their parts events_1_…, events_10_…: shorter first
    return sorted(files, key=lambda p: (str(p.parent), len(p.name), p.name))


def read_jobs(log_dir: Path) -> list[Job]:
    """Parse every event file under ``log_dir`` into jobs ordered by id."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    acc_node: dict[int, tuple[str, str]] = {}
    tasks: list[dict] = []
    for path in event_files(log_dir):
        if path.suffix in (".zstd", ".lz4", ".snappy", ".lzf"):
            raise ValueError(f"compressed event log {path}: set spark.eventLog.compress=false")
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = Job(
                        job_id=ev["Job ID"],
                        group=props.get("spark.jobGroup.id"),
                        submit_ms=ev["Submission Time"],
                        execution=props.get("spark.sql.execution.id"),
                        stage_ids=list(ev["Stage IDs"]),
                    )
                    jobs[job.job_id] = job
                    for sid in job.stage_ids:
                        # a stage runs in the first job listing it; later
                        # jobs list it as skipped
                        stage_job.setdefault(sid, job.job_id)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _plan_metrics(ev.get("sparkPlanInfo") or {}, acc_node)
    for ev in tasks:
        jid = stage_job.get(ev["Stage ID"])
        if jid is None:
            continue
        job = jobs[jid]
        info = ev["Task Info"]
        tm = ev.get("Task Metrics") or {}
        job.tasks += 1
        job.run_ms += tm.get("Executor Run Time", 0)
        sw = tm.get("Shuffle Write Metrics") or {}
        job.shuffle_bytes += sw.get("Shuffle Bytes Written", 0)
        job.shuffle_records += sw.get("Shuffle Records Written", 0)
        job.fetch_wait_ms += (tm.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
        job.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        job.task_ms[ev["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
        for a in info.get("Accumulables", []):
            name = a.get("Name", "")
            if name.startswith("internal."):
                continue
            v = _num(a.get("Update"))
            job.acc[name] += v
            node = acc_node.get(int(a["ID"]))
            if node is not None:
                job.node_acc[node] += v
    return [jobs[k] for k in sorted(jobs)]


def group_jobs(jobs: list[Job], group: str) -> list[Job]:
    return [j for j in jobs if j.group == group]


def assign_supersteps(
    jobs: list[Job], call_end_ms: float, walls_ms: list[float]
) -> tuple[list[Job], list[list[Job]]]:
    """Split one loop call's jobs into (before the loop, per superstep).

    See the module docstring for the counting-back rule.
    """
    execs: dict[object, list[Job]] = defaultdict(list)
    for j in jobs:
        execs[j.execution if j.execution is not None else ("job", j.job_id)].append(j)
    units = sorted(execs.values(), key=lambda js: min(j.submit_ms for j in js))
    steps: list[list[Job]] = [[] for _ in walls_ms]
    end = call_end_ms
    for k in range(len(walls_ms) - 1, -1, -1):
        start = end - walls_ms[k]
        mine = [u for u in units if max(j.end_ms for j in u) > start]
        units = [u for u in units if max(j.end_ms for j in u) <= start]
        steps[k] = [j for u in mine for j in u]
        first = min((j.submit_ms for j in steps[k]), default=start)
        end = min(start, first)
    return [j for u in units for j in u], steps


def task_skew(jobs: list[Job]) -> float:
    """max / median task time of the widest stage among ``jobs``."""
    stages = [ms for j in jobs for ms in j.task_ms.values() if ms]
    if not stages:
        return 0.0
    widest = max(stages, key=lambda ms: (len(ms), sum(ms)))
    med = statistics.median(widest)
    return max(widest) / med if med > 0 else 1.0


def total(jobs: list[Job], attr: str) -> float:
    return float(sum(getattr(j, attr) for j in jobs))


def acc_total(jobs: list[Job], name: str) -> float:
    return float(sum(j.acc.get(name, 0.0) for j in jobs))


def node_acc_total(jobs: list[Job], node: str, name: str) -> float:
    return float(sum(v for j in jobs for (n, m), v in j.node_acc.items() if n == node and m == name))
