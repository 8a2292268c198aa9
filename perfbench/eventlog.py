"""Spark event-log parser: jobs, stages and tasks, mapped onto spans.

Reads the uncompressed, non-rolling JSON-lines log Spark writes with
``spark.eventLog.enabled``. Per span it derives jobs, stages, tasks, the
executor run-time sum, the critical path (longest task per stage, summed
along the stage chain), scheduler delay, shuffle read/write bytes, spill
and GC time.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from .trace import Span


@dataclass
class Job:
    id: int
    submit_ms: int
    group: str | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Stage:
    id: int
    parents: list[int] = field(default_factory=list)
    task_ms: list[int] = field(default_factory=list)
    run_ms: int = 0
    sched_delay_ms: int = 0
    gc_ms: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0


@dataclass
class Totals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    critical_path_ms: int = 0
    sched_delay_ms: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    gc_ms: int = 0

    def add(self, other: "Totals") -> None:
        for k, v in vars(other).items():
            setattr(self, k, getattr(self, k) + v)


def log_file(log_dir: str) -> str:
    """The single application log Spark wrote into ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def parse(path: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = Job(
                    e["Job ID"], e["Submission Time"],
                    group=props.get("spark.jobGroup.id"),
                    stage_ids=list(e["Stage IDs"]),
                )
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                stages.setdefault(info["Stage ID"], Stage(info["Stage ID"])).parents = list(
                    info.get("Parent IDs", [])
                )
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                dur = info["Finish Time"] - info["Launch Time"]
                run = m.get("Executor Run Time", 0)
                st.task_ms.append(dur)
                st.run_ms += run
                st.sched_delay_ms += max(
                    0,
                    dur - run - m.get("Executor Deserialize Time", 0)
                    - m.get("Result Serialization Time", 0)
                    - (info["Finish Time"] - info["Getting Result Time"]
                       if info.get("Getting Result Time") else 0),
                )
                st.gc_ms += m.get("JVM GC Time", 0)
                rd = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return jobs, stages


def job_totals(job: Job, stages: dict[int, Stage]) -> Totals:
    ran = [stages[s] for s in job.stage_ids if s in stages and stages[s].task_ms]
    ids = {s.id for s in ran}
    memo: dict[int, int] = {}

    def chain(st: Stage) -> int:
        if st.id not in memo:
            up = [chain(stages[p]) for p in st.parents if p in ids]
            memo[st.id] = max(st.task_ms) + max(up, default=0)
        return memo[st.id]

    return Totals(
        jobs=1,
        stages=len(ran),
        tasks=sum(len(s.task_ms) for s in ran),
        run_ms=sum(s.run_ms for s in ran),
        critical_path_ms=max((chain(s) for s in ran), default=0),
        sched_delay_ms=sum(s.sched_delay_ms for s in ran),
        shuffle_read=sum(s.shuffle_read for s in ran),
        shuffle_write=sum(s.shuffle_write for s in ran),
        spill=sum(s.spill for s in ran),
        gc_ms=sum(s.gc_ms for s in ran),
    )


def assign(jobs: dict[int, Job], spans: list[Span]) -> dict[int, list[int]]:
    """span id → job ids. A job whose group names a span belongs to it;
    otherwise (jobs started from the streaming sink's thread) to the
    innermost span whose interval holds the job's submission time."""
    by_id = {str(s.id): s for s in spans}
    out: dict[int, list[int]] = {}
    for job in jobs.values():
        owner = by_id.get(job.group) if job.group else None
        t = job.submit_ms / 1000.0
        inner = [s for s in spans if s.start <= t <= s.end]
        if owner is not None:
            inner = [s for s in inner if _descends(s, owner, by_id)]
        if inner:
            owner = max(inner, key=lambda s: s.start)
        if owner is not None:
            out.setdefault(owner.id, []).append(job.id)
    return out


def _descends(s: Span, anc: Span, by_id: dict[str, Span]) -> bool:
    while s is not None:
        if s.id == anc.id:
            return True
        s = by_id.get(str(s.parent)) if s.parent is not None else None
    return False


def span_totals(jobs: dict[int, Job], stages: dict[int, Stage], spans: list[Span]) -> dict[int, Totals]:
    """Per span, the totals of the jobs assigned to it (not its children)."""
    out: dict[int, Totals] = {}
    for sid, job_ids in assign(jobs, spans).items():
        t = Totals()
        for j in job_ids:
            t.add(job_totals(jobs[j], stages))
        out[sid] = t
    return out
