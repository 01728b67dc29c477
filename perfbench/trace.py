"""Per-layer numbers from a Spark event log.

Jobs are attributed to an owner by time window (crawl waves: the interval
between two wave commits) or by job description (queries: the client sets
one before each call). Stage busy time is the union of stage intervals in
the window, so busy + idle = window wall exactly."""

from __future__ import annotations

import statistics
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class Stage:
    stage_id: int
    job_id: int
    description: str
    submit_ms: float = 0.0
    complete_ms: float = 0.0
    task_run_ms: list = field(default_factory=list)
    task_cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_read_b: float = 0.0
    shuffle_write_b: float = 0.0
    spill_b: float = 0.0
    py_sent_b: float = 0.0
    py_returned_b: float = 0.0
    onheap_peak_b: float = 0.0


@dataclass
class Job:
    job_id: int
    submit_ms: float
    description: str
    stages: list = field(default_factory=list)


def parse(events) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Jobs and completed stages (last attempt) from event-log records."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    stage_job: dict[int, int] = {}

    def stage(sid: int) -> Stage:
        job = jobs.get(stage_job.get(sid, -1))
        return stages.setdefault(
            sid, Stage(sid, job.job_id if job else -1, job.description if job else "")
        )

    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                ev["Job ID"],
                float(ev.get("Submission Time", 0)),
                props.get("spark.job.description", "") or "",
                list(ev.get("Stage IDs", [])),
            )
            jobs[job.job_id] = job
            for sid in job.stages:
                stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            st = stage(si["Stage ID"])
            st.submit_ms = float(si.get("Submission Time") or 0)
            st.complete_ms = float(si.get("Completion Time") or 0)
            for acc in si.get("Accumulables") or []:
                name, value = acc.get("Name"), acc.get("Value")
                if name == PY_SENT:
                    st.py_sent_b = float(value)
                elif name == PY_RETURNED:
                    st.py_returned_b = float(value)
        elif kind == "SparkListenerStageExecutorMetrics":
            st = stage(ev["Stage ID"])
            # Spark-managed on-heap memory: execution (sort, aggregation,
            # join buffers) plus storage (cached blocks, broadcasts)
            onheap = (ev.get("Executor Metrics") or {}).get("OnHeapUnifiedMemory", 0)
            st.onheap_peak_b = max(st.onheap_peak_b, float(onheap))
        elif kind == "SparkListenerTaskEnd":
            st = stage(ev["Stage ID"])
            tm = ev.get("Task Metrics") or {}
            st.task_run_ms.append(float(tm.get("Executor Run Time", 0)))
            st.task_cpu_ms += tm.get("Executor CPU Time", 0) / 1e6
            st.gc_ms += tm.get("JVM GC Time", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            st.shuffle_read_b += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
            st.shuffle_write_b += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.spill_b += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    return jobs, {s: st for s, st in stages.items() if st.complete_ms}


def load(eventlog_dir: Path):
    """Parse every event log under ``eventlog_dir`` with the repo's reader."""
    from scripts.analyze_eventlog import load_events

    def all_events():
        for p in sorted(eventlog_dir.iterdir()):
            yield from load_events(p)

    return parse(all_events())


def busy_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def skew(task_ms: list) -> float:
    """max / median task run time of one stage (1.0 for a single task)."""
    if not task_ms:
        return 0.0
    med = statistics.median(task_ms)
    return max(task_ms) / med if med > 0 else 1.0


def wave_table(jobs: dict[int, Job], stages: dict[int, Stage], start_s: float,
               commits: list[tuple[int, float]]) -> list[dict]:
    """One row per wave: the window from the previous commit (or the crawl
    start) to this wave's commit, its jobs/stages/tasks, stage-busy and
    driver-idle seconds. Jobs belong to the window their submission falls
    in; busy time is clipped to the window, so the rows tile the crawl."""
    rows, lo = [], start_s * 1000
    for wave, ts in commits:
        hi = ts * 1000
        wjobs = [j for j in jobs.values() if lo < j.submit_ms <= hi]
        sids = {s for j in wjobs for s in j.stages if s in stages}
        busy = busy_ms(
            [(st.submit_ms, st.complete_ms) for st in stages.values()], lo, hi
        )
        rows.append(
            {
                "wave": wave,
                "wall_s": (hi - lo) / 1000,
                "busy_s": busy / 1000,
                "idle_s": (hi - lo - busy) / 1000,
                "jobs": len(wjobs),
                "stages": len(sids),
                "tasks": sum(len(stages[s].task_run_ms) for s in sids),
            }
        )
        lo = hi
    return rows


def totals(stages) -> dict[str, float]:
    """Summed task-level numbers over ``stages`` (an iterable of Stage)."""
    stages = list(stages)
    heavy = max(stages, key=lambda st: sum(st.task_run_ms), default=None)
    return {
        "stages": len(stages),
        "tasks": sum(len(st.task_run_ms) for st in stages),
        "task_run_s": sum(sum(st.task_run_ms) for st in stages) / 1000,
        "task_cpu_s": sum(st.task_cpu_ms for st in stages) / 1000,
        "gc_s": sum(st.gc_ms for st in stages) / 1000,
        "shuffle_read_mb": sum(st.shuffle_read_b for st in stages) / 1e6,
        "shuffle_write_mb": sum(st.shuffle_write_b for st in stages) / 1e6,
        "spill_mb": sum(st.spill_b for st in stages) / 1e6,
        "py_sent_mb": sum(st.py_sent_b for st in stages) / 1e6,
        "py_returned_mb": sum(st.py_returned_b for st in stages) / 1e6,
        "onheap_peak_mb": max((st.onheap_peak_b for st in stages), default=0.0) / 1e6,
        "heavy_stage_skew": skew(heavy.task_run_ms) if heavy else 0.0,
    }


def by_description(stages: dict[int, Stage]) -> dict[str, list[Stage]]:
    out: dict[str, list[Stage]] = defaultdict(list)
    for st in stages.values():
        out[st.description].append(st)
    return out
