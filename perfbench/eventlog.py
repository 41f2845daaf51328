"""Stdlib reader of Spark's JSON event log (uncompressed, not rolling).

Jobs are attributed to a time window by submission time; a task
belongs to the job whose ``JobStart`` first lists its stage. The
benchmark's loops are closed (one query or one micro-batch in flight),
so every job submitted inside a window belongs to the work timed in
that window, including jobs that escape ``setJobGroup``.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class Job:
    submit_ms: int
    stages: set[int] = field(default_factory=set)


@dataclass
class Totals:
    """Counts and task metrics summed over a set of jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_ms: float = 0.0
    task_cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_b: float = 0.0
    shuffle_read_b: float = 0.0
    spill_b: float = 0.0
    input_b: float = 0.0


@dataclass
class EventLog:
    jobs: dict[int, Job]
    # per stage: [tasks, run ms, cpu ms, gc ms, shuffle w, shuffle r, spill, in]
    stage_metrics: dict[int, list[float]]

    def totals(self, start_ms: float, end_ms: float) -> Totals:
        """Totals over the jobs submitted in [start_ms, end_ms)."""
        t = Totals()
        for job in self.jobs.values():
            if not start_ms <= job.submit_ms < end_ms:
                continue
            t.jobs += 1
            for sid in job.stages:
                m = self.stage_metrics.get(sid)
                if m is None:  # skipped stage: its shuffle output was reused
                    continue
                t.stages += 1
                t.tasks += int(m[0])
                t.task_run_ms += m[1]
                t.task_cpu_ms += m[2]
                t.gc_ms += m[3]
                t.shuffle_write_b += m[4]
                t.shuffle_read_b += m[5]
                t.spill_b += m[6]
                t.input_b += m[7]
        return t


def read(log_dir: str) -> EventLog:
    """Parse every event log file under ``log_dir``."""
    jobs: dict[int, Job] = {}
    owner: dict[int, int] = {}
    stage_metrics: dict[int, list[float]] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name), encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = Job(submit_ms=ev["Submission Time"])
                    jobs[ev["Job ID"]] = job
                    for sid in ev["Stage IDs"]:
                        if sid not in owner:
                            owner[sid] = ev["Job ID"]
                            job.stages.add(sid)
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics")
                    if not tm:
                        continue
                    m = stage_metrics.setdefault(ev["Stage ID"], [0.0] * 8)
                    sr = tm.get("Shuffle Read Metrics", {})
                    m[0] += 1
                    m[1] += tm.get("Executor Run Time", 0)
                    m[2] += tm.get("Executor CPU Time", 0) / 1e6
                    m[3] += tm.get("JVM GC Time", 0)
                    m[4] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    m[5] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    m[6] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    m[7] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
    return EventLog(jobs=jobs, stage_metrics=stage_metrics)
