"""Minimal reader for an uncompressed, non-rolling Spark event log (one
JSON object per line). It keeps only what the per-layer report needs:
job spans, the stages each job ran, and task metrics summed per stage.

Attribution is by time window, not by job group: the crawl engine's
snapshot writes run on engine-internal threads that carry no group, so a
job belongs to the window [start, end) that contains its submission
time."""

from __future__ import annotations

import json
from dataclasses import dataclass, field


@dataclass
class Job:
    submitted: float  # epoch seconds
    completed: float
    stages: list[int] = field(default_factory=list)


@dataclass
class StageTotals:
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0


class EventLog:
    def __init__(self, path: str):
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, StageTotals] = {}
        self._owner: dict[int, int] = {}  # stage -> first job listing it
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            self.jobs[jid] = Job(ev["Submission Time"] / 1e3, ev["Submission Time"] / 1e3)
            for sid in ev.get("Stage IDs", []):
                self._owner.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job.completed = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            jid = self._owner.get(sid)
            if jid is not None:
                self.jobs[jid].stages.append(sid)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                return
            t = self.stages.setdefault(ev["Stage ID"], StageTotals())
            t.run_s += m.get("Executor Run Time", 0) / 1e3
            t.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            t.gc_s += m.get("JVM GC Time", 0) / 1e3
            t.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )

    def window(self, start: float, end: float) -> dict:
        """Spark runtime totals for jobs submitted in [start, end)."""
        jobs = [j for j in self.jobs.values() if start <= j.submitted < end]
        stages = [self.stages.get(s, StageTotals()) for j in jobs for s in j.stages]
        # union of job spans clipped to the window; the rest is driver-only
        covered, reach = 0.0, start
        for a, b in sorted((max(j.submitted, start), min(j.completed, end)) for j in jobs):
            if b > reach:
                covered += b - max(a, reach)
                reach = b
        return {
            "jobs": len(jobs),
            "stages": sum(len(j.stages) for j in jobs),
            "executor_run_s": sum(s.run_s for s in stages),
            "executor_cpu_s": sum(s.cpu_s for s in stages),
            "gc_s": sum(s.gc_s for s in stages),
            "shuffle_write_mb": sum(s.shuffle_write_bytes for s in stages) / (1 << 20),
            "driver_only_s": (end - start) - covered,
        }
