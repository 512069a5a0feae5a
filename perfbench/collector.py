"""Per-op Spark counters read from the driver's in-process status store.

Each op runs under a Spark job tag; afterwards the collector drains the
listener bus and reads the tagged jobs and their stages through
``sc._jsc.sc().statusStore()``.  That store is fed by the status
listener whether or not the UI is enabled, so no REST call is needed.
Job tags are used instead of job groups because the engine's pipeline
steps set their own job group.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, List, Tuple


@dataclass
class JobRecord:
    job_id: int
    start_ms: int
    end_ms: int
    tags: Tuple[str, ...]
    stage_ids: Tuple[int, ...]


@dataclass
class StageRecord:
    stage_id: int
    tasks: int
    executor_run_ms: int
    input_bytes: int
    shuffle_bytes: int  # shuffle write + shuffle read
    spill_bytes: int  # memory + disk spill


@dataclass
class OpCounters:
    jobs: List[JobRecord] = field(default_factory=list)
    stages: Dict[int, StageRecord] = field(default_factory=dict)

    def stage_sum(self, jobs: List[JobRecord], attr: str) -> int:
        seen = {s for j in jobs for s in j.stage_ids if s in self.stages}
        return sum(getattr(self.stages[s], attr) for s in seen)

    def busy_seconds(self, lo_ms: float, hi_ms: float) -> float:
        """Length of the union of job intervals, clipped to [lo, hi]."""
        spans = sorted(
            (max(j.start_ms, lo_ms), min(j.end_ms, hi_ms)) for j in self.jobs
        )
        total, cur_lo, cur_hi = 0.0, None, None
        for a, b in spans:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    total += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            total += cur_hi - cur_lo
        return total / 1000.0


class StatusCollector:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._tracker = jsc.statusTracker()
        self._store = jsc.statusStore()

    def add_tag(self, tag: str) -> None:
        self.sc.addJobTag(tag)

    def remove_tag(self, tag: str) -> None:
        self.sc.removeJobTag(tag)

    def collect(self, tag: str) -> OpCounters:
        """Every job that carried ``tag``, with the stages that ran."""
        self._bus.waitUntilEmpty()
        out = OpCounters()
        for jid in sorted(self._tracker.getJobIdsForTag(tag)):
            jd = self._store.job(int(jid))
            sub, end = jd.submissionTime(), jd.completionTime()
            start_ms = sub.get().getTime() if sub.isDefined() else 0
            end_ms = end.get().getTime() if end.isDefined() else start_ms
            sids = tuple(int(s) for s in jd.stageIds().mkString(",").split(",") if s)
            tags = tuple(jd.jobTags().mkString("\x1f").split("\x1f"))
            out.jobs.append(JobRecord(int(jid), start_ms, end_ms, tags, sids))
            for sid in sids:
                if sid not in out.stages:
                    rec = self._stage(sid)
                    if rec is not None:
                        out.stages[sid] = rec
        return out

    def _stage(self, sid: int):
        sd = self._store.lastStageAttempt(sid)
        if sd.status().toString() == "SKIPPED":
            return None
        return StageRecord(
            stage_id=sid,
            tasks=int(sd.numTasks()),
            executor_run_ms=int(sd.executorRunTime()),
            input_bytes=int(sd.inputBytes()),
            shuffle_bytes=int(sd.shuffleReadBytes()) + int(sd.shuffleWriteBytes()),
            spill_bytes=int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled()),
        )
