"""Tracing from outside the program: spans around each call into a public
function, Spark job groups set from the benchmark's own thread, and
per-stage figures read back from Spark's status store.

Spans stay in memory and are written once, when the run ends. A tracer
that is off records nothing and sets no job group, so the end-to-end run
pays nothing for it.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError

from perfbench import stats

# An operation reconciles when its child spans cover its wall time to
# within this share of it (or RECONCILE_FLOOR_S, whichever is larger).
RECONCILE_TOL = 0.02
RECONCILE_FLOOR_S = 0.005


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    req: int | None = None
    group: str | None = None


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.busy_s = 0.0  # time spent on tracing bookkeeping
        self._sc = spark.sparkContext if enabled else None

    @contextmanager
    def span(self, name: str, parent: int | None = None, req: int | None = None, group: bool = False):
        """Time one call. With ``group`` the Spark jobs the call fires run
        under a job group named after the span, for
        :meth:`StageCollector.stage_totals`."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        if req is None and parent is not None:
            req = self.spans[parent].req  # spans of one operation share its id
        sp = Span(len(self.spans), name, 0.0, parent=parent, req=req)
        self.spans.append(sp)
        if group:
            sp.group = f"pb-{sp.sid}-{name}"
            self._sc.setJobGroup(sp.group, name)
        t1 = time.perf_counter()
        self.busy_s += t1 - t0
        sp.start = t1
        try:
            yield sp.sid
        finally:
            sp.end = time.perf_counter()
            if group:
                self._sc._jsc.clearJobGroup()
            self.busy_s += time.perf_counter() - sp.end

    def get(self, sid: int) -> Span:
        return self.spans[sid]

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_time(self, sid: int) -> float:
        sp = self.spans[sid]
        return stats.self_time(sp.start, sp.end, [(c.start, c.end) for c in self.children(sid)])

    def unreconciled(self, op_sids: list[int]) -> int:
        """Operations whose child spans leave more of the wall time
        unaccounted for than the tolerance allows."""
        bad = 0
        for sid in op_sids:
            sp = self.spans[sid]
            wall = sp.end - sp.start
            if self.self_time(sid) > max(RECONCILE_TOL * wall, RECONCILE_FLOOR_S):
                bad += 1
        return bad

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


STAGE_FIELDS = (
    "stages",
    "tasks",
    "exec_run_ms",
    "exec_cpu_ms",
    "gc_ms",
    "peak_exec_mem_bytes",
    "shuffle_write_bytes",
    "shuffle_write_records",
)


class StageCollector:
    """Reads job and stage figures from Spark's status store, which is
    filled with the UI disabled too."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def drain(self) -> None:
        """Wait until every event already posted has reached the store."""
        self._bus.waitUntilEmpty()

    def group_jobs(self, group: str) -> list[int]:
        return sorted(self._sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids: list[int]) -> dict:
        out = dict.fromkeys(STAGE_FIELDS, 0)
        tracker = self._sc.statusTracker()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # no attempt recorded: the stage was skipped
                    continue
                if st.numTasks() == 0 or str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["exec_run_ms"] += st.executorRunTime()
                out["exec_cpu_ms"] += st.executorCpuTime() / 1e6
                out["gc_ms"] += st.jvmGcTime()
                out["peak_exec_mem_bytes"] += st.peakExecutionMemory()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_write_records"] += st.shuffleWriteRecords()
        return out

    def jobs_within(self, lo_epoch_s: float, hi_epoch_s: float) -> list[tuple[int, float, float]]:
        """(job id, start, end) in epoch seconds of every job that both
        started and ended inside the window."""
        jobs = self._store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            sub, comp = j.submissionTime(), j.completionTime()
            if not (sub.isDefined() and comp.isDefined()):
                continue
            a, b = sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0
            if lo_epoch_s <= a and b <= hi_epoch_s:
                out.append((j.jobId(), a, b))
        return sorted(out, key=lambda t: t[1])

    def failed_tasks(self) -> int:
        """Failed task attempts over every job the store still holds,
        counted from its stage data, not from log lines."""
        jobs = self._store.jobsList(None)
        return sum(jobs.apply(i).numFailedTasks() for i in range(jobs.size()))

    def cached_bytes(self) -> int:
        """Memory plus disk bytes of every persisted RDD."""
        return sum(int(r.memSize()) + int(r.diskSize()) for r in self._sc._jsc.sc().getRDDStorageInfo())
