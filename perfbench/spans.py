"""Per-call Spark counters read from the driver's status store.

A span tags its call with ``setJobGroup`` and notes the scheduler's next
job id on entry and exit; every job id in between belongs to the call (the
benchmark is one client in a closed loop). On exit it waits for the
listener bus to drain, then reads each job and its stages from the status
store, which is populated with the UI off. The store keeps only the newest
``spark.ui.retainedJobs``/``retainedStages`` entries (1000 by default); a
job or stage that is gone raises ``Evicted`` instead of being skipped, so a
traced count is complete or the run fails.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

# StageData getter -> counter name. Times are ms except cpu (ns).
_STAGE_FIELDS = {
    "numTasks": "tasks",
    "executorRunTime": "run_ms",
    "executorCpuTime": "cpu_ns",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_b",
    "shuffleReadBytes": "shuffle_read_b",
    "shuffleWriteBytes": "shuffle_write_b",
    "memoryBytesSpilled": "spill_mem_b",
    "diskBytesSpilled": "spill_disk_b",
}
COUNTERS = ("jobs", "stages", *_STAGE_FIELDS.values())


class Evicted(RuntimeError):
    """The status store dropped a job or stage of a traced call."""


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._sched = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._seq = self._sc._jvm.scala.jdk.javaapi.CollectionConverters
        self.spent_s = 0.0  # time spent in tracing bookkeeping

    @contextmanager
    def span(self, group: str, out: dict):
        """Run the body under job group ``group``; on exit fill ``out``
        with its wall seconds (``s``) and the ``COUNTERS`` of its jobs."""
        t = time.perf_counter()
        self._sc.setJobGroup(group, group)
        first = self._sched.nextJobId()
        t0 = time.perf_counter()
        self.spent_s += t0 - t
        try:
            yield out
        finally:
            out["s"] = time.perf_counter() - t0
            t = time.perf_counter()
            out.update(self.counters(first, self._sched.nextJobId(), group))
            self.spent_s += time.perf_counter() - t

    def counters(self, first: int, end: int, group: str) -> dict:
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(COUNTERS, 0)
        stages = set()
        for job_id in range(first, end):
            job = self._read(self._store.job, job_id, "job")
            tag = job.jobGroup()
            if not tag.isDefined() or tag.get() != group:
                raise RuntimeError(f"job {job_id} ran outside group {group!r}")
            stages.update(self._seq.asJava(job.stageIds()))
        for stage_id in stages:
            data = self._read(self._store.lastStageAttempt, stage_id, "stage")
            for getter, name in _STAGE_FIELDS.items():
                out[name] += getattr(data, getter)()
        out["jobs"], out["stages"] = end - first, len(stages)
        return out

    @staticmethod
    def _read(fetch, key: int, kind: str):
        try:
            return fetch(key)
        except Exception as e:  # py4j wraps java.util.NoSuchElementException
            if "NoSuchElementException" in str(e):
                raise Evicted(
                    f"{kind} {key} was evicted from the status store before it "
                    "was read; raise spark.ui.retainedJobs/retainedStages"
                ) from None
            raise
