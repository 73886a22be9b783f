"""Spark counters read from outside the package, through the driver's
status store (``SparkContext.statusStore``). The store is fed by the
listener bus even with ``spark.ui.enabled=false``.

``mark()`` before a call and ``since(mark)`` after it give that call's
jobs, stages, tasks, summed executor run/CPU/GC time, input records,
shuffle bytes and spill. Stage and job ids only grow, and the store
lists newest first, so ``since`` reads just the entries the call added.
Concurrent calls share one window; divide a window's totals by the calls
in it rather than attributing stages to requests.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0        # summed executor run time
    cpu_s: float = 0.0        # summed executor CPU time
    gc_s: float = 0.0
    input_records: int = 0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    def asdict(self) -> dict:
        return asdict(self)


class StatusStore:
    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc
        self._jsc = jsc
        self._store = jsc.sc().statusStore()
        self._bus = jsc.sc().listenerBus()
        self._no_quantiles = spark.sparkContext._gateway.new_array(
            spark.sparkContext._jvm.double, 0)

    def _stages(self):
        # stageList needs all five arguments from py4j; newest first
        return self._store.stageList(None, False, False, self._no_quantiles, None)

    def mark(self) -> tuple[int, int]:
        """(last job id, last stage id) seen so far."""
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        stages = self._stages()
        return (jobs.apply(0).jobId() if jobs.size() else -1,
                stages.apply(0).stageId() if stages.size() else -1)

    def since(self, mark: tuple[int, int]) -> Counters:
        self._bus.waitUntilEmpty()
        c = Counters()
        jobs = self._store.jobsList(None)
        for i in range(jobs.size()):
            if jobs.apply(i).jobId() <= mark[0]:
                break
            c.jobs += 1
        it = self._stages().iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() <= mark[1]:
                break
            if s.status().toString() == "SKIPPED":
                continue
            c.stages += 1
            c.tasks += s.numCompleteTasks() + s.numFailedTasks()
            c.run_s += s.executorRunTime() / 1e3
            c.cpu_s += s.executorCpuTime() / 1e9
            c.gc_s += s.jvmGcTime() / 1e3
            c.input_records += s.inputRecords()
            c.shuffle_write_mb += s.shuffleWriteBytes() / 1e6
            c.spill_mb += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6
        return c

    def persisted_rdds(self) -> int:
        return len(self._jsc.getPersistentRDDs())
