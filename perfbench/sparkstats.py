"""Work counters read from Spark's in-process status store.

Task-seconds are the per-stage ``executorRunTime`` summed over
``statusStore().stageList(...)`` after the listener bus drains. The
executor summary's ``totalDuration`` is not used: on local[4], eight
tasks that each sleep 2 s moved it by 4.5 s, the job's wall time, while
their stages' ``executorRunTime`` summed to 17.4 s (22.3 s when the
Python workers started cold) against the 16 s the tasks provably spent.
``tests/test_sparkstats.py`` pins the chosen counter with a known-cost
probe.

A :class:`Mark` taken before a piece of work and :meth:`StatusStore.since`
after it give that work's jobs and stages, because job and stage ids only
grow within one SparkContext.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass(frozen=True)
class Mark:
    job: int
    stage: int


@dataclass
class Usage:
    jobs: int = 0
    task_s: float = 0.0
    input_mb: float = 0.0
    shuffle_mb: float = 0.0  # shuffle bytes written
    gc_s: float = 0.0
    # (stage id, attempt id, summed run time in s) for every stage
    stages: list = field(default_factory=list)


class StatusStore:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    # jobsList and stageList return the newest id first, so a mark reads
    # one element and a delta reads only what is new since the mark.
    def _jobs(self):
        return self._store.jobsList(None)

    def _stages(self):
        return self._store.stageList(None, False, False, self._no_quantiles, None)

    def mark(self) -> Mark:
        self._drain()
        jobs, stages = self._jobs(), self._stages()
        return Mark(
            jobs.apply(0).jobId() if jobs.size() else -1,
            stages.apply(0).stageId() if stages.size() else -1,
        )

    def since(self, mark: Mark) -> Usage:
        """Counters of every job and stage started after ``mark``."""
        self._drain()
        u = Usage()
        jobs = self._jobs()
        while u.jobs < jobs.size() and jobs.apply(u.jobs).jobId() > mark.job:
            u.jobs += 1
        stages = self._stages()
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= mark.stage:
                break
            run_s = s.executorRunTime() / 1000.0
            u.task_s += run_s
            u.input_mb += s.inputBytes() / MB
            u.shuffle_mb += s.shuffleWriteBytes() / MB
            u.gc_s += s.jvmGcTime() / 1000.0
            u.stages.append((s.stageId(), s.attemptId(), run_s))
        return u

    def straggler_ratio(self, usage: Usage) -> float:
        """Max ÷ median task duration of the busiest stage in ``usage``."""
        if not usage.stages:
            return 1.0
        stage_id, attempt, _ = max(usage.stages, key=lambda s: s[2])
        seq = self._store.taskList(stage_id, attempt, 1 << 20)
        durations = []
        for i in range(seq.size()):
            d = seq.apply(i).duration()
            if d.isDefined():
                durations.append(d.get() / 1000.0)
        med = statistics.median(durations) if durations else 0.0
        return max(durations) / med if med > 0 else 1.0
