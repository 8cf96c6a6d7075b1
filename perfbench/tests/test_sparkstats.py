"""Pins the task-seconds counter with a probe of known cost: eight tasks
that each sleep one second must read at least 8 task-seconds, and more
than the wall time of the job they ran in (they overlapped on the
local[4] slots)."""

from __future__ import annotations

import time

import pytest

from perfbench.run import start_spark, stop_spark
from perfbench.sparkstats import StatusStore

SLEEP_S = 1.0
TASKS = 8


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = tmp_path_factory.mktemp("spark")
    for d in ("tmp", "spark-local"):
        (work / d).mkdir()
    s = start_spark(work, 4)
    yield s
    stop_spark(s)


def test_task_seconds_match_known_cost(spark):
    sc = spark.sparkContext
    sc.parallelize(range(TASKS), TASKS).count()  # Python workers up
    store = StatusStore(spark)
    mark = store.mark()
    t0 = time.perf_counter()
    # a lambda ships by value; the workers cannot import this test module
    sc.parallelize(range(TASKS), TASKS).foreach(lambda _: time.sleep(SLEEP_S))
    wall = time.perf_counter() - t0
    u = store.since(mark)
    known = TASKS * SLEEP_S
    assert u.jobs == 1
    assert len(u.stages) == 1
    assert known <= u.task_s <= 1.5 * known
    assert u.task_s > 1.5 * wall


def test_mark_excludes_earlier_work(spark):
    store = StatusStore(spark)
    spark.range(1000).count()
    mark = store.mark()
    assert store.since(mark).jobs == 0
    spark.range(1000).count()
    assert store.since(mark).jobs >= 1
    assert store.since(store.mark()).jobs == 0
