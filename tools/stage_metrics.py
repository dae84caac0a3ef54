"""Completed-stage metrics from the driver's status store.

Spark keeps per-stage statistics in the driver's AppStatusStore whether
or not ``spark.ui.enabled`` is set. Take ``snap = snapshot(spark)``
before a measured call and ``stages_since(spark, snap)`` after it.
``stageList`` returns stages newest-first, so the read stops at the
snapshot: milliseconds at any retention, where a full walk of thousands
of retained stages costs seconds.
"""

from __future__ import annotations

from typing import NamedTuple


class StageMetrics(NamedTuple):
    stage_id: int
    attempt: int
    shuffle_write_bytes: int
    memory_spilled: int
    disk_spilled: int
    max_task_ms: float | None  # set only when asked for


def _doubles(spark, *values: float):
    sc = spark.sparkContext
    arr = sc._gateway.new_array(sc._jvm.double, len(values))
    for i, v in enumerate(values):
        arr[i] = v
    return arr


def _newest_first(spark):
    """(store, newest-first iterator over every retained stage), read
    once the listener bus has delivered every finished event."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    # py4j cannot see Scala default arguments: pass all five
    stages = store.stageList(None, False, False, _doubles(spark), None)
    return store, stages.iterator()


def snapshot(spark) -> int:
    """The newest stage id so far (-1 before the first stage)."""
    _, it = _newest_first(spark)
    return it.next().stageId() if it.hasNext() else -1


def stages_since(spark, snap: int, max_task: bool = False) -> list[StageMetrics]:
    """Completed stages with an id above ``snap``, newest first; with
    ``max_task``, each carries its tasks' max executorRunTime."""
    store, it = _newest_first(spark)
    out = []
    while it.hasNext():
        s = it.next()
        if s.stageId() <= snap:
            break
        if s.status().toString() != "COMPLETE":
            continue
        mx = None
        if max_task:  # no summary when the stage ran no tasks
            summ = store.taskSummary(s.stageId(), s.attemptId(), _doubles(spark, 1.0))
            mx = summ.get().executorRunTime().apply(0) if summ.isDefined() else 0.0
        out.append(StageMetrics(
            s.stageId(), s.attemptId(), s.shuffleWriteBytes(),
            s.memoryBytesSpilled(), s.diskBytesSpilled(), mx,
        ))
    return out
