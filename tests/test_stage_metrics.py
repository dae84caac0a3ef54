"""The status-store stage reader (tools/stage_metrics.py) in the shared,
UI-off session: the spill fields each sweep Record's stages carry, the
task-runtime field skew_probe reads, and the snapshot boundary every
caller diffs on. An
unbounded window frame buffers each ~28k-row key partition whole;
lowering both buffer thresholds forces that buffer to spill."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F
from stage_metrics import snapshot, stages_since

SPILL_CONFS = {
    "spark.sql.windowExec.buffer.in.memory.threshold": "100",
    "spark.sql.windowExec.buffer.spill.threshold": "2000",
}


def _window_stages(spark):
    w = Window.partitionBy("k").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    df = spark.range(200_000).select((F.col("id") % 7).alias("k"), "id")
    snap = snapshot(spark)
    df.select("k", F.sum("id").over(w)).write.format("noop").mode("overwrite").save()
    stages = stages_since(spark, snap, max_task=True)
    assert max(s.max_task_ms for s in stages) > 0
    return sum(s.memory_spilled for s in stages), sum(s.disk_spilled for s in stages)


def test_read_without_action_returns_no_stages(spark):
    spark.range(10).count()
    assert stages_since(spark, snapshot(spark)) == []


def test_window_spill_is_zero_by_default(spark):
    assert _window_stages(spark) == (0, 0)


def test_window_spill_under_low_buffer_thresholds(spark):
    try:
        for k, v in SPILL_CONFS.items():
            spark.conf.set(k, v)
        memory, disk = _window_stages(spark)
    finally:
        for k in SPILL_CONFS:
            spark.conf.unset(k)
    assert memory > 0 and disk > 0
