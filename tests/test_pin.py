"""The configurable lineage pin (operators/pin.py).

``pin(df)`` replaced every direct ``localCheckpoint`` call site
(r12, verdict item 2): default tier is executor-local (fixture
scale), and one config knob flips ALL pins to reliable
``checkpoint()`` for preemptible clusters where truncated lineage
over executor-only blocks is unrecoverable. These tests pin the
routing contract — same rows either way, reliable mode actually
writes to the checkpoint dir, and misconfiguration fails loudly."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from wiki_data_pipeline_spark.operators.pin import (
    PIN_DIR_KEY,
    PIN_MODE_KEY,
    pin,
)


@pytest.fixture
def pin_conf(spark):
    """Restore pin-related session conf after the test."""
    saved = {
        k: spark.conf.get(k, None) for k in (PIN_MODE_KEY, PIN_DIR_KEY)
    }
    yield spark.conf
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def _frame(spark):
    return spark.range(100).withColumn(
        "v", (F.col("id") * 7 % 13).cast("long")
    )


def test_pin_default_is_local(spark, pin_conf):
    df = _frame(spark)
    pinned = pin(df)
    assert [r.asDict() for r in pinned.orderBy("id").collect()] == [
        r.asDict() for r in df.orderBy("id").collect()
    ]
    # lineage is truncated: the plan scans materialized blocks
    assert "Scan ExistingRDD" in pinned._jdf.queryExecution().toString()


def test_pin_reliable_requires_checkpoint_dir(spark, pin_conf):
    if spark.sparkContext.getCheckpointDir() is not None:
        pytest.skip("checkpoint dir already set in this session")
    pin_conf.set(PIN_MODE_KEY, "reliable")
    with pytest.raises(ValueError, match="checkpoint"):
        pin(_frame(spark))


def test_pin_unknown_mode_raises(spark, pin_conf):
    pin_conf.set(PIN_MODE_KEY, "replicated")
    with pytest.raises(ValueError, match="replicated"):
        pin(_frame(spark))


def test_pin_reliable_mode_checkpoints(spark, pin_conf, tmp_path):
    cp = str(tmp_path / "reliable_pins")
    pin_conf.set(PIN_MODE_KEY, "reliable")
    pin_conf.set(PIN_DIR_KEY, cp)
    df = _frame(spark)
    pinned = pin(df)
    # same rows, and the blocks landed in the configured directory
    # (the property that survives an executor loss on a real cluster)
    assert sorted((r.id, r.v) for r in pinned.collect()) == sorted(
        (r.id, r.v) for r in df.collect()
    )
    found = [
        os.path.join(root, f)
        for root, _dirs, fs in os.walk(cp)
        for f in fs
    ]
    assert found, "reliable pin wrote nothing under the checkpoint dir"
    assert pinned.count() == 100


def test_pin_reliable_redirects_when_dir_config_changes(
    spark, pin_conf, tmp_path
):
    """Changing pin.checkpointDir between pins re-applies the context
    checkpoint dir — a lazily-set dir must not silently swallow every
    later configuration (review finding r12)."""
    a, b = str(tmp_path / "dir_a"), str(tmp_path / "dir_b")
    pin_conf.set(PIN_MODE_KEY, "reliable")
    pin_conf.set(PIN_DIR_KEY, a)
    pin(_frame(spark)).count()
    pin_conf.set(PIN_DIR_KEY, b)
    pin(_frame(spark)).count()
    files_b = [f for _r, _d, fs in os.walk(b) for f in fs]
    assert files_b, "second pin did not follow the reconfigured dir"


def test_pin_reliable_keeps_caller_cache(spark, pin_conf, tmp_path):
    """A frame the CALLER deliberately persisted stays persisted after
    a reliable pin (r13, ADVICE): pin()'s internal persist/unpersist
    pair must only drop persistence pin() itself added, never evict an
    iterative-ML-style cache the caller still relies on."""
    pin_conf.set(PIN_MODE_KEY, "reliable")
    pin_conf.set(PIN_DIR_KEY, str(tmp_path / "keep_cache_pins"))
    df = _frame(spark).persist()
    try:
        df.count()  # materialize the caller's cache
        pinned = pin(df)
        assert pinned.count() == df.count()
        lvl = df.storageLevel
        assert lvl.useMemory or lvl.useDisk, (
            "reliable pin() evicted the caller's cache"
        )
    finally:
        df.unpersist()
    # and an unpersisted frame still gets (and then loses) pin()'s own
    # internal persistence — the original behavior is unchanged
    plain = _frame(spark)
    pin(plain).count()
    lvl = plain.storageLevel
    assert not (lvl.useMemory or lvl.useDisk)


def test_pin_reliable_drives_a_registry_fixpoint(
    spark, sf_dir, pin_conf, tmp_path
):
    """A real multi-pin query (the connected-components fixpoint)
    runs unchanged under the reliable tier — every pin site routes
    through the helper, none hard-codes localCheckpoint — and the
    blocks land in THIS test's configured directory (the dir
    re-apply contract, not a stale dir from an earlier test)."""
    from wiki_data_pipeline_spark.plans.registry import get

    cp = str(tmp_path / "fixpoint_pins")
    pin_conf.set(PIN_MODE_KEY, "reliable")
    pin_conf.set(PIN_DIR_KEY, cp)
    out = get("dedup_cluster_components").fn(spark, sf_dir)
    assert out.count() > 0
    found = [f for _r, _d, fs in os.walk(cp) for f in fs]
    assert found, "fixpoint pins did not land in the configured dir"
