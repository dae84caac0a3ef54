"""The registry sweep under the audit tools (tools/sweep.py), on
`spark.range` frames and a fake registry: construction stages and
pin() calls are attributed to the query that ran them, a failing
builder becomes an error record without ending the sweep (and makes
plan_audit exit 1), unknown names are rejected before a session
starts, and every tool answers ``--help``."""

from __future__ import annotations

import glob
import os
import subprocess
import sys

import pytest
import sweep

from wiki_data_pipeline_spark.operators import pin

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _boom(spark, sf_dir):
    raise ValueError("builder failed")


def _pin_twice(spark, sf_dir):
    return pin.pin(pin.pin(spark.range(10)))


def _pin_then_boom(spark, sf_dir):
    pin.pin(spark.range(10))
    raise ValueError("builder failed after a pin")


FAKE = {
    # the eager checkpoint runs the repartition's shuffle while the
    # frame is built; collecting it afterwards shuffles nothing
    "pinned": lambda spark, sf_dir: spark.range(2000).repartition(4)
    .localCheckpoint(eager=True),
    "plain": lambda spark, sf_dir: spark.range(10),
    "boom": _boom,
    "pin_twice": _pin_twice,
    "pin_then_boom": _pin_then_boom,
}


def _count(df) -> int:
    return len(df.collect())  # no shuffle, unlike df.count()


def test_construction_stages_belong_to_their_query(spark):
    pinned, plain = sweep.sweep(spark, ["pinned", "plain"], "", _count, FAKE)
    assert pinned.error is None and pinned.value == 2000
    assert sum(s.shuffle_write_bytes for s in pinned.stages) > 0, pinned.stages
    assert plain.value == 10
    assert sum(s.shuffle_write_bytes for s in plain.stages) == 0, plain.stages


def test_failing_builder_is_recorded_and_the_sweep_goes_on(spark):
    boom, plain = sweep.sweep(spark, ["boom", "plain"], "", _count, FAKE)
    assert boom.value is None
    assert boom.error == "ValueError: builder failed"
    assert plain.error is None and plain.value == 10


def test_pin_observer_records_and_detaches(spark):
    """Each record counts its own build's pin() calls, a builder that
    pins and then fails still reports the pin beside its error, and
    the observer is detached once the sweep is done."""
    twice, boom, plain = sweep.sweep(
        spark, ["pin_twice", "pin_then_boom", "plain"], "", _count, FAKE
    )
    assert (twice.pins, twice.error, twice.value) == (2, None, 10)
    assert boom.pins == 1
    assert boom.error == "ValueError: builder failed after a pin"
    assert (plain.pins, plain.error) == (0, None)
    assert pin._observer is None


@pytest.mark.parametrize("name, code", [("boom", 1), ("plain", 0)])
def test_plan_audit_exits_1_when_a_query_fails_to_build(
    spark, monkeypatch, name, code
):
    import plan_audit

    monkeypatch.setattr(sweep, "all_queries", lambda: FAKE)
    monkeypatch.setattr(plan_audit, "session", lambda app: spark)
    assert plan_audit.main([name]) == code


@pytest.mark.parametrize(
    "tool, argv",
    [
        ("check_parity", []),
        ("plan_audit", []),
        ("dump_plans", ["out_dir", "before"]),
        ("metamorphic_sweep", []),
    ],
)
def test_unknown_name_is_rejected_before_a_session(monkeypatch, tool, argv):
    def no_session(*a, **k):
        raise AssertionError("a session was started")

    monkeypatch.setattr(sweep, "get_spark", no_session)
    mod = __import__(tool)
    with pytest.raises(SystemExit) as exc:
        mod.main([*argv, "dedup_exact", "not_a_query"])
    assert exc.value.code == 2


@pytest.mark.parametrize(
    "tool", sorted(os.path.basename(p) for p in glob.glob(f"{HERE}/tools/*.py"))
)
def test_every_tool_answers_help(tool):
    tool = os.path.join(HERE, "tools", tool)
    proc = subprocess.run(
        [sys.executable, tool, "--help"],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    if "__main__" in open(tool, encoding="utf-8").read():
        assert proc.stdout.startswith("usage:"), proc.stdout
