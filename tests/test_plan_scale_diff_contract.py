"""EXPECTED_SHUFFLE_AT_SCALE contract pins (r15, verdict item 5).

The register (tools/plan_scale_diff.py) excuses DESIGNED
broadcast->shuffle flips at x10, and its comments make three promises
that were previously tool-side only:

1. cartesian / row-at-a-time Python at x10 is NEVER excusable — a
   registered query still fails on those;
2. a stale entry (registered but no flip observed) is reported AND
   fails the run (exit nonzero), so the register can't outlive the
   plans it excuses;
3. every entry's rationale is mirrored in the registered query's own
   docstring, so the design intent lives next to the code it defends.

These tests feed the pure classification function fake audits (no
Spark, no replica) and assert each promise; the committed
PLAN_SCALE_DIFF.json is additionally asserted stale-free so a stale
register cannot sit committed between regen runs.
"""

from __future__ import annotations

import json
import os

import plan_scale_diff as psd

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _audit(**over) -> dict:
    base = dict(
        scans=1, scans_per_table={}, exchanges=1, broadcast_exchanges=1,
        reused_exchanges=0, single_partition=0, generates=0,
        bhj=1, smj=0, bnlj=0, cartesian=0, arrow_python=0, row_python=0,
    )
    base.update(over)
    return base


def _with_fake_entry(name: str, fn):
    psd.EXPECTED_SHUFFLE_AT_SCALE[name] = "fake rationale (test-only)"
    try:
        return fn()
    finally:
        del psd.EXPECTED_SHUFFLE_AT_SCALE[name]


def test_registered_flip_is_excused_but_unregistered_is_degraded():
    a, b = _audit(bhj=1, smj=0), _audit(bhj=0, smj=1)
    probs, excused = psd.classify("some_query", a, b)
    assert probs == ["bhj 1->0", "smj 0->1"] and excused == []

    def run():
        return psd.classify("some_query", a, b)

    probs, excused = _with_fake_entry("some_query", run)
    assert probs == [] and excused == ["bhj 1->0", "smj 0->1"]


def test_cartesian_and_row_python_never_excusable():
    """Promise 1: a fake registered query whose x10 plan grows a
    CartesianProduct or a BatchEvalPython node must STILL report —
    the register only absorbs join-strategy flips."""
    a = _audit(bhj=1, smj=0)
    b = _audit(bhj=0, smj=1, cartesian=1, row_python=2)

    def run():
        return psd.classify("some_query", a, b)

    probs, excused = _with_fake_entry("some_query", run)
    assert "cartesian 0->1" in probs and "row_python 0->2" in probs
    assert excused == ["bhj 1->0", "smj 0->1"]


def test_stale_entry_fails_the_run_not_just_the_printout():
    """Promise 2 (r15 ADVICE): main() must exit nonzero when an
    EXPECTED_SHUFFLE_AT_SCALE entry's flip no longer occurs. Asserted
    structurally on the source (running main() needs the replica):
    the return expression must gate on stale_expectations."""
    import inspect

    src = inspect.getsource(psd.main)
    assert "stale_expectations" in src.split("return 1 if ")[1].split(
        "else"
    )[0], "main()'s exit code no longer gates on stale_expectations"


def test_committed_artifact_has_no_stale_expectations():
    """Promise 2, artifact side: the committed PLAN_SCALE_DIFF.json —
    what the round actually shipped — must carry an empty stale list
    and an 'expected' record for every register entry, in both
    directions (an entry with no record is stale; a record with no
    entry means the artifact predates a prune)."""
    path = os.path.join(HERE, "PLAN_SCALE_DIFF.json")
    with open(path, encoding="utf-8") as fh:
        doc = json.load(fh)
    assert doc.get("stale_expectations") == [], (
        f"committed PLAN_SCALE_DIFF.json carries stale register "
        f"entries: {doc.get('stale_expectations')} — prune "
        f"EXPECTED_SHUFFLE_AT_SCALE and regenerate"
    )
    recorded = set(doc.get("expected_designed_shuffle", {}))
    registered = set(psd.EXPECTED_SHUFFLE_AT_SCALE)
    assert recorded == registered, (
        f"register/artifact drift: registered={sorted(registered)} "
        f"recorded={sorted(recorded)} — regenerate PLAN_SCALE_DIFF.json "
        f"in the same commit that edits the register"
    )


def test_every_register_entry_mirrors_rationale_in_docstring():
    """Promise 3: each registered query's docstring must itself state
    the designed-shuffle intent (the register is tooling; the
    docstring is where the next editor looks before 'fixing' the flip
    with a broadcast hint)."""
    from wiki_data_pipeline_spark.plans.registry import get

    for name in psd.EXPECTED_SHUFFLE_AT_SCALE:
        doc = get(name).doc
        assert "EXPECTED_SHUFFLE_AT_SCALE" in doc, (
            f"{name}: docstring does not mention its "
            f"EXPECTED_SHUFFLE_AT_SCALE registration — mirror the "
            f"rationale where the code lives"
        )
        assert "shuffle" in doc.lower(), (
            f"{name}: docstring must explain the designed shuffle"
        )
