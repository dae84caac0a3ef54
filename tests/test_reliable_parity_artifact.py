"""RELIABLE_PARITY.json — the regenerable reliable-pin proof (r13,
verdict item 2).

r12 proved the reliable checkpoint tier semantics-invisible across
every pin site with a one-off sweep that lived only in prose; nothing
regenerated it, so a new pin site or a pin() edit could silently break
the tier between rounds. The sweep is now a committed artifact
produced by::

    python tools/check_parity.py --json RELIABLE_PARITY.json \
        --pin-mode reliable --pin-sites --sf-dir /root/testdata/sf0.001

and these tests make it load-bearing: the artifact must be all-green,
and its query set must equal the LIVE set of pin-routed queries —
the queries whose build calls pin() in the registry sweep
(tools/sweep.py ``Record.pins``, counted by instrumenting pin()
itself), not a hand-kept list, so a new ``.transform(pin)`` call site
anywhere in the package flips the set and fails the test until the
sweep is regenerated over it.
"""

from __future__ import annotations

import json
import os

import pytest

from wiki_data_pipeline_spark.plans.registry import all_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARTIFACT = os.path.join(REPO, "RELIABLE_PARITY.json")


def _load() -> dict:
    assert os.path.exists(ARTIFACT), (
        "RELIABLE_PARITY.json missing — regenerate with "
        "tools/check_parity.py --json RELIABLE_PARITY.json "
        "--pin-mode reliable --pin-sites --sf-dir /root/testdata/sf0.001"
    )
    with open(ARTIFACT, encoding="utf-8") as fh:
        return json.load(fh)


def test_reliable_parity_artifact_is_green():
    doc = _load()
    meta = doc.get("_meta", {})
    assert meta.get("pin_mode") == "reliable"
    assert meta.get("pin_sites_only") is True
    rows = {k: v for k, v in doc.items() if k != "_meta"}
    assert rows, "empty artifact"
    bad = {
        name: row.get("err")
        for name, row in rows.items()
        if not (
            row.get("rows_match")
            and row.get("schema_match")
            and row.get("hash_match")
        )
    }
    assert not bad, f"reliable-tier parity failures: {bad}"


@pytest.mark.heavy
# heavy tier (r16): discovery builds all 200+ query plans with the pin
# observer installed and the eager pins RUN at fixture scale (~1.6 min)
# — the cheap artifact-shape tests above stay in the default tier
def test_reliable_parity_covers_every_live_pin_site(registry_build):
    """The artifact's query set == the live pin-routed set. Discovery
    reads every query's session build (conftest ``registry_build``, a
    registry sweep record), which counts the build's pin() calls (the
    eager pins run at fixture scale): in a session without the oracle
    sweep this builds all 200+ queries — deliberately: it is the guard
    that makes the committed sweep trustworthy. A builder that fails
    here fails the test: its pin sites would go unseen."""
    records = [registry_build(name) for name in all_queries()]
    errors = {r.name: r.error for r in records if r.error}
    assert not errors, f"query builders failed: {errors}"
    live = {r.name for r in records if r.pins}
    assert live, "no pin-routed queries discovered — observer broken?"
    swept = {k for k in _load() if k != "_meta"}
    missing = live - swept
    stale = swept - live
    assert not missing, (
        f"pin-routed queries missing from RELIABLE_PARITY.json "
        f"(regenerate the sweep): {sorted(missing)}"
    )
    assert not stale, (
        f"RELIABLE_PARITY.json contains queries that no longer route "
        f"through pin(): {sorted(stale)}"
    )
