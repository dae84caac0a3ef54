"""Registry-wide join-strategy diff between fixture-SF and 10x stats.

The manifest-based x10 sweep (tests/test_plan_invariants_x10.py) caught
q20's semi-join build side flipping BroadcastHashJoin -> SortMergeJoin
once stats outgrew the broadcast threshold — but it only watches the
~30 manifest queries. This tool compiles EVERY registered query twice
— against the fixture SF and against the 10x replica — and reports any
query whose join strategy degrades with scale:

- BroadcastHashJoin count DECREASES (a broadcast was stats-luck), or
- SortMergeJoin count INCREASES (where the lost broadcast went), or
- CartesianProduct / row-at-a-time Python appears at x10.

A reported query is either a latent scale defect (fix: bound the build
side by design — DISTINCT to a dim-bounded key set, pre-aggregate,
or an explicit hint on a provably-small frame) or an intentional
shuffle join at scale (document it where the query is defined).

Usage:
    python tools/plan_scale_diff.py [--sf-dir FIXTURE_DIR X10_DIR]
    # defaults: /root/testdata/sf0.001  and  .scale/x10

Exit 0 when no query degrades AND no EXPECTED_SHUFFLE_AT_SCALE entry
is stale (r15: a registered flip that no longer occurs fails the run —
prune the entry). Compile-only throughout (r10): the
fixpoint queries — whose returned frame is a checkpoint scan carrying
no join nodes — are audited through their ROUND PLANS (one
un-checkpointed iteration, plans/scale_audit.py: the plan that
actually repeats at scale), and the bucketed-warehouse query builds
its layout at the replica and audits the un-checkpointed bucketed
join.
"""

from __future__ import annotations

import json
import os

from plan_audit import audit_frame
from sweep import REPO, SF_DIR, parse, parser, session, sweep

from wiki_data_pipeline_spark.plans.registry import all_queries
from wiki_data_pipeline_spark.plans.scale_audit import round_plan_variants

# Queries whose join strategy is DESIGNED to leave broadcast as data
# grows — both join sides scale with the data (key-bounded, not
# fixed-size), so the shuffle join IS the 100 TB plan and the
# fixture-SF broadcast is small-stats luck. A flip here is recorded
# under "expected" (with its rationale) instead of "degraded"; an
# entry that STOPS flipping is reported as stale so the register
# can't outlive the plans it excuses. Every entry must also say this
# in the query's own docstring.
EXPECTED_SHUFFLE_AT_SCALE: dict[str, str] = {
    "cdc_merge_plan": (
        "delta.join(hist, on=user_id): both sides are per-user "
        "compactions bounded by |users| — they grow WITH the corpus, "
        "so the MERGE classification join is a designed key-equi "
        "shuffle join at scale (see query docstring); the r14 "
        "multi-file replica nudged the hist-side size estimate over "
        "the broadcast threshold, which is the planner doing its job"
    ),
}


def classify(name: str, a: dict, b: dict) -> tuple[list[str], list[str]]:
    """Adjudicate one query's fixture-vs-x10 audit pair.

    Returns ``(probs, excused_flips)``: ``probs`` are the degradations
    to report; ``excused_flips`` are join-strategy flips absorbed by
    the query's EXPECTED_SHUFFLE_AT_SCALE entry (empty unless the
    query is registered there AND a flip occurred). The register's
    promises, pinned by tests/test_plan_scale_diff_contract.py:

    1. cartesian / row-at-a-time Python at x10 is NEVER excusable —
       a registered query still fails on those;
    2. an entry whose flip no longer occurs is reported stale (and
       fails the run — see main()'s exit code);
    3. every entry's rationale is mirrored in the query docstring.
    """
    probs: list[str] = []
    join_flip: list[str] = []
    if b["bhj"] < a["bhj"]:
        join_flip.append(f"bhj {a['bhj']}->{b['bhj']}")
    if b["smj"] > a["smj"]:
        join_flip.append(f"smj {a['smj']}->{b['smj']}")
    # cartesian / row-python are NEVER excusable, even for
    # expected-shuffle queries
    if b["cartesian"] and not a["cartesian"]:
        probs.append(f"cartesian 0->{b['cartesian']}")
    if b["row_python"] and not a["row_python"]:
        probs.append(f"row_python 0->{b['row_python']}")
    if join_flip and name in EXPECTED_SHUFFLE_AT_SCALE:
        return probs, join_flip
    probs.extend(join_flip)
    return probs, []


def main(argv=None) -> int:
    p = parser(__doc__, sf_dirs=(SF_DIR, os.path.join(REPO, ".scale", "x10")))
    fixture, x10 = parse(p, argv, names=False).sf_dir
    if not os.path.exists(os.path.join(x10, "_DONE")):
        print(f"10x replica missing at {x10} (python bench.py --sf1 builds it)")
        return 2

    spark = session("plan-scale-diff")
    # iterative/bucketed queries audit through their round-plan stand-ins
    queries = {**all_queries(), **round_plan_variants()}
    names = sorted(queries)

    degraded: dict[str, dict] = {}
    expected: dict[str, dict] = {}
    errors: dict[str, str] = {}
    # zip pulls one record from each sweep in turn: a query compiles
    # at the fixture, then at x10, before the next one starts
    for ra, rb in zip(
        sweep(spark, names, fixture, audit_frame, queries),
        sweep(spark, names, x10, audit_frame, queries),
    ):
        name, a, b = ra.name, ra.value, rb.value
        if ra.error or rb.error:
            errors[name] = (ra.error or rb.error)[:200]
            continue
        probs, excused = classify(name, a, b)
        if excused:
            expected[name] = {
                "fixture": a, "x10": b, "flip": excused,
                "rationale": EXPECTED_SHUFFLE_AT_SCALE[name],
            }
            print(f"ok {name}: designed shuffle at scale "
                  f"({'; '.join(excused)})")
        if probs:
            degraded[name] = {"fixture": a, "x10": b, "probs": probs}
            print(f"XX {name}: {'; '.join(probs)}")

    stale_expectations = sorted(
        set(EXPECTED_SHUFFLE_AT_SCALE) - set(expected) - set(errors)
    )
    print(
        f"\n{len(names) - len(degraded) - len(errors)}/{len(names)} "
        f"scale-stable; {len(degraded)} degraded; "
        f"{len(expected)} expected designed-shuffle flips; "
        f"{len(errors)} compile errors"
    )
    if stale_expectations:
        print(
            f"-- STALE expectations (registered but no flip observed "
            f"— prune EXPECTED_SHUFFLE_AT_SCALE): {stale_expectations}"
        )
    for n, e in errors.items():
        print(f"ERR {n}: {e}")
    out = os.path.join(REPO, "PLAN_SCALE_DIFF.json")
    with open(out, "w", encoding="utf-8") as f:
        json.dump(
            {"fixture": fixture, "x10": x10, "degraded": degraded,
             "expected_designed_shuffle": expected,
             "stale_expectations": stale_expectations,
             "errors": errors,
             "round_plan_variants": sorted(round_plan_variants())},
            f, indent=1,
        )
    print(f"wrote {out}")
    # stale expectations FAIL the run (r15 ADVICE): the register's
    # comment promises it "can't outlive the plans it excuses", and an
    # exit-0 on staleness made that promise print-only — nothing
    # downstream reads the artifact's stale list.
    return 1 if (degraded or stale_expectations) else 0


if __name__ == "__main__":
    raise SystemExit(main())
