#!/usr/bin/env bash
# Regenerate every per-round committed gate artifact in one pass
# (r13): the gates only stay trustworthy if regenerating them is one
# command, not a remembered checklist. Run from the repo root on an
# otherwise-idle box (the bench steps are timing-sensitive); expect
# ~2h total at the default scales. Any step failing stops the script
# (set -e) — a red gate should block the round, not scroll past. The
# two bench steps are measurements: they exit 0 whatever they list
# under regressions_over_2x, so read that field in their artifacts.
#
# Artifacts produced (all committed at the repo root):
#   ADVERSARIAL_PARITY.json  full registry vs DuckDB on the
#                            degenerate-row fixture
#   RELIABLE_PARITY.json     pin-routed queries under
#                            pin.mode=reliable (set pinned by
#                            tests/test_reliable_parity_artifact.py)
#   BENCH_SPREAD.json        sf0.1 bench sidecar (per-query medians,
#                            trial spreads, ratios to the baseline)
#   BENCH_SF1.json           x10 measurement: exponents + regressions
#   PLAN_SCALE_DIFF.json     registry-wide join-strategy diff at x10
# (Step 5, the heavy test tier, writes none; it needs step 4's replica.)

set -euo pipefail
cd "$(dirname "$0")/.."

echo "== 1/6 adversarial fixture + full-registry sweep"
python tools/make_adversarial_sf.py /tmp/adversarial_sf
python tools/check_parity.py --json ADVERSARIAL_PARITY.json --sf-dir /tmp/adversarial_sf

echo "== 2/6 reliable-pin sweep (pin-routed queries only)"
python tools/check_parity.py --json RELIABLE_PARITY.json \
    --pin-mode reliable --pin-sites --sf-dir /root/testdata/sf0.001

echo "== 3/6 sf0.1 bench (writes BENCH_SPREAD.json sidecar)"
python bench.py

echo "== 4/6 x10 bench (builds .scale/x10 if absent)"
python bench.py --sf1

echo "== 5/6 heavy test tier (x10 plan invariants, reliable-pin sites)"
python -m pytest tests/ -q -m heavy

echo "== 6/6 registry-wide x10 join-strategy diff"
python tools/plan_scale_diff.py

echo "all artifacts regenerated — review git diff, then commit"
