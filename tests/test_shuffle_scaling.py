"""The shuffle-growth check: pin the mechanism and the linearity
bound for representative shuffle-bearing queries.

How a query's shuffle-write bytes grow when the data grows 10x is the
axis neither the plan manifest (same Exchange count, any byte volume)
nor the wall-clock gates (small-SF shuffles hide in page cache) can
see. This test runs a 4-query sample in the default suite at
sf0.001 -> sf0.01 (10x rows), asserting:

- growth ≤ 20x (linear in data with 2x margin) for every sample —
  a quadratic shuffle (self-join blowup, lost partial aggregation)
  reads ~100x and fails loudly;
- the mechanism actually measures: the groupBy-heavy queries report
  nonzero shuffle bytes at both scales.

Sample spans the shuffle families: hash-groupBy dedup (map-side
partial agg), banded LSH signatures (shuffle on (band, sig)),
fact-side star aggregation (bounded group keys -> near-constant
shuffle, the map-side-combine claim), and session windowing (shuffle
on user, growth tracks events).

Runs in the shared test session with its shuffle partition count; the
bytes come from the driver's status store, which Spark keeps with the
UI off, read through the registry sweep (tools/sweep.py).
"""

from __future__ import annotations

import pytest
from sweep import noop, sweep

BIG = "/root/testdata/sf0.01"

SAMPLE = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "q9_product_profit",
    "window_session_30m",
]
GROWTH_CEILING = 20.0  # 10x rows; 2x margin on linear


def _shuffle_write_bytes(spark, sf_dir: str) -> dict[str, int]:
    out = {}
    for r in sweep(spark, SAMPLE, sf_dir, noop):
        assert r.error is None, f"{r.name}: {r.error}"
        out[r.name] = sum(s.shuffle_write_bytes for s in r.stages)
    return out


@pytest.fixture(scope="module")
def shuffle_bytes(spark, sf_dir) -> dict[str, dict[str, int]]:
    small = _shuffle_write_bytes(spark, sf_dir)
    big = _shuffle_write_bytes(spark, BIG)
    return {name: {"small": small[name], "big": big[name]} for name in SAMPLE}


@pytest.mark.parametrize("name", SAMPLE)
def test_shuffle_growth_is_at_most_linear(shuffle_bytes, name):
    b = shuffle_bytes[name]
    if b["small"] == 0:
        # zero-shuffle at fixture SF: the 10x run must stay tiny too
        # (a broadcast plan growing a shuffle would show here)
        assert b["big"] < 1 * 1024 * 1024, b
        return
    growth = b["big"] / b["small"]
    assert growth <= GROWTH_CEILING, (
        f"{name}: shuffle bytes grew {growth:.1f}x for 10x rows "
        f"({b['small']} -> {b['big']}) — superlinear intermediate "
        f"volume is a 100 TB scale-killer"
    )


def test_mechanism_measures_nonzero_shuffles(shuffle_bytes):
    grouped = ["dedup_exact", "dedup_minhash_lsh"]
    for name in grouped:
        assert shuffle_bytes[name]["big"] > 0, (
            f"{name} reported zero shuffle bytes at sf0.01 — the "
            f"status-store stage read is not measuring"
        )
