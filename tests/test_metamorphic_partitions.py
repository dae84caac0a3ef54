"""Partition-count metamorphic invariance (r9 verdict item 2).

The DuckDB oracle checks each query at ONE physical configuration; a
result that depends on partitioning or row order (non-deterministic
first/last, float summation order, tie-breaks resolved by task order)
passes it by luck. This samples >=20 queries across every operator
family and asserts the canonical result hash is IDENTICAL under
spark.sql.shuffle.partitions in {4, 64, 200} — exercising single-task,
default, and over-partitioned execution of every shuffle in the plan.
The full-registry sweep (201/201, plus local[4]-vs-local[32] dump
comparison) runs via tools/metamorphic_sweep.py; this pytest keeps
the invariant wired into
the default suite so a new order-sensitive expression fails CI, not
the round gate.

Float hashes compare EXACTLY (no tolerance): the engine's
decimal-sum / per-term-rounding discipline claims bit-level
order-proofness, and a tolerance here would quietly un-prove it.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    ),
)
from metamorphic_sweep import partition_hashes  # noqa: E402

from wiki_data_pipeline_spark.plans.registry import all_queries  # noqa: E402

# One representative per family, biased toward shapes where partition
# count plausibly leaks into results: multi-shuffle aggregates, window
# functions, iterative fixpoints, sampling, float-heavy scoring.
SAMPLE = [
    "q1_pricing_summary",         # scan+agg, decimal sums
    "q9_product_profit",          # multi-join star, one fact shuffle
    "topk_per_nation",            # window rank + ties
    "j3_coalesce_merge",          # priority merge (order-sensitive shape)
    "f_filter_pipeline",          # filter chain
    "a2_summary_by_source",       # flagship rollup
    "l3_global_index_scalable",   # two-pass global index (offsets!)
    "dedup_exact",                # hash groupBy keep-first semantics
    "dedup_minhash_lsh",          # band buckets, pair dedup
    "dedup_cluster_components",   # iterative fixpoint + checkpoint
    "dedup_keep_best",            # per-cluster winner (tie-break rule)
    "sim_cosine_topk",            # float dot products + top-k ties
    "sim_ann_ivf",                # centroid assignment + probe join
    "cluster_kmeans_embeddings",  # iterative float centroids
    "emb_scalar_quantize",        # quantization binning
    "text_tfidf_keywords",       # idf logs + per-doc top terms
    "score_bigram_surprisal",     # float LM sums (order-proof claim)
    "sample_stratified_by_lang",  # hash-threshold sampling
    "window_session_30m",         # session windows (gaps & islands)
    "window_rolling_distinct_users",  # rolling distinct
    "cdc_scd2_history",           # versioned history intervals
    "pack_training_sequences",    # running-sum packing boundaries
    "sketch_hll_mergeable_rollup",  # mergeable sketch partials
    "events_minute_ohlc",         # first/last in window (the classic)
    "join_cogrouped_asof",        # applyInPandas cogroup as-of
]


@pytest.fixture(scope="module")
def queries():
    return all_queries()


@pytest.mark.parametrize("name", SAMPLE)
def test_partition_count_invariance(spark, sf_dir, name):
    hashes, errors = partition_hashes(spark, [name], sf_dir)
    assert not errors, errors
    assert len(set(hashes[name].values())) == 1, (
        f"{name}: result depends on shuffle partitioning — {hashes[name]}. "
        "Likely an order-sensitive expression (first/last without "
        "ordering, float accumulation, or an unpinned tie-break)."
    )


def test_sample_names_registered(queries):
    missing = sorted(set(SAMPLE) - set(queries))
    assert not missing, missing
    assert len(SAMPLE) >= 20
