"""Compile-only ROUND PLANS for the iterative queries (the x10 plan
sweep's stand-ins).

The three fixpoint queries truncate lineage with ``localCheckpoint``
every round, so their *returned* frame is a checkpoint scan carrying no
join nodes — invisible to a cross-scale join-strategy audit. But the
plan that matters at 100 TB is the one that REPEATS: each stand-in
builds the query's edge set unpinned (edge derivation included, since
that is the scale-varying part) and applies the query's OWN round
function once, so ``tools/plan_scale_diff.py`` audits the code the
query runs at the fixture SF and the 10x replica.

``round_plan_variants()`` is the sweep's lookup: query name → the
compile-audit callable standing in for it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wiki_data_pipeline_spark.plans import llm_ops


def _lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return llm_ops.dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")


def _lsh_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized (u, v) near-dup pair graph, unpinned."""
    pairs = _lsh_pairs(spark, sf_dir)
    return pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionAll(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))


def cluster_components_round_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One min-label propagation round over the init labels."""
    edges = _lsh_edges(spark, sf_dir)
    return llm_ops._min_label_round(edges, llm_ops._min_label_init(edges))


def cluster_components_star_round_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One large-star + small-star half-round pair."""
    pairs = _lsh_pairs(spark, sf_dir)
    edges = pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
    return llm_ops._star_round(edges)


def pagerank_round_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One PageRank power iteration over the initial ranks."""
    e = _lsh_edges(spark, sf_dir).selectExpr("u AS src", "v AS dst")
    deg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    nn = deg.agg(F.count("*").cast("bigint").alias("n"))
    e2 = e.join(deg, on="src").repartition("src")
    return llm_ops._pr_round(e2, llm_ops._pr_init(deg, nn), nn)


def round_plan_variants() -> dict:
    """Query name → compile-audit callable for the x10 plan sweep."""
    from wiki_data_pipeline_spark.plans.star_schema import (
        join_bucketed_orderkey_audit_plan,
    )

    return {
        "dedup_cluster_components": cluster_components_round_plan,
        "dedup_cluster_components_star": cluster_components_star_round_plan,
        "graph_pagerank_dedup": pagerank_round_plan,
        "join_bucketed_orderkey": join_bucketed_orderkey_audit_plan,
    }
