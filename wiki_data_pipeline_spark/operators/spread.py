"""Conditional fan-out of under-partitioned inputs.

``spread(df)`` repartitions a narrow input up to full core
parallelism ONLY when the input actually has fewer partitions than
that. The unconditional form it replaces (r13, verdict item 1) was a
``df.repartition(defaultParallelism)`` in front of ~23 compute-heavy
map stages — right at fixture scale, where single-file parquet tables
yield ONE scan split and an explode/md5 pipeline would otherwise run
on one core, but wrong at 100 TB: there the scan itself provides
thousands of splits, and an unconditional round-robin exchange is a
full extra shuffle of the heaviest axis in the plan (and, on a
cluster whose core count is BELOW the split count, would actively
coalesce parallelism down).

The decision procedure is r13's, unchanged: a frame whose physical
plan already contains an Exchange passes through untouched (its
parallelism is governed by that shuffle + AQE — and under AQE,
``df.rdd`` on a post-exchange plan MATERIALIZES query stages, a
measured extra job); otherwise the frame passes through iff its scan
already has target parallelism, and is repartitioned only when the
source genuinely lacks it (the single-file fixture tables).

The decision is re-derived from the live plan on every call, so it
always reflects the current file layout and session conf; a call
costs one physical planning of the input frame plus partition math,
and runs zero jobs.

The reference never faces this choice because it pulls pre-sized
chunks from an API (reference:
src/enhanced_production_mediawiki_client.py:368-370); a Spark engine
gets the same effect by letting the scan's splits stand and only
manufacturing parallelism when the source genuinely lacks it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _plan_has_exchange(tree: str) -> bool:
    """True iff any physical-plan NODE is an exchange / query stage.

    Node names are the first token of each treeString line (after the
    tree-drawing prefix), so a column that happens to be named
    "Exchange" inside an expression list cannot false-positive."""
    for line in tree.splitlines():
        node = line.lstrip(" :+-*").split(" ", 1)[0]
        if "Exchange" in node or "QueryStage" in node:
            return True
    return False


def spread(df: DataFrame, target: int | None = None) -> DataFrame:
    """Fan ``df`` out to ``target`` partitions (default: the
    cluster's ``defaultParallelism``) iff it is an exchange-free
    frame that currently has fewer — otherwise return ``df``
    unchanged, inserting NO exchange (``spread(df) is df``)."""
    tgt = target or df.sparkSession.sparkContext.defaultParallelism
    qe = df._jdf.queryExecution()
    if _plan_has_exchange(qe.executedPlan().treeString()):
        # exchange-governed frame: never probe (df.rdd would
        # materialize AQE query stages), never repartition
        passthrough = True
    else:
        # pure partition math over the scan splits — zero jobs
        passthrough = df.rdd.getNumPartitions() >= tgt
    return df if passthrough else df.repartition(tgt)
