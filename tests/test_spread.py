"""The conditional fan-out gate (operators/spread.py, r13 verdict
item 1): ``spread`` repartitions ONLY an under-partitioned input.

The unconditional form it replaced round-robin-shuffled the full
input in front of ~23 compute-heavy map stages — a wasted full-corpus
exchange on any pre-split (i.e. production) scan. These tests pin the
plan invariant from both sides: a pre-split input passes through
IDENTICALLY (no exchange inserted, same object), while the fixture's
single-split parquet scans still get the fan-out the fixture needs.
The decision is taken from the live plan on every call, so a table's
in-place layout rewrite or a mid-session change to a split conf must
change it for the next frame read from that table.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wiki_data_pipeline_spark.io import read_table
from wiki_data_pipeline_spark.operators.spread import spread

from conftest import SF_DIR


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_spread_is_identity_on_presplit_input(spark):
    """An input already at (or above) target parallelism passes
    through untouched — not merely exchange-free, the SAME DataFrame
    object, so no plan node of any kind is inserted. Range sources
    carry their partition count like file splits do."""
    target = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 10_000, 1, max(target, 2))
    assert wide.rdd.getNumPartitions() >= target
    out = spread(wide)
    assert out is wide


def test_spread_is_identity_on_post_exchange_input(spark):
    """A frame whose plan already contains an Exchange is returned
    as-is WITHOUT the partition probe: its parallelism belongs to
    that shuffle + AQE, and under AQE the probe itself (df.rdd)
    would materialize the exchange's query stages — a measured extra
    job. Asserted via the job counter: spread() on a post-shuffle
    frame must run zero jobs."""
    tracker = spark.sparkContext.statusTracker()

    def njobs() -> int:
        return len(tracker.getJobIdsForGroup() or [])

    shuffled = spark.range(1_000).groupBy((F.col("id") % 5)).count()
    before = njobs()
    assert spread(shuffled) is shuffled
    assert njobs() == before, "spread() ran a job on a shuffled input"
    # the scan-stage probe is job-free too
    docs = read_table(spark, SF_DIR, "documents")
    before = njobs()
    spread(docs)
    assert njobs() == before, "spread() ran a job probing a scan frame"


def test_spread_fans_out_single_split_input(spark):
    """The fixture case: a single-file parquet scan has one split, and
    spread manufactures full core parallelism via one round-robin
    exchange (this is what keeps explode/md5 pipelines off one core at
    fixture scale)."""
    docs = read_table(spark, SF_DIR, "documents")
    n_in = docs.rdd.getNumPartitions()
    target = spark.sparkContext.defaultParallelism
    if n_in >= target:  # fixture regenerated multi-file: gate flips
        assert spread(docs) is docs
        return
    out = spread(docs)
    assert out.rdd.getNumPartitions() == target
    assert "RoundRobinPartitioning" in _physical(out)


def test_spread_explicit_target(spark):
    df3 = spark.range(0, 100, 1, 3)
    assert spread(df3, target=2) is df3
    assert spread(df3, target=5).rdd.getNumPartitions() == 5


def test_spread_gate_adds_no_exchange_to_presplit_plan(spark):
    """The full plan-invariant: building a spread-fronted pipeline
    over a PRE-SPLIT replica of the documents table yields a physical
    plan with NO round-robin exchange (the scan's own splits stand),
    while the same pipeline over the single-file fixture keeps it."""
    target = spark.sparkContext.defaultParallelism

    def pipeline(df):
        return (
            spread(df)
            .select("doc_id", F.md5("text").alias("h"))
            .groupBy("h")
            .agg(F.count("*").alias("n"))
        )

    # pre-split source with NO exchange of its own: a 64-partition
    # Range scan (numPartitions is a property of the source, the way
    # file splits are for a production parquet scan)
    presplit = spark.range(0, 10_000, 1, max(target, 2)).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"),
    )
    assert "RoundRobinPartitioning" not in _physical(pipeline(presplit))

    single = read_table(spark, SF_DIR, "documents")
    if single.rdd.getNumPartitions() < target:
        assert "RoundRobinPartitioning" in _physical(pipeline(single))


@pytest.mark.parametrize(
    "conf, value",
    [
        ("spark.sql.files.maxPartitionNum", "2"),
        ("spark.sql.leafNodeDefaultParallelism", "1"),
    ],
)
def test_spread_decision_follows_split_confs(spark, tmp_path, conf, value):
    """A mid-session change to a conf that feeds the scan's split math
    must change the decision for the same table: a multi-file scan
    that passed through before the conf cut its splits below target
    is repartitioned after it."""
    target = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "t.parquet")
    spark.range(0, 8_000).repartition(max(target, 8)).write.parquet(path)
    df = spark.read.parquet(path)
    assert spread(df) is df
    try:
        spark.conf.set(conf, value)
        cut = spark.read.parquet(path)
        out = spread(cut)
        assert out is not cut, f"{conf}={value} kept the pre-conf decision"
        assert out.rdd.getNumPartitions() == target
    finally:
        spark.conf.unset(conf)


def test_spread_decision_flips_after_layout_rewrite(spark, tmp_path):
    """A table rewritten in-process into a different number of files —
    same path, ~same bytes, IDENTICAL plan text — gets the decision of
    its new layout: the single-file original repartitions, the
    many-file rewrite passes through."""
    target = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "t.parquet")
    base = spark.range(0, 50_000).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("pad")
    )
    base.coalesce(1).write.mode("overwrite").parquet(path)

    single = spark.read.parquet(path)
    out1 = spread(single)
    assert out1 is not single, "single-file scan should repartition"

    # rewrite IN PLACE to many files (same rows, plan text identical
    # modulo exprIds; byte size shifts only by per-file footer overhead)
    base.repartition(max(target, 32)).write.mode("overwrite").parquet(path)

    multi = spark.read.parquet(path)
    out2 = spread(multi)
    assert out2 is multi, (
        "post-rewrite multi-file scan must pass through — the "
        "pre-rewrite decision would have repartitioned it"
    )
