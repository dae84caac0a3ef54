"""Bucketed co-located join: SCALE.md claims bucketing both sides of
lineitem⋈orders by orderkey turns the sort-merge join's two exchanges
into zero — this test proves it on real bucketed tables."""

from __future__ import annotations

import pytest

from wiki_data_pipeline_spark.io import read_table


@pytest.fixture(scope="module")
def warehouse(spark, sf_dir, tmp_path_factory):
    """Write lineitem + orders bucketed by the join key (8 buckets)."""
    # warehouse.dir is a static conf — tables land in ./spark-warehouse
    # (gitignored); dropped on teardown. DROP TABLE doesn't remove the
    # location when the metastore has no entry (a killed earlier run
    # leaves the directory behind and saveAsTable then fails with
    # LOCATION_ALREADY_EXISTS), so clear stale locations explicitly.
    import shutil

    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("li_bucketed", "ord_bucketed"):
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    read_table(spark, sf_dir, "lineitem").write.bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).mode("overwrite").saveAsTable("li_bucketed")
    read_table(spark, sf_dir, "orders").write.bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).mode("overwrite").saveAsTable("ord_bucketed")
    yield
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")


def test_bucketed_join_has_no_exchange(spark, sf_dir, warehouse):
    """Both sides bucketed on the key → join plan contains NO Exchange
    (the shuffle SCALE.md promises to eliminate at 100 TB)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        joined = spark.table("li_bucketed").join(
            spark.table("ord_bucketed"),
            spark.table("li_bucketed").l_orderkey
            == spark.table("ord_bucketed").o_orderkey,
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # and the unbucketed equivalent DOES shuffle
        li = read_table(spark, sf_dir, "lineitem")
        orders = read_table(spark, sf_dir, "orders")
        plain = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plain_plan = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plain_plan
        # same row count either way
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_contamination_probe_is_broadcast(registry_plan):
    """SCALE.md claims the decontamination probe broadcasts the
    benchmark shingle set so the corpus never shuffles on shingle."""
    plan = registry_plan("contamination_ngram_overlap")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_surprisal_lm_join_is_broadcast(registry_plan):
    """The unigram LM (vocabulary-sized) must broadcast back onto the
    token stream, not shuffle it."""
    plan = registry_plan("score_unigram_surprisal")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_quantize_plan_is_shuffle_free(registry_plan):
    """emb_scalar_quantize is a map-only rewrite: no Exchange beyond
    the deliberate _spread pre-repartition of the single-split
    fixture file (RoundRobinPartitioning), which is NOT a keyed
    shuffle."""
    plan = registry_plan("emb_scalar_quantize")
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_pq_adc_scoring_join_is_broadcast(registry_plan):
    """SCALE.md claims the ADC distance table (|Q|·m·k rows) broadcasts
    onto the code table — the code table must never sort-merge."""
    plan = registry_plan("sim_ann_pq_adc")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_zorder_layout_single_aggregation_shuffle(registry_plan):
    """The Morton interleave is map-only; the only keyed exchange is
    the final per-file stats aggregation."""
    plan = registry_plan("layout_zorder_files")
    assert plan.count("hashpartitioning") <= 1, plan
    assert "rangepartitioning" not in plan, plan


def test_quantile_check_threshold_join_is_broadcast(registry_plan):
    """The per-type GK threshold table must broadcast back over events
    for the rank pass, never shuffle events."""
    plan = registry_plan("sketch_quantile_rank_check")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_column_profile_is_single_scan(registry_plan):
    """quality_column_profile's point is 1 scan for all columns — the
    plan must contain exactly one parquet scan of events."""
    plan = registry_plan("quality_column_profile")
    assert plan.count("Scan parquet") == 1, plan


def test_tfidf_single_tokenize_pass(registry_plan):
    """text_tfidf_keywords must tokenize documents exactly ONCE: df and
    dlen are window aggregates over the one grouped count, so the plan
    has a single Generate (explode) and no vocabulary self-join. The
    only other scan is the cheap un-exploded n_docs count."""
    plan = registry_plan("text_tfidf_keywords")
    assert plan.count("Generate") == 1, plan
    assert plan.count("Scan parquet") <= 2, plan
    assert "SortMergeJoin" not in plan, plan
