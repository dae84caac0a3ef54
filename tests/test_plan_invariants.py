"""Plan-shape invariants over each query's one session build
(conftest ``registry_build``): ``executedPlan`` is read before any
action, so it is the pre-AQE physical plan, deterministic at the
pinned fixture SF, even after the oracle sweep has collected the frame.

``test_registry_wide_blanket_invariants`` applies the structural rules
to every registered query: zero CartesianProduct, zero row-at-a-time
Python, no partition-less Window over an unbounded input, and no
duplicated exchange work (``plan_audit.duplicate_exchanges``: two
exchanges over the same input that AQE cannot reuse, the shape column
pruning leaves when a frame has two consumers). Each rule's allowlist
is exact: its entries must still trip the rule.

``MANIFEST`` keeps the per-query claims no structural rule states:
designed broadcasts (``min_bhj`` / ``max_smj`` / ``max_bnlj``),
pushdown reaching the scan, and plans whose zero- or one-exchange
shape IS the design. tests/test_plan_invariants_x10.py recompiles the
join-strategy and pushdown claims against the 10x replica.
"""

from __future__ import annotations

import re

import pytest
from plan_audit import audit_plan, duplicate_exchanges, unbounded_global_windows
from pyspark.sql import Window
from pyspark.sql import functions as F

from wiki_data_pipeline_spark.plans.registry import all_queries

# name -> the query's design claims, checked by shape_errors:
#   max_exchanges, max_smj, max_bnlj: ceilings on shuffle Exchange,
#       SortMergeJoin and BroadcastNestedLoopJoin nodes (pre-AQE)
#   min_bhj:  floor on BroadcastHashJoin nodes (designed broadcasts)
#   pushdown: some scan carries a non-empty PushedFilters list
#   note:     the design claim the fields defend
MANIFEST: dict[str, dict] = {
    # -- dedup family (documents) --
    "dedup_minhash_verified": dict(
        min_bhj=2, max_smj=0, pushdown=True,
        note="candidate pairs meet the shingle arrays by broadcast",
    ),
    "dedup_minhash_calibration": dict(
        max_smj=2,
        note="the pair joins' build side is corpus-sized: two SMJs at most",
    ),
    "dedup_family_agreement": dict(
        max_smj=2, pushdown=True,
        note="the only SMJs are the two pair-keyed membership joins",
    ),
    "dedup_keep_best": dict(
        max_smj=1, pushdown=True,
        note="components are a corpus fraction: one SMJ, never a hint",
    ),
    "dedup_simhash": dict(
        max_smj=0, pushdown=True, note="bit-vote aggregate, no join"
    ),
    "dedup_simhash_hamming_histogram": dict(
        min_bhj=2, max_smj=0, pushdown=True,
        note="the participant semi-filter broadcast is stats-chosen",
    ),
    "dedup_minhash_lsh": dict(
        max_smj=0, pushdown=True,
        note="shuffle on (band, sig) only; an SMJ is an all-pairs join",
    ),
    "dedup_impact_report": dict(
        pushdown=True, note="corpus predicates reach the scan"
    ),
    "dedup_substring_spans": dict(
        max_smj=0, note="joins over the pinned span stream broadcast"
    ),
    # -- text / scoring --
    "score_bigram_surprisal": dict(
        min_bhj=1, max_smj=0,
        note="the threshold join broadcasts over the pinned scores",
    ),
    "sample_dsir_importance": dict(
        min_bhj=1, max_smj=0, max_bnlj=1,
        note="broadcast weight join; the BNLJ is the 1-row consts",
    ),
    # -- pipeline rollups --
    "quality_gopher_filters": dict(
        max_exchanges=1, max_smj=0,
        note="map-only gate; the one exchange is _spread's repartition",
    ),
    "pipeline_yield_report": dict(
        min_bhj=5, pushdown=True,
        note="stage joins broadcast, stage filters reach the scan",
    ),
    "pipeline_quality_gate": dict(
        min_bhj=2, pushdown=True,
        note="gate thresholds broadcast against the scored corpus",
    ),
    "contamination_apply_clean": dict(
        min_bhj=2, max_smj=0, pushdown=True,
        note="the anti-join broadcasts by stats, not by a hint",
    ),
    # -- graph / clustering --
    "graph_triangle_stats": dict(
        min_bhj=2, max_smj=0,
        note="joins over the pinned pair frame broadcast",
    ),
    "graph_degree_histogram": dict(
        max_smj=0, note="hash aggregates over the pinned pair frame"
    ),
    "cluster_kmeans_embeddings": dict(
        max_bnlj=3, max_smj=0,
        note="assignment folds over a one-row broadcast centroid array",
    ),
    # -- ANN --
    "sim_ann_ivf": dict(
        min_bhj=1, max_bnlj=2, max_smj=0, pushdown=True,
        note="the probe is ONE hinted broadcast of |Q|·nprobe rows",
    ),
    "sim_ann_recall_eval": dict(
        min_bhj=1, max_bnlj=2, pushdown=True,
        note="query vectors broadcast",
    ),
    # -- joins / TPC-H shapes --
    "join_bloom_runtime_filter": dict(
        min_bhj=4, pushdown=True, note="the filter side is broadcast"
    ),
    "j1_enrichment_join": dict(
        max_exchanges=0, min_bhj=1, max_smj=0, pushdown=True,
        note="THE broadcast-join claim: dim broadcast, ZERO exchanges",
    ),
    "q9_product_profit": dict(
        max_exchanges=1, min_bhj=4, max_smj=0, pushdown=True,
        note="four dims broadcast; the ONE exchange is the final group-by",
    ),
    "sample_weighted_topk": dict(
        max_exchanges=0, max_smj=0,
        note="orderBy+limit is TakeOrderedAndProject, not a global sort",
    ),
    "q2_min_cost_supplier": dict(
        min_bhj=8, max_smj=0, pushdown=True,
        note="predicates pushed below the aggregate as broadcast semi-joins",
    ),
    "q20_dominant_suppliers": dict(
        min_bhj=3, max_smj=0, pushdown=True,
        note="the DISTINCT-ed suppkey set broadcasts at any scale",
    ),
    "q6_forecast_revenue": dict(
        max_exchanges=1, pushdown=True,
        note="pure scan+agg; range predicates MUST reach the scan",
    ),
    "q19_disjunctive_pushdown": dict(
        max_exchanges=1, min_bhj=1, max_smj=0, pushdown=True,
        note="OR-of-ANDs partially pushed; broadcast part side",
    ),
    "range_partition_plan": dict(
        max_exchanges=1, max_bnlj=2,
        note="pinned bounds: one orders scan, one bucket-count exchange",
    ),
    "dedup_cluster_components_star": dict(
        max_exchanges=1, note="rounds run at build; final rollup only"
    ),
    "join_bucketed_orderkey": dict(
        max_exchanges=0,
        note="bucketed co-located join (tests/test_bucketing.py sets up)",
    ),
}

# MANIFEST bound -> the audit_plan counter it bounds
_BOUNDS = dict(
    max_exchanges="exchanges", min_bhj="bhj", max_smj="smj", max_bnlj="bnlj"
)


def shape_errors(inv: dict, plan: str) -> list[str]:
    """The MANIFEST fields in `inv` that the plan text breaks, plus the
    blanket shapes never acceptable at any scale."""
    a = audit_plan(plan)
    errors = [f"{k} x{a[k]}" for k in ("cartesian", "row_python") if a[k]]
    for field, counter in _BOUNDS.items():
        if field not in inv:
            continue
        n, bound = a[counter], inv[field]
        if (n < bound) if field.startswith("min") else (n > bound):
            errors.append(f"{counter} {n} breaks {field}={bound}")
    if inv.get("pushdown") and not re.search(r"PushedFilters: \[[^\]]", plan):
        errors.append("no scan carries a non-empty PushedFilters list")
    return errors


@pytest.mark.parametrize("name", sorted(MANIFEST))
def test_plan_invariants(registry_plan, name):
    inv = MANIFEST[name]
    plan = registry_plan(name)
    errors = shape_errors(inv, plan)
    assert not errors, (
        f"{name}: plan shape degraded — {'; '.join(errors)}\n"
        f"note: {inv['note']}\nplan (first 4000 chars):\n{plan[:4000]}"
    )


def test_manifest_names_are_registered():
    registered = set(all_queries())
    missing = sorted(set(MANIFEST) - registered)
    assert not missing, f"manifest names not in registry: {missing}"


# The single sanctioned partition-less-window-over-unbounded-input
# query: l4_batch_index is the reference's L3/L4 fixture form, whose
# docstring flags it as NOT 100 TB-safe and points at the scalable
# twin (sinks/per_record_json.py + l3_global_index_scalable).
UNBOUNDED_WINDOW_WHITELIST = {"l4_batch_index"}

# Queries that compute one input twice (plan_audit.duplicate_exchanges):
# column pruning, or an IsNotNull inferred on one join side only, left
# two exchanges AQE cannot reuse. Exact: each entry must still trip the
# rule. This is the queue for removing the duplicated work.
DUPLICATE_WORK_ALLOWED: dict[str, str] = {
    "dedup_title_hamming_salted": "block shuffle with and without seg_i",
    "funnel_view_click_purchase": "per-user shuffle with and without min(ts)",
    "mixture_token_budget": "per-source shuffle with and without count",
    "q15_top_supplier": "revenue view twice; isnotnull(l_suppkey) one side",
    "skew_salted_join_planned": "per-user shuffle as [count], [count, sum]",
    "text_vocab_oov_rate": "corpus _spread as [doc_id, text] and [text]",
}


def test_registry_wide_blanket_invariants(registry_build):
    """Every registered query's plan passes the blanket shapes and the
    plan-tree rules outside their exact allowlists. Reads each query's
    session build (conftest ``registry_build``), whose plan and rule
    hits were read when it was built (iterative queries run their
    rounds then), before the oracle's collect."""
    allowlists = {  # plan-tree rule -> its exact allowlist
        unbounded_global_windows.__name__: UNBOUNDED_WINDOW_WHITELIST,
        duplicate_exchanges.__name__: set(DUPLICATE_WORK_ALLOWED),
    }
    stale = {(rule, n) for rule, allowed in allowlists.items() for n in allowed}
    bad: dict[str, list[str]] = {}
    for name in sorted(all_queries()):
        rec = registry_build(name)
        if rec.error:
            bad[name] = [f"COMPILE_ERROR: {rec.error[:150]}"]
            continue
        found = shape_errors({}, rec.value.plan)
        for rule, hits in rec.value.hits.items():
            if hits and name in allowlists[rule]:
                stale.discard((rule, name))
            else:
                found += [f"{rule}: {h[:200]}" for h in hits]
        if found:
            bad[name] = found
    assert not bad, f"scale-hostile plan shapes: {bad}"
    # an allowlist entry that no longer trips its rule is deleted in the
    # same commit, so no allowance outlives its cause
    assert not stale, f"allowlist entries no longer trip their rule: {stale}"


def test_each_query_is_built_once(registry_build):
    """Each registered query was built exactly once in this session,
    however many readers read its build: in the default tier, the
    oracle sweep (tests/test_oracle_parity.py), the plan claims in
    tests/test_bucketing.py and every plan rule above."""
    for name in all_queries():
        registry_build(name)
    assert registry_build.builds == dict.fromkeys(all_queries(), 1)


def test_round_plan_variants_are_auditable(spark, sf_dir, monkeypatch):
    """The x10 sweep audits the iterative queries through their
    one-round stand-ins (plans/scale_audit.py). Pin that each stand-in
    exposes real join/aggregate structure — if a refactor ever made
    one return a checkpoint scan (zero joins), the sweep would go
    blind on exactly the family where a scale regression hides — and
    that each fixpoint query and its stand-in build the SAME round
    function, so a re-forked copy of a round body fails here."""
    from wiki_data_pipeline_spark.plans import llm_ops
    from wiki_data_pipeline_spark.plans.registry import get
    from wiki_data_pipeline_spark.plans.scale_audit import round_plan_variants

    round_fns = {
        "dedup_cluster_components": "_min_label_round",
        "dedup_cluster_components_star": "_star_round",
        "graph_pagerank_dedup": "_pr_round",
    }
    calls = dict.fromkeys(round_fns.values(), 0)

    def counted(fn_name):
        real = getattr(llm_ops, fn_name)

        def wrapper(*args):
            calls[fn_name] += 1
            return real(*args)

        return wrapper

    for fn_name in calls:
        monkeypatch.setattr(llm_ops, fn_name, counted(fn_name))

    for name, fn_name in round_fns.items():
        before = calls[fn_name]
        get(name).fn(spark, sf_dir)  # eager pins run the rounds
        assert calls[fn_name] > before, (
            f"{name}: query loop does not build llm_ops.{fn_name}"
        )

    variants = round_plan_variants()
    assert set(round_fns) <= set(variants)
    for name, fn in variants.items():
        before = dict(calls)
        df = fn(spark, sf_dir)
        if name in round_fns:
            assert calls[round_fns[name]] == before[round_fns[name]] + 1, (
                f"{name}: stand-in does not build llm_ops.{round_fns[name]}"
            )
        a = audit_plan(df._jdf.queryExecution().executedPlan().toString())
        joins = a["bhj"] + a["smj"] + a["bnlj"]
        assert joins >= 1, f"{name}: round plan carries no join nodes"
        assert a["cartesian"] == 0, f"{name}: cartesian at fixture SF"
        assert a["row_python"] == 0, f"{name}: row-at-a-time Python"
        assert a["scans"] >= 1, f"{name}: no source scan visible"


def test_window_audit_catches_reexpanded_bound(spark):
    """A bound BELOW a row-multiplying operator does not bound the
    window — explode(agg(...)) re-expands cardinality, so a
    partition-less window above it must flag even though an Aggregate
    sits in the subtree."""
    agged = (
        spark.range(1000)
        .groupBy((F.col("id") % 10).alias("g"))
        .agg(F.collect_list("id").alias("ids"))
    )
    # bounded: partition-less window directly over the aggregate
    w = Window.orderBy("g")
    bounded = agged.select("g", F.row_number().over(w).alias("r"))
    assert unbounded_global_windows(bounded) == []
    # re-expanded: explode between the aggregate and the window
    exploded = agged.select("g", F.explode("ids").alias("id"))
    w2 = Window.orderBy("id")
    reexpanded = exploded.select(
        "id", F.row_number().over(w2).alias("r")
    )
    assert unbounded_global_windows(reexpanded), (
        "window over explode(agg(...)) must flag: the aggregate bound "
        "is re-expanded by the explode"
    )


def test_window_audit_union_needs_all_children_bounded(spark):
    """A union's cardinality is the SUM of its children, so
    union(bounded, corpus-sized) is NOT bounded; union(bounded,
    bounded) stays clean."""
    bounded = (
        spark.range(1000)
        .groupBy((F.col("id") % 10).alias("k"))
        .agg(F.count("*").alias("n"))
        .select((F.col("k") + F.col("n")).alias("v"))
    )
    corpus = spark.range(100_000).select(F.col("id").alias("v"))
    w = Window.orderBy("v")

    mixed = bounded.unionAll(corpus).select(
        "v", F.row_number().over(w).alias("r")
    )
    assert unbounded_global_windows(mixed), (
        "union(agg-bounded, corpus-sized) under a partition-less "
        "window must flag — the union re-introduces the corpus side"
    )

    bounded2 = (
        spark.range(1000)
        .groupBy((F.col("id") % 7).alias("k"))
        .agg(F.count("*").alias("n"))
        .select((F.col("k") * F.col("n")).alias("v"))
    )
    both = bounded.unionAll(bounded2).select(
        "v", F.row_number().over(w).alias("r")
    )
    assert unbounded_global_windows(both) == [], (
        "union of two aggregate-bounded branches is bounded"
    )


def test_window_audit_cartesian_product_stops_bound_search(spark):
    """CartesianProductExec's node name does not contain 'Join', so
    the row-multiplying stop-list must name it explicitly — a bound
    BELOW a cartesian product does not bound the product."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a genuine CartesianProductExec (broadcast disabled;
        # with it on, the small side becomes a BNLJ which already
        # stops the search via the 'Join' substring)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        agged = (
            spark.range(1000)
            .groupBy((F.col("id") % 10).alias("k"))
            .agg(F.count("*").alias("n"))
        )
        wide = spark.range(50_000).select(F.col("id").alias("j"))
        prod = agged.crossJoin(wide)
        plan = prod._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" in plan, (
            "test setup: expected a CartesianProductExec in the plan"
        )
        w = Window.orderBy("j")
        windowed = prod.select("j", F.row_number().over(w).alias("r"))
        assert unbounded_global_windows(windowed), (
            "partition-less window over cartesian(agg, corpus) must "
            "flag — the aggregate bound is below a row-multiplying "
            "product"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_duplicate_work_audit_flags_a_pruned_consumer(spark):
    """Two consumers of one aggregate that read different columns get
    two exchanges AQE cannot reuse — the range_partition_plan shape,
    where pruning dropped any_value(total) from one consumer. Two
    consumers reading the SAME columns canonicalize and are reused."""
    agg = spark.range(1000).groupBy((F.col("id") % 10).alias("k")).agg(
        F.count("*").alias("n"), F.sum("id").alias("s")
    )
    pruned = agg.select("k", "n").join(agg.select("k", "s"), "k")
    assert duplicate_exchanges(pruned), "pruned consumer pair not flagged"
    same = agg.select("k", "n")
    reused = same.join(same.select("k", F.col("n").alias("n2")), "k")
    assert duplicate_exchanges(reused) == []


def test_duplicate_work_audit_exempts_scan_broadcasts(spark):
    """A broadcast of a filtered scan used twice, once per column set,
    is exempt: the broadcast threshold already bounds its size."""
    small = spark.range(100).filter(F.col("id") % 3 == 0).select(
        "id", (F.col("id") * 2).alias("x")
    )
    big = spark.range(100_000)
    twice = big.join(F.broadcast(small.select("id")), "id").unionByName(
        big.join(F.broadcast(small), "id").select(
            (F.col("id") + F.col("x")).alias("id")
        )
    )
    plan = twice._jdf.queryExecution().executedPlan().toString()
    assert audit_plan(plan)["broadcast_exchanges"] == 2
    assert duplicate_exchanges(twice) == []


def test_duplicate_work_audit_resolves_grouping_aliases(spark):
    """Pulled-out grouping keys all print as `_groupingexpression`; the
    rule compares what they alias, so two salts are two inputs (the
    CMS salt literals '#0'/'#1' also defeat an id-stripping regex)."""
    salted = [
        spark.range(1000).groupBy(
            F.concat((F.col("id") % 10).cast("string"), F.lit(f"#{s}"))
            .alias("k")
        ).agg(F.count("*").alias("n"))
        for s in (0, 1)
    ]
    both = salted[0].unionByName(salted[1])
    plan = both._jdf.queryExecution().executedPlan().toString()
    assert plan.count("_groupingexpression") >= 2
    assert duplicate_exchanges(both) == []


def test_duplicate_work_audit_ignores_inferred_isnotnull(spark):
    """Catalyst infers isnotnull(k) on the join side only and pushes it
    below that consumer's aggregate; the other consumer's aggregate has
    no filter. The two are still one input computed twice. The input
    is checkpointed so the inferred filter stays a plain isnotnull(k)
    above the scan instead of being rewritten through a projection."""
    rows = (
        spark.range(1000)
        .select(
            F.when(F.col("id") % 7 != 0, F.col("id") % 10).alias("k"),
            F.col("id").alias("v"),
        )
        .localCheckpoint()
    )
    agg = rows.groupBy("k").agg(F.sum("v").alias("s"))
    keys = spark.range(10).select(F.col("id").alias("k"))
    top = agg.agg(F.max("s").alias("m"))
    both = agg.join(keys, "k").crossJoin(F.broadcast(top))
    plan = both._jdf.queryExecution().executedPlan().toString()
    assert "isnotnull(k" in plan
    assert duplicate_exchanges(both), "one-sided IsNotNull hid the pair"
