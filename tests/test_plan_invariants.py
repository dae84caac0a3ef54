"""Plan-shape regression manifest (r8 verdict item 1).

The wall-clock gate (bench.py) catches >=2x slowdowns at sf0.1; a plan
regression that costs 1.5x at sf0.1 but is a scale-killer at 100x —
a broadcast silently becoming a shuffle join after a threshold/stats
change, a new Exchange, a CartesianProduct, a filter no longer reaching
the parquet scan — sails through it. This manifest pins the PHYSICAL
PLAN SHAPE of the most expensive registered queries (top of
BENCH_BASELINE.json by frozen cost, plus the queries whose plan IS the
design claim: j1's broadcast at plans/star_schema.py:115, q9's single
fact-fact shuffle, q19's disjunctive pushdown): each declares ceilings
on shuffle Exchanges and scans, floors on BroadcastHashJoins where
broadcast is the designed strategy, and whether predicate pushdown must
reach the scan. Compilation only — ``executedPlan`` is the pre-AQE
physical plan, deterministic at the pinned fixture SF — so the sweep is
cheap and the failure message carries the full audit diff.

Blanket invariants over every manifest entry (and, cheaply, the WHOLE
registry in test_registry_wide_blanket_invariants): zero
CartesianProduct, zero row-at-a-time Python (BatchEvalPython) — the two
shapes that are never acceptable at 100 TB.

Ceilings are the r9 measured values at sf0.001 — i.e. "the plan we
audited and accepted", not aspirations. A failure means the plan
CHANGED; if the change is intentional and audited, update the manifest
entry in the same commit and say why in its note.
"""

from __future__ import annotations

import os
import re
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    ),
)
from plan_audit import audit_plan  # noqa: E402

from wiki_data_pipeline_spark.plans.registry import all_queries  # noqa: E402

# name -> declared invariants. Fields (all optional except the blanket
# zero-cartesian / zero-row-python, asserted for every entry):
#   max_exchanges:  ceiling on shuffle Exchange nodes (pre-AQE)
#   max_scans:      ceiling on parquet scans (branch-reuse regressions)
#   min_bhj:        floor on BroadcastHashJoin nodes (designed broadcasts)
#   max_smj:        ceiling on SortMergeJoin nodes (a broadcast that
#                   silently became a shuffle join raises this)
#   max_bnlj:       ceiling on BroadcastNestedLoopJoin (range/boundary
#                   joins that are broadcast-small by design)
#   pushdown:       True = at least one scan must carry a non-empty
#                   PushedFilters list
#   note:           why the declared shape is the intended one
MANIFEST: dict[str, dict] = {
    # -- dedup family (documents) --
    "dedup_minhash_verified": dict(
        max_exchanges=5, max_scans=12, min_bhj=2, max_smj=0, pushdown=True,
        note="two-stage LSH->exact-Jaccard, r10 single-consumption "
        "spelling: the LSH pair pipeline appears ONCE (the old "
        "candidate-id semi-joins triplicated it — 3x the md5 map at "
        "x10) and the verify side is a linear all-docs shingle-array "
        "map with the token array materialized before the lambda "
        "(plans/llm_ops.py:497-530)",
    ),
    "dedup_minhash_calibration": dict(
        max_exchanges=8, max_scans=0, max_smj=2,
        note="r15: the shared (signatures + shingle-array) state frame "
        "is now an eager pin — the r11 repartition-exchange form "
        "relied on exchange reuse that column pruning silently broke "
        "(the band consumer's 9-col exchange no longer canonicalized "
        "with the pair joins' 10-col one, so the md5 map ran twice). "
        "Visible plan is checkpoint scans + the 2 pair joins; zero "
        "parquet scans, so no pushdown assertion (filters ran at pin "
        "time). r16: the r15 entry pinned min_bhj=2/max_smj=0, but "
        "the pair joins' build side is the PER-DOC state frame — "
        "corpus-sized, the keep_best class — so the broadcast is an "
        "accident of fixture stats, not a design; under the cluster "
        "profile at x10 the stats-owned plan is (correctly) SMJ. "
        "Floor dropped, SMJ ceiling 2, exchange ceiling covers the "
        "SMJ regime's hash exchanges (pairs + sa + sb per join side)",
    ),
    "dedup_family_agreement": dict(
        max_exchanges=8, max_scans=3, max_smj=2, pushdown=True,
        note="r16: the Jaccard and containment arms project from ONE "
        "pinned pairwise_shingle_overlap frame (the r15 plan ran the "
        "shingle inverted-index join twice — 27 scans / 19 exchanges "
        "pinned here, 54 scan nodes in the dump). Visible plan is the "
        "LSH arm (3 corpus scans) + checkpoint-scan projections + the "
        "2 full-outer membership SMJs (pair-keyed, never broadcast); "
        "the old min_bhj=6 counted the overlap pipelines' internal "
        "joins, which now run at pin time",
    ),
    "dedup_keep_best": dict(
        max_exchanges=3, max_scans=3, max_smj=1, pushdown=True,
        note="r15 (verdict item 1): the hard F.broadcast(comp) hint is "
        "GONE — the components table is dup-rate-sized (a corpus "
        "fraction, unbounded at 100 TB), so forcing it into every "
        "executor was an OOM-class hint. Statically the checkpointed "
        "comp frame has unknown stats -> ONE SortMergeJoin on doc_id "
        "(the scale-correct plan); AQE owns the runtime choice. The "
        "2 extra exchanges are that join's two hash exchanges",
    ),
    "dedup_simhash": dict(
        max_exchanges=2, max_scans=3, max_smj=0, pushdown=True,
        note="sign-LSH blocks; bit-vote aggregate, no join",
    ),
    "dedup_simhash_hamming_histogram": dict(
        max_exchanges=8, max_scans=9, min_bhj=2, max_smj=0, pushdown=True,
        note="block-join candidates + popcount histogram; r15: the "
        "participant semi-filter broadcast is stats-chosen, not "
        "hinted (pair-participant set is a corpus fraction)",
    ),
    "dedup_minhash_lsh": dict(
        max_exchanges=3, max_scans=3, max_smj=0, pushdown=True,
        note="banded signatures; shuffle on (band, sig) only — an SMJ "
        "here would mean an accidental all-pairs self-join",
    ),
    "dedup_impact_report": dict(
        max_exchanges=10, max_scans=3, pushdown=True,
        note="r16: Jaccard/containment branches project from ONE "
        "pinned pairwise_shingle_overlap frame (was 27 scans / 23 "
        "exchanges with the inverted-index join once per score). "
        "Visible plan: LSH arm (3 corpus scans) + checkpoint-scan "
        "count branches; min_bhj dropped — the overlap joins run at "
        "pin time",
    ),
    "dedup_substring_spans": dict(
        max_exchanges=4, max_scans=0, max_smj=0,
        note="r11: span stream pinned (3 consumers) — visible plan is "
        "checkpoint-scan aggregates + 2 joins; tokenize/md5 runs once",
    ),
    # -- text / scoring --
    "text_winnow_fingerprint": dict(
        max_exchanges=2, max_scans=2,
        note="winnowing is map-only (higher-order transform) + one "
        "groupBy; plan may fold to a checkpointed scan",
    ),
    "score_bigram_surprisal": dict(
        max_exchanges=2, max_scans=0, min_bhj=1, max_smj=0,
        note="r11: bigram stream AND per-doc score table pinned — "
        "visible plan is the broadcast threshold join over the "
        "checkpointed scores; count tables built once at pin time",
    ),
    "sample_dsir_importance": dict(
        max_exchanges=4, max_scans=0, min_bhj=1, max_smj=0, max_bnlj=1,
        note="r11: one explode pass into a pinned (doc,lang,term) "
        "frame; both LMs from one conditional aggregate; broadcast "
        "weight join (BNLJ = the O(1)-row consts broadcast)",
    ),
    # -- pipeline rollups --
    "quality_gopher_filters": dict(
        max_exchanges=1, max_scans=1, max_smj=0,
        note="r9 shuffle-audit rewrite: MAP-ONLY per-doc quality gate "
        "(array_sort + linear aggregate run-length pass instead of "
        "explode->groupBy — was re-shuffling 14x the corpus bytes); "
        "the ONE exchange is _spread's fixture-parallelism repartition "
        "of raw doc rows",
    ),
    "pipeline_yield_report": dict(
        max_exchanges=7, max_scans=6, min_bhj=5, pushdown=True,
        note="stage-yield funnel; stage filters pushed to scan "
        "(r9: gopher stage went map-only — one exchange and one "
        "BHJ fewer)",
    ),
    "pipeline_quality_gate": dict(
        max_exchanges=2, max_scans=3, min_bhj=2, pushdown=True,
        note="gate thresholds broadcast against the scored corpus "
        "(r9: gopher stage went map-only — both remaining exchanges "
        "are _spread repartitions)",
    ),
    "contamination_apply_clean": dict(
        max_exchanges=5, max_scans=3, min_bhj=2, max_smj=0, pushdown=True,
        note="decontamination anti-join broadcasts the contaminated-id "
        "set BY STATS at fixture scale (r15: the hard hint is gone — "
        "the flag set is contamination-rate-sized, a corpus fraction, "
        "so the planner must stay free to flip at scale)",
    ),
    # -- graph / clustering --
    "graph_triangle_stats": dict(
        max_exchanges=12, max_scans=0, min_bhj=2, max_smj=0,
        note="r11: the LSH pair pipeline runs ONCE behind a "
        "localCheckpoint (this plan consumes it 6x); visible plan is "
        "checkpoint-scan joins/aggregates only, so no parquet scans "
        "or pushdown to assert here — the pipeline's own shape is "
        "pinned under dedup_minhash_lsh",
    ),
    "graph_degree_histogram": dict(
        max_exchanges=4, max_scans=0, max_smj=0,
        note="r11: pair frame checkpointed once (the degree union "
        "consumes it twice); two hash aggregates over checkpoint "
        "scans — pipeline shape pinned under dedup_minhash_lsh",
    ),
    "cluster_kmeans_embeddings": dict(
        max_exchanges=11, max_scans=6, max_bnlj=3, max_smj=0,
        note="r15: assignment is a narrow argmin fold over a one-row "
        "broadcast centroid array (BNLJ = that scalar cross, one per "
        "assignment) and update explodes the vector carried through "
        "the fold — the r14 min_by(struct) aggregate (SortAggregate "
        "of N·k rows + exchange) and the per-iteration join back to "
        "emb (the old min_bhj floor) are gone by design. r16: +4 "
        "exchanges vs the r15 ceiling = the conditional _spread "
        "repartition (the single-split fixture scan ran every fold "
        "on ONE core; passthrough on a pre-split scan) and the "
        "k-row centroid collects now counted un-reused statically",
    ),
    # -- ANN --
    "sim_ann_ivf": dict(
        max_exchanges=5, max_scans=4, min_bhj=1, max_bnlj=2, max_smj=0,
        pushdown=True,
        note="inline IVF: r15 narrow argmin/probe folds over the "
        "one-row broadcast centroid array. r16: assignment CARRIES "
        "the vector and probes carry the query vector, so the "
        "posting-list probe is ONE BroadcastHashJoin on cid whose "
        "build side is the |Q|·nprobe probe table (both factors "
        "fixed index parameters — a designed bounded broadcast, "
        "hinted, so it holds at any corpus size: max_smj=0 again); "
        "the r15 joins back to the corpus on vec_id/query_id (two "
        "corpus-keyed exchanges + the x10 SMJ allowance) are gone. "
        "min_bhj=1 = that probe join. _spread feeds the fold "
        "(single-split fixture scan ran it on one core)",
    ),
    "sim_ann_recall_eval": dict(
        max_exchanges=9, max_scans=4, min_bhj=1, max_bnlj=2, pushdown=True,
        note="ANN vs exact baseline; query vectors broadcast. r16: "
        "the exact-baseline arm is PINNED (it was consumed twice — "
        "hits join + qs distinct — re-running the O(Q·N) brute-force "
        "pass per consumer); scans drop 10 -> 4 (the IVF arm's), and "
        "the hits/qs joins run over |Q|·k checkpoint scans",
    ),
    # -- joins / TPC-H shapes --
    "join_bloom_runtime_filter": dict(
        max_exchanges=2, max_scans=2, min_bhj=4, pushdown=True,
        note="bloom-pruned probe: filter side broadcast twice (build + "
        "probe), big side scanned once",
    ),
    "j1_enrichment_join": dict(
        max_exchanges=0, max_scans=2, min_bhj=1, max_smj=0, pushdown=True,
        note="THE broadcast-join claim (plans/star_schema.py:115): "
        "dim broadcast, ZERO shuffle exchanges",
    ),
    "q9_product_profit": dict(
        max_exchanges=1, max_scans=5, min_bhj=4, max_smj=0, pushdown=True,
        note="all four dims broadcast; the ONE exchange is the final "
        "group-by — the claimed single fact-side shuffle",
    ),
    "sample_weighted_topk": dict(
        max_exchanges=0, max_scans=1, max_smj=0,
        note="A-ES weighted sample: orderBy+limit MUST compile to "
        "TakeOrderedAndProject (per-partition heap of k) — an Exchange "
        "here means a global sort snuck in",
    ),
    "q2_min_cost_supplier": dict(
        max_exchanges=2, max_scans=9, min_bhj=8, max_smj=0, pushdown=True,
        note="correlated-MIN decorrelated to one (partkey,suppkey) agg "
        "+ partkey window — the 2 exchanges; EU-supplier and part-size "
        "predicates pushed BELOW the aggregate as broadcast semi-joins "
        "on the grouping keys (r9 shuffle audit: 41x less shuffle at "
        "sf0.1 — Catalyst cannot push joins through aggregates itself)",
    ),
    "q20_dominant_suppliers": dict(
        max_exchanges=3, max_scans=4, min_bhj=3, max_smj=0, pushdown=True,
        note="nested-agg semi-join chain, dims broadcast; the 3rd "
        "exchange is the qualifying-suppkey DISTINCT (r9: added so "
        "the semi-join build side is bounded by the supplier dim and "
        "the broadcast survives 10x stats — the x10 sweep caught the "
        "un-distinct-ed set flipping to SMJ); blue-part predicate "
        "pushed below the aggregate as a broadcast semi-join (r9 "
        "shuffle audit: 8.4x less shuffle at sf0.1)",
    ),
    "q6_forecast_revenue": dict(
        max_exchanges=1, max_scans=1, pushdown=True,
        note="pure scan+agg; range predicates MUST reach the scan",
    ),
    "q19_disjunctive_pushdown": dict(
        max_exchanges=1, max_scans=2, min_bhj=1, max_smj=0, pushdown=True,
        note="OR-of-ANDs partially pushed; broadcast part side",
    ),
    "range_partition_plan": dict(
        max_exchanges=1, max_scans=1, max_bnlj=2,
        note="r11 cumulative-quantile rewrite: bounds come from ONE "
        "distributed prefix-sum pass instead of 7 percentile_disc "
        "buffers. r15: the per-bucket aggregate carries only the "
        "count (any_value(bounds) made it a SortAggregate). r16 "
        "(ADVICE item 1): the 1-row bounds frame is PINNED — the r15 "
        "claim that the two broadcast subtrees canonicalize was "
        "false (column pruning made them 1-col vs 2-col, so the "
        "orders count shuffle + prefix sum ran TWICE); now the "
        "quantile pipeline runs once at pin time and the visible "
        "plan is one orders scan + 2 broadcast crosses of the "
        "checkpointed row + the bucket-count exchange (min_bhj "
        "dropped — the offset broadcasts run at pin time)",
    ),
    # -- iterative fixpoints: the returned DF is a localCheckpoint
    # scan (rounds ran eagerly), so only blanket invariants apply --
    "dedup_cluster_components": dict(
        note="fixpoint rounds execute at build; final DF is checkpointed"
    ),
    "dedup_cluster_components_star": dict(
        max_exchanges=1, note="star fixpoint; final rollup exchange only"
    ),
    "graph_pagerank_dedup": dict(
        note="3 fixed rounds at build; final DF checkpointed"
    ),
    "join_bucketed_orderkey": dict(
        max_exchanges=0,
        note="bucketed co-located join: ZERO exchanges is the claim "
        "(tests/test_bucketing.py is the setup-owning twin)",
    ),
}

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _compile(spark, name: str) -> tuple[str, dict]:
    # Compile under a CLEARED cache (r16): a cached frame left alive
    # by an earlier test in the same session (kmeans caches its
    # embedding projection) prints its whole InMemoryRelation subtree
    # into every later compile that overlaps it, so the audited
    # exchange/scan counts depended on suite order — the manifest must
    # pin the query's OWN plan, not the session's cache history.
    spark.catalog.clearCache()
    df = all_queries()[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    audit = audit_plan(plan)
    audit["pushed_filters"] = len(
        re.findall(r"PushedFilters: \[[^\]]", plan)
    )
    return plan, audit


@pytest.mark.parametrize("name", sorted(MANIFEST))
def test_plan_invariants(spark, name):
    inv = MANIFEST[name]
    plan, a = _compile(spark, name)
    errors = []
    # blanket: never acceptable at any scale
    if a["cartesian"]:
        errors.append(f"CartesianProduct x{a['cartesian']}")
    if a["row_python"]:
        errors.append(f"row-at-a-time Python x{a['row_python']}")
    if "max_exchanges" in inv and a["exchanges"] > inv["max_exchanges"]:
        errors.append(
            f"exchanges {a['exchanges']} > ceiling {inv['max_exchanges']}"
        )
    if "max_scans" in inv and a["scans"] > inv["max_scans"]:
        errors.append(f"scans {a['scans']} > ceiling {inv['max_scans']}")
    if "min_bhj" in inv and a["bhj"] < inv["min_bhj"]:
        errors.append(
            f"BroadcastHashJoin {a['bhj']} < floor {inv['min_bhj']} — "
            "a designed broadcast degraded to a shuffle join"
        )
    if "max_smj" in inv and a["smj"] > inv["max_smj"]:
        errors.append(f"SortMergeJoin {a['smj']} > ceiling {inv['max_smj']}")
    if "max_bnlj" in inv and a["bnlj"] > inv["max_bnlj"]:
        errors.append(
            f"BroadcastNestedLoopJoin {a['bnlj']} > ceiling {inv['max_bnlj']}"
        )
    if inv.get("pushdown") and a["pushed_filters"] == 0:
        errors.append("no scan carries a non-empty PushedFilters list")
    assert not errors, (
        f"{name}: plan shape degraded — {'; '.join(errors)}\n"
        f"note: {inv.get('note', '')}\naudit: {a}\n"
        f"plan (first 4000 chars):\n{plan[:4000]}"
    )


def test_manifest_names_are_registered():
    registered = set(all_queries())
    missing = sorted(set(MANIFEST) - registered)
    assert not missing, f"manifest names not in registry: {missing}"


# The single sanctioned partition-less-window-over-unbounded-input
# query: l4_batch_index is the reference's L3/L4 fixture form, whose
# docstring explicitly flags it as NOT 100 TB-safe and points at the
# scalable twin (sinks/per_record_json.py + l3_global_index_scalable).
# Everything else with an empty partitionSpec must sit above an
# Aggregate/Limit — the r13 audit (plan_audit.unbounded_global_windows)
# is what stops query #210 from silently sorting a corpus-scale frame
# on one partition.
UNBOUNDED_WINDOW_WHITELIST = {"l4_batch_index"}


def test_registry_wide_blanket_invariants(spark):
    """Every registered query compiles to a plan with ZERO
    CartesianProduct, ZERO BatchEvalPython nodes, and (r13) zero
    partition-less Windows over unbounded inputs outside the single
    documented fixture-form whitelist. Compile-only (iterative queries
    do execute their build-time rounds at sf0.001 — a few seconds
    total). Counting is per-line via audit_plan, not substring, so
    Reused/Broadcast exchanges don't confound; the window audit walks
    the JVM plan tree, where partitionSpec is unambiguous."""
    from plan_audit import unbounded_global_windows

    queries = all_queries()
    bad: dict[str, str] = {}
    whitelist_tripped = False
    for name in sorted(queries):
        try:
            df = queries[name](spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            bad[name] = f"COMPILE_ERROR: {str(e)[:150]}"
            continue
        a = audit_plan(plan)
        if a["cartesian"]:
            bad[name] = f"CartesianProduct x{a['cartesian']}"
        elif a["row_python"]:
            bad[name] = f"BatchEvalPython x{a['row_python']}"
        else:
            wins = unbounded_global_windows(df)
            if wins and name in UNBOUNDED_WINDOW_WHITELIST:
                whitelist_tripped = True
            elif wins:
                bad[name] = f"UNBOUNDED_GLOBAL_WINDOW: {wins[0][:150]}"
    assert not bad, f"scale-hostile plan shapes: {bad}"
    # the whitelist is exact, not a dead allowance: if l4_batch_index
    # stops tripping the audit (e.g. it gains the scalable form), the
    # whitelist entry must be deleted in the same commit
    assert whitelist_tripped, (
        "UNBOUNDED_WINDOW_WHITELIST entry no longer trips the audit — "
        "remove it"
    )


def test_round_plan_variants_are_auditable(spark, sf_dir, monkeypatch):
    """The x10 sweep audits the iterative queries through their
    one-round stand-ins (plans/scale_audit.py). Pin that each stand-in
    exposes real join/aggregate structure — if a refactor ever made
    one return a checkpoint scan (zero joins), the sweep would go
    blind on exactly the family where a scale regression hides — and
    that each fixpoint query and its stand-in build the SAME round
    function, so a re-forked copy of a round body fails here."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    from plan_audit import audit_plan

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
    """r14 (ADVICE): a bound BELOW a row-multiplying operator does not
    bound the window — explode(agg(...)) re-expands cardinality, so a
    partition-less window above it must flag even though an Aggregate
    sits in the subtree. The pre-fix audit searched the whole subtree
    for any bound and passed exactly this shape."""
    from pyspark.sql import Window

    from plan_audit import unbounded_global_windows

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
    """r15 (ADVICE): a union's cardinality is the SUM of its children,
    so union(bounded, corpus-sized) is NOT bounded — the pre-fix any()
    search blessed a partition-less window over exactly that shape.
    union(bounded, bounded) stays clean."""
    from pyspark.sql import Window

    from plan_audit import unbounded_global_windows

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
    """r15 (ADVICE): CartesianProductExec's node name does not contain
    'Join', so the row-multiplying stop-list must name it explicitly —
    a bound BELOW a cartesian product does not bound the product."""
    from pyspark.sql import Window

    from plan_audit import unbounded_global_windows

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
