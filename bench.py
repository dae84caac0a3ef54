"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full execution,
no driver-side collect bottleneck). Session startup and JVM warmup are
excluded from per-query timings; a warmup pass primes the parquet
footer cache and codegen.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from wiki_data_pipeline_spark.plans.registry import all_queries
from wiki_data_pipeline_spark.session import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_star_join_revenue",
    "q6_forecast_revenue",
    "q10_returned_revenue",
    "a2_summary_by_source",
    "a1_corpus_summary",
    "f_filter_pipeline",
    "j1_enrichment_join",
    "join_asof",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "sim_cosine_topk",
    "sim_ann_ivf",
    "sim_ann_lsh",
    "dedup_embedding_cosine",
    "text_fingerprint",
    "text_token_count",
    "window_tumbling_hourly",
    "window_session_30m",
    "st2_highwatermark_resume",
    "q17_small_quantity_revenue",
    "q19_disjunctive_pushdown",
    "topk_per_nation",
    "window_moving_value",
    "pipeline_training_prep",
    "q7_nation_trade_volume",
    "q13_order_count_distribution",
    "q14_promo_revenue_share",
    "q15_top_supplier",
    "q18_large_orders",
    "q8_market_share",
    "q16_supplier_part_counts",
    "sql_segment_revenue",
    "st_props_variant_extract",
    "dedup_cluster_components",
    "q2_min_cost_supplier",
    "q9_product_profit",
    "q11_important_parts",
    "q20_dominant_suppliers",
    "q21_sole_blame_suppliers",
    "cluster_kmeans_embeddings",
    "cdc_latest_state",
    "incr_agg_merge",
    "sample_stratified_by_lang",
    "q12_late_shipment_priority",
    "dict_broadcast_enrichment",
    "sample_domain_temperature",
    "score_bigram_surprisal",
    "dedup_substring_spans",
    "bpe_pair_counts",
    "layout_zorder_files",
    "events_minute_ohlc",
    "ann_pq_codes",
    "graph_pagerank_dedup",
    "events_anomaly_mad",
    "path_common_triples",
    "window_rolling_distinct_users",
    "sketch_hll_mergeable_rollup",
    "sim_ann_pq_rerank",
    "dedup_paragraph_chunks",
    "ts_minute_gap_fill",
    "quality_linear_score",
    "sample_dsir_importance",
    "join_cogrouped_asof",
    "window_range_interval",
    "text_shingle_novelty",
    "sketch_count_min_heavy_hitters",
    "streaming_lateness_profile",
]

# Regression-gate baseline: a frozen snapshot covering ALL headline
# queries (BENCH_BASELINE.json merges the r1 medians with first-seen
# medians for queries added after r1). Path overridable for local
# experiments; queries absent from it are skipped by the gate.
BASELINE_BENCH = os.environ.get("SPARK_GRAFT_BENCH_BASELINE", "BENCH_BASELINE.json")
REGRESSION_FACTOR = 2.0
# Absolute-slowdown floor for the regression gate. A pure ratio gate
# has no noise floor: round 7 flagged a3_status_counts at "2.18x" on a
# 0.164 s baseline — i.e. a 0.19 s absolute delta on a query whose
# whole cost is this box's fixed job-submission overhead (idle-machine
# re-timing put that floor at ~0.37 s). A real regression at 100 TB
# shows up as seconds, not a fifth of one; requiring the absolute
# slowdown to clear the floor keeps the 2x ratio meaningful for the
# sub-second half of the registry without loosening it for the
# multi-second queries the gate exists to protect.
REGRESSION_ABS_FLOOR_SEC = 0.5

# Session-normalization sentinels (round-7 verdict item 2): the r7
# driver artifacts showed a UNIFORM ~1.3x elevation across all 201
# queries — including ones whose baselines were frozen the same round
# and whose code didn't change — i.e. a measurement-session shift
# (driver-host load), not a code regression; an idle-box rerun of the
# same commit read median 1.02x against the same baselines. The gate
# therefore measures the session itself: three pinned queries whose
# code has been untouched since r1 (TPC-H Q1/Q3 shapes + hash-groupBy
# dedup — scan+agg, join+topk, and groupBy, so they move with the host
# the way the registry does), takes the MEDIAN of their
# measured/baseline ratios (robust to one sentinel genuinely
# regressing — that one still flags via its own gate row), clamps at
# 1.0 (a fast session must never amplify deltas), and divides every
# query's measurement by it before gating.
SENTINELS = ["q1_pricing_summary", "q3_top_orders", "dedup_exact"]

# Sanity bound on the normalization itself (r8 advice): sentinels
# cannot distinguish host load from a GENUINE code-wide slowdown (a
# global conf change slowing the whole registry — sentinels included —
# divides itself away). Driver-round host load has measured
# 1.27–1.33x; anything past this bound forces a human look instead of
# silent normalization. The raw sentinel ratios ship in the gate line
# and the JSON so the evidence is inspectable either way.
SESSION_RATIO_SANITY_BOUND = 1.5

# The normalization actually APPLIED to the per-query gate is capped
# at the sanity bound (r11 verdict item 3): an uncapped divisor under
# extreme host load would scale every query's gate by that load and
# mask a real regression of the same magnitude. Past the cap the run
# is alert-flagged anyway (session_ratio_alert) — the residue shows up
# as uniform over-the-cap deltas rather than silently vanishing. Both
# raw and normalized per-query ratios ship in the artifact so either
# view is inspectable after the fact.
GATE_NORM_CAP = SESSION_RATIO_SANITY_BOUND


# Sentinel AGREEMENT band (r13, verdict item 3): one multiplicative
# session_ratio is only meaningful if the sentinels moved together.
# r12's driver box read sentinels spanning 1.034-1.312 (27% apart)
# while a single 1.241 divisor was applied to all 209 normalized
# deltas — putting ±25% uncertainty on every normalized ratio, wide
# enough to hide a genuine ~1.5x regression. When max/min sentinel
# disagreement exceeds this band the sentinels are RE-MEASURED (three
# fresh trials; transient load on one sentinel is the common cause)
# and, if they still disagree, the artifact carries
# sentinel_spread_alert=true so the normalized view is read as
# untrusted. The merge after re-measurement takes the per-sentinel
# MIN of the two medians: host load only ever inflates a timing, so
# the smaller median is closer to the true cost — and a smaller
# sentinel ratio yields a smaller divisor, which makes the 2x gate
# STRICTER, never masking.
SENTINEL_SPREAD_BOUND = 1.2


def sentinel_spread(ratios: dict[str, float]) -> float:
    """max/min disagreement across the measured sentinel ratios,
    each CLAMPED at 1.0 first (1.0 when fewer than two measured).

    The clamp mirrors gate_norm's own floor: the applied divisor is
    never below 1.0, so a sentinel reading FASTER than its baseline
    (routine on an idle box whose baseline was frozen under load)
    cannot move the divisor or mask anything — normalized deltas are
    raw deltas on such a session. Only disagreement ABOVE 1.0 is
    divisor-relevant uncertainty; an unclamped spread alerted on
    exactly the harmless fast-session shape (r13: sentinels
    1.00/0.79/0.70 with divisor 1.0 applied)."""
    vals = [max(1.0, v) for v in ratios.values() if v]
    if len(vals) < 2:
        return 1.0
    return max(vals) / min(vals)


def merge_remeasured(
    timings: dict[str, float],
    fresh: dict[str, float],
    sentinels: list[str] = SENTINELS,
) -> dict[str, float]:
    """Fold re-measured sentinel medians into ``timings`` by
    per-sentinel MIN (strict-safe: see SENTINEL_SPREAD_BOUND). A
    genuinely regressed sentinel stays high — both medians carry the
    regression — so the retry cannot hide it."""
    out = dict(timings)
    for s in sentinels:
        if s in fresh and s in out:
            out[s] = min(out[s], fresh[s])
    return out


def gate_norm(norm: float) -> float:
    """The session-ratio divisor the regression gate applies: the
    measured sentinel median, clamped to [1.0, GATE_NORM_CAP]."""
    return min(max(1.0, norm), GATE_NORM_CAP)


def sentinel_ratios(
    timings: dict[str, float],
    baseline: dict[str, float],
    sentinels: list[str] = SENTINELS,
) -> dict[str, float]:
    return {
        s: round(timings[s] / baseline[s], 3)
        for s in sentinels
        if baseline.get(s) and timings.get(s)
    }


def session_ratio(
    timings: dict[str, float],
    baseline: dict[str, float],
    sentinels: list[str] = SENTINELS,
) -> float:
    ratios = sorted(
        timings[s] / baseline[s]
        for s in sentinels
        if baseline.get(s) and timings.get(s)
    )
    if not ratios:
        return 1.0
    n = len(ratios)
    mid = (
        ratios[n // 2]
        if n % 2
        else (ratios[n // 2 - 1] + ratios[n // 2]) / 2
    )
    return max(1.0, mid)


def compute_regressions(
    timings: dict[str, float],
    baseline: dict[str, float],
    factor: float = REGRESSION_FACTOR,
    abs_floor_sec: float = REGRESSION_ABS_FLOOR_SEC,
    norm: float = 1.0,
) -> dict[str, float]:
    """Flag name -> RAW ratio for every query whose session-normalized
    time (``measured / norm``) is slower than ``factor``x its frozen
    baseline AND slower by more than ``abs_floor_sec`` absolute — both
    conditions, so sub-second queries can't trip the gate on
    job-overhead jitter while multi-second regressions (where 2x is
    always >> the floor) are gated exactly as before. ``norm`` is the
    :func:`session_ratio` sentinel factor (1.0 = idle-calibrated
    session). Queries missing from the baseline are skipped (the
    registry-coverage meta-test makes that state unreachable for
    registered queries)."""
    out = {}
    for name, sec in timings.items():
        base = baseline.get(name)
        if not base:
            continue
        adj = sec / norm
        if adj / base > factor and (adj - base) > abs_floor_sec:
            out[name] = round(sec / base, 2)
    return out


def _load_baseline() -> dict[str, float]:
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), BASELINE_BENCH)
    if not os.path.exists(path):
        return {}
    try:
        with open(path, encoding="utf-8") as f:
            doc = json.load(f)
        return (doc.get("parsed") or doc).get("queries") or {}
    except (json.JSONDecodeError, AttributeError):
        return {}


# --- sf1 scale surface (r9 verdict item 3) ---------------------------
# The second decade as a GATED artifact, not an ad-hoc probe: the ~25
# heaviest queries (plus the session sentinels) run at sf0.1 AND at a
# 10x decorrelated replica ("sf1", built by tools/scale_probe.py's
# build_scaled — replica construction documented there: disjoint
# shingle spaces, shifted embeddings, offset keys, fixed dims), in ONE
# session so the per-query scaling exponent log10(t_sf1/t_sf0.1) is
# host-load-self-normalized. The sf1 timings gate against
# BENCH_SF1_BASELINE.json with the same 2x factor + absolute floor +
# sentinel session normalization as the sf0.1 gate (floor scaled 10x:
# at 10x data, a real regression costs seconds). First run freezes the
# baseline; artifact lands in BENCH_SF1.json.
SF1_QUERIES = [
    # sentinels first (session_ratio needs them)
    "q1_pricing_summary",
    "q3_top_orders",
    "dedup_exact",
    # heaviest by frozen sf0.1 cost, spanning every big-data family
    "dedup_minhash_verified",
    "text_winnow_fingerprint",
    "dedup_minhash_calibration",
    "pipeline_yield_report",
    "dedup_family_agreement",
    "join_bloom_runtime_filter",
    "graph_pagerank_dedup",
    "dedup_keep_best",
    "cluster_kmeans_embeddings",
    "dedup_simhash_hamming_histogram",
    "score_bigram_surprisal",
    "dedup_cluster_components",
    "sample_dsir_importance",
    "graph_triangle_stats",
    "pipeline_quality_gate",
    "q20_dominant_suppliers",
    "sim_ann_recall_eval",
    "contamination_apply_clean",
    "sim_ann_ivf",
    "dedup_minhash_lsh",
    "q9_product_profit",
    "q18_large_orders",
    # r10 widening (verdict item 4): the next tier by frozen sf0.1
    # cost, bringing the gated set to 55 — the sf1 gate is the only
    # instrument that has caught an O(N^2) defect (r9 IVF), so its
    # aperture grows every round the budget allows
    "join_bucketed_orderkey",
    "dedup_cluster_components_star",
    "range_partition_plan",
    "dedup_impact_report",
    "dedup_simhash",
    "graph_degree_histogram",
    "dedup_substring_spans",
    "text_char_entropy",
    "dedup_semantic_keep",
    "text_shingle_novelty",
    "split_leakage_minhash",
    "bloom_filter_probe",
    "dedup_paragraph_chunks",
    "sim_ann_pq_rerank",
    "score_unigram_surprisal",
    "q2_min_cost_supplier",
    "quality_gopher_filters",
    "st_props_schema_audit",
    "text_vocab_oov_rate",
    "sql_segment_revenue",
    "dedup_title_hamming",
    "dedup_ngram_jaccard",
    "q8_market_share",
    "sim_ann_pq_adc",
    "contamination_ngram_overlap",
    "q10_returned_revenue",
    "sketch_bloom_fpp_curve",
    # r10 second widening (same round, after the HOF-lambda fixes
    # freed budget): next-25 tier by frozen sf0.1 cost -> 80 gated
    "dedup_incremental_minhash",
    "dedup_title_hamming_salted",
    "sql_recursive_hierarchy",
    "join_interval_overlap",
    "ann_pq_codes",
    "sketch_cms_join_cardinality",
    "q7_nation_trade_volume",
    "sim_ivf_cell_stats",
    "cdc_merge_apply",
    "sketch_count_min_heavy_hitters",
    "text_tfidf_keywords",
    "q5_star_join_revenue",
    "pack_sequences_concat",
    "dedup_ngram_containment",
    "q21_sole_blame_suppliers",
    "quality_column_profile",
    "sim_label_purity",
    "text_unicode_normalize",
    "dedup_embedding_cosine",
    "pipeline_training_prep",
    "ann_pq_reconstruction_eval",
    "sim_ann_lsh",
    "bpe_pair_counts",
    "multimodal_audio_stats",
    "window_session_30m",
    # r11 widening (verdict item 6): next-40 tier by frozen sf0.1
    # cost -> 120 gated. The sf1 gate has caught four O(N^2) defects
    # to date (r9 IVF, r10 title-Hamming flat join, r10 SemDeDup
    # blocking, r10 salted twin) — its aperture grows every round the
    # wall-clock budget allows.
    "join_cogrouped_asof",
    "sketch_approx_distinct_check",
    "q17_small_quantity_revenue",
    "window_rolling_distinct_users",
    "sessionize_session_stats",
    "sim_cosine_topk",
    "path_common_triples",
    "join_asof_forward",
    "q12_late_shipment_priority",
    "events_anomaly_mad",
    "q4_priority_semijoin",
    "l3_global_index_scalable",
    "window_rolling_distinct_hll",
    "emb_random_projection",
    "q16_supplier_part_counts",
    "path_markov_transitions",
    "q13_order_count_distribution",
    "q15_top_supplier",
    "mixture_token_budget",
    "text_top_tokens",
    "join_asof",
    "cdc_merge_plan",
    "window_range_interval",
    "text_token_idf",
    "window_moving_value",
    "streaming_lateness_profile",
    "compliance_delete_plan",
    "events_hourly_seasonality",
    "incr_topk_maintenance",
    "sample_domain_temperature",
    "skew_salted_join_planned",
    "incr_agg_merge",
    "text_lang_confusion",
    "ts_minute_gap_fill",
    "events_minute_ohlc",
    "sketch_quantile_rank_check",
    "q19_disjunctive_pushdown",
    "layout_zorder_files",
    "q14_promo_revenue_share",
    "window_rank_functions",
    "snapshot_expiry_plan",
    "window_tumbling_hourly",
    "q11_important_parts",
]
# r11 final widening: the ENTIRE registry is gated. The explicit list
# above keeps the curated heavy-first ordering; this dynamic tail
# guarantees no registered query — present or future — can sit outside
# the gate's aperture (the append-only baseline freeze in run_sf1
# assigns first-run medians to newly gated names automatically).
SF1_QUERIES += sorted(n for n in all_queries() if n not in set(SF1_QUERIES))
SF1_BASELINE_PATH = "BENCH_SF1_BASELINE.json"
SF1_ABS_FLOOR_SEC = 5.0  # 10x data -> 10x the sf0.1 floor


def replica_layout_fingerprint(sf1_dir: str) -> dict[str, dict[str, int]]:
    """Physical layout of the x10 replica's non-dim tables: non-empty
    part-file count and total parquet row-group count per table.

    Why this is gated (r13): the sf1 baselines are append-only values
    frozen against a SPECIFIC replica layout — r13's replica packed
    each fact table into ONE row group, so scan-bound x10 timings
    were single-core measurements (build_scaled writes 4·mult files
    per fact table since r14, and
    the baselines were re-frozen against that layout in the same
    commit). If build_scaled's write path ever changes the layout
    again, every scan-bound query's x10 time shifts for reasons that
    have nothing to do with code, and a faster layout would strand
    the frozen baselines slow — a future genuine regression could
    then hide inside the stale baseline. The fingerprint makes that
    drift loud: the baseline records the layout it was frozen
    against, and a mismatch ships as replica_layout_changed=true
    (re-freeze the baseline in the same commit that changes the
    layout)."""
    import glob as _glob

    import pyarrow.parquet as _pq

    fp: dict[str, dict[str, int]] = {}
    for t in ("lineitem", "orders", "documents", "events", "embeddings"):
        files = 0
        row_groups = 0
        for p in sorted(
            _glob.glob(os.path.join(sf1_dir, f"{t}.parquet", "part-*.parquet"))
        ):
            md = _pq.ParquetFile(p).metadata
            if md.num_rows:
                files += 1
                # empty part files still carry one empty row group —
                # only rows-bearing files shape scan parallelism
                row_groups += md.num_row_groups
        fp[t] = {"files": files, "row_groups": row_groups}
    return fp


def _time_set(spark, queries, names, sf_dir, trials=3) -> dict[str, float]:
    for name in names:  # warmup: codegen + parquet footers
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    t: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(trials):
        for name in names:
            t0 = time.perf_counter()
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            t[name].append(round(time.perf_counter() - t0, 3))
    return {n: sorted(ts)[len(ts) // 2] for n, ts in t.items()}


def run_sf1() -> None:
    import math

    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.join(here, "tools"))
    from scale_probe import build_scaled

    from wiki_data_pipeline_spark.plans.registry import all_queries
    from wiki_data_pipeline_spark.session import get_spark

    spark = get_spark("bench-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    workdir = os.environ.get(
        "SPARK_GRAFT_SF1_DIR", os.path.join(here, ".scale")
    )
    sf1_dir = build_scaled(spark, workdir, 10)
    # The 1x side of the scaling exponent is measured on a MULTI-FILE
    # re-layout of sf0.1 built by the same repartition(4*mult) formula
    # at mult=1 (r15, verdict item 3): the r14 replica re-layout gave
    # the x10 side 40-file scan parallelism while the driver's sf0.1
    # source stayed single-file-single-row-group, so every scan-bound
    # exponent carried a DOWNWARD layout bias. With
    # both decades on the same layout formula the log-ratio measures
    # the engine, not the file count. The sf0.1 GATE (main bench) is
    # unaffected — it still times the driver's own source dir.
    sf01_dir = build_scaled(spark, workdir, 1)

    t01 = _time_set(spark, queries, SF1_QUERIES, sf01_dir)
    t1 = _time_set(spark, queries, SF1_QUERIES, sf1_dir)

    base_path = os.path.join(here, SF1_BASELINE_PATH)
    layout = replica_layout_fingerprint(sf1_dir)
    frozen_now = False
    if not os.path.exists(base_path):
        # Freeze timings AND the layout fingerprint from the SAME run
        # against the SAME replica, so the baseline's provenance is
        # self-evident — no retroactive stamping (r13 ADVICE: a stamp
        # written later than the freeze could bless a rebuilt replica
        # the frozen timings never saw).
        with open(base_path, "w", encoding="utf-8") as f:
            json.dump(
                {"sf": 1.0,
                 "note": "timings and replica_layout frozen together "
                         "at this file's creating --sf1 run "
                         "(re-frozen r14: multi-file replica layout)",
                 "replica_layout": layout,
                 "queries": t1},
                f, indent=1,
            )
        frozen_now = True
    doc0 = json.load(open(base_path, encoding="utf-8"))
    baseline = doc0["queries"]
    # append-only: queries gated for the first time (tier widening /
    # new registrations) freeze at their first measured median; existing
    # values are NEVER refreshed here (same discipline as
    # tools/freeze_baseline.py)
    new_names = sorted(set(t1) - set(baseline))
    # replica-layout fingerprint (r13): flag drift from the layout the
    # baselines were frozen against. The stamp-if-absent branch only
    # exists for pre-r14 baseline files (fresh freezes above carry the
    # fingerprint from birth); a stamp written after the freeze can
    # bless a replica the frozen timings never saw.
    layout_stamped = "replica_layout" not in doc0
    if layout_stamped:
        doc0["replica_layout"] = layout
    layout_changed = doc0["replica_layout"] != layout
    if new_names or layout_stamped:
        baseline.update({n: t1[n] for n in new_names})
        if new_names:
            appended = doc0.setdefault("appended", {})
            appended[f"append_{len(appended) + 1}"] = new_names
        with open(base_path, "w", encoding="utf-8") as f:
            json.dump(doc0, f, indent=1)
    if layout_changed:
        print(
            "-- WARNING: x10 replica layout differs from the one the "
            "sf1 baselines were frozen against — every scan-bound x10 "
            "timing shifted for non-code reasons; re-freeze "
            f"{SF1_BASELINE_PATH} in the same commit that changed the "
            "layout",
            file=sys.stderr,
        )
    # sentinel agreement check (r13) — same retry/merge as the sf0.1
    # gate; see SENTINEL_SPREAD_BOUND
    raw_sentinels = sentinel_ratios(t1, baseline)
    sentinels_remeasured = False
    if sentinel_spread(raw_sentinels) > SENTINEL_SPREAD_BOUND:
        fresh = _time_set(spark, queries, SENTINELS, sf1_dir)
        t1 = merge_remeasured(t1, fresh)
        raw_sentinels = sentinel_ratios(t1, baseline)
        sentinels_remeasured = True
    spread_val = sentinel_spread(raw_sentinels)
    # scaling exponent: 1.0 = linear in data size, <1 sublinear (fixed
    # costs amortizing), >1 superlinear (a finding). Self-normalized:
    # both scales timed in this session, so host load cancels.
    # Computed AFTER the sentinel re-measure merge (r13 review fix):
    # exponents from the pre-merge t1 could flag a superlinear finding
    # the same run's re-measurement had just disproved, and would
    # disagree with the queries_sf1 values shipped beside them.
    exponents = {
        n: round(math.log10(max(t1[n], 1e-3) / max(t01[n], 1e-3)), 2)
        for n in SF1_QUERIES
    }
    raw_norm = session_ratio(t1, baseline)
    norm = gate_norm(raw_norm)
    regressions = compute_regressions(
        t1, baseline, norm=norm, abs_floor_sec=SF1_ABS_FLOOR_SEC
    )
    doc = {
        "metric": "sf1_total_wall",
        "value": round(sum(t1.values()), 3),
        "unit": "sec",
        "sf": 1.0,
        "queries_sf1": t1,
        "queries_sf01": t01,
        "sf01_source": sf01_dir,
        "exponent_note": (
            "symmetric layouts since r15: the 1x side runs on the "
            "x1 replica (same repartition(4*mult) write formula as "
            "x10), retiring the r14 downward layout bias"
        ),
        "scaling_exponents": exponents,
        "superlinear": {n: e for n, e in exponents.items() if e > 1.1},
        "baseline": SF1_BASELINE_PATH,
        "baseline_frozen_this_run": frozen_now,
        "session_ratio": round(raw_norm, 3),
        "session_ratio_applied": round(norm, 3),
        "session_ratio_sentinels": raw_sentinels,
        "session_ratio_alert": raw_norm > SESSION_RATIO_SANITY_BOUND,
        "sentinel_spread": round(spread_val, 3),
        "sentinel_spread_alert": spread_val > SENTINEL_SPREAD_BOUND,
        "sentinels_remeasured": sentinels_remeasured,
        "replica_layout": layout,
        "replica_layout_changed": layout_changed,
        "regressions_over_2x": regressions,
        "regressions_over_2x_normalized": {
            n: round(t1[n] / baseline[n] / norm, 2) for n in regressions
        },
    }
    with open(os.path.join(here, "BENCH_SF1.json"), "w", encoding="utf-8") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps(doc))


def run_sf1_full() -> None:
    """Full-registry x10 exponent sweep (r10 verdict item 4): every
    registered query timed ONCE at sf0.1 and once at the 10x replica —
    artifact-only (BENCH_SF1_FULL.json), no gate. Single-trial by
    design: 2 x ~210 queries at two scales is the cost ceiling; the
    gated 55-query set (--sf1) keeps the median-of-3 rigor, this sweep
    exists so NO query's 10x wall behavior is merely inferred from the
    shuffle-byte audit. Superlinear flags here feed the next round's
    gate tier."""
    import math

    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.join(here, "tools"))
    from scale_probe import build_scaled

    from wiki_data_pipeline_spark.plans.registry import all_queries
    from wiki_data_pipeline_spark.session import get_spark

    spark = get_spark("bench-sf1-full")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    workdir = os.environ.get(
        "SPARK_GRAFT_SF1_DIR", os.path.join(here, ".scale")
    )
    sf1_dir = build_scaled(spark, workdir, 10)
    # symmetric-layout 1x side (r15, verdict item 3 — see run_sf1)
    sf01_dir = build_scaled(spark, workdir, 1)

    names = sorted(queries)
    t01 = _time_set(spark, queries, names, sf01_dir, trials=1)
    t1 = _time_set(spark, queries, names, sf1_dir, trials=1)
    exponents = {
        n: round(math.log10(max(t1[n], 1e-3) / max(t01[n], 1e-3)), 2)
        for n in names
    }
    doc = {
        "metric": "sf1_full_total_wall",
        "value": round(sum(t1.values()), 3),
        "unit": "sec",
        "sf": 1.0,
        "trials": 1,
        "note": "single-trial full-registry exponent sweep; gate rigor "
        "lives in --sf1 (median-of-3 over the 55 heaviest)",
        "queries_sf1": t1,
        "queries_sf01": t01,
        "scaling_exponents": exponents,
        "superlinear": {n: e for n, e in exponents.items() if e > 1.1},
    }
    with open(
        os.path.join(here, "BENCH_SF1_FULL.json"), "w", encoding="utf-8"
    ) as f:
        json.dump(doc, f, indent=1)
    print(json.dumps({k: doc[k] for k in
                      ("metric", "value", "unit", "superlinear")}))


def main() -> None:
    if "--sf1-full" in sys.argv:
        run_sf1_full()
        return
    if "--sf1" in sys.argv:
        run_sf1()
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    # The regression GATE covers every registered query, not just the
    # headline: round 6 proved non-headline queries can hide
    # multi-second regressions (text_repetition_metrics sat at 6.3 s
    # gated by nothing until a plan audit caught it). The headline set
    # still defines the stdout metric for cross-round continuity.
    gate_set = sorted(queries)

    # Warmup pass (HEADLINE only): JIT/codegen + parquet footer cache,
    # so the timed pass measures steady-state execution (what a
    # long-running cluster job actually sees), not first-compile
    # latency. Non-headline queries skip the extra warmup pass — their
    # median-of-3 already discards the one cold (compile-bearing)
    # trial, and a full-registry warmup adds ~2.5 min of driver-bench
    # wall for no change in the reported statistic.
    for name in HEADLINE:
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Three timed passes, report the per-query MEDIAN: the fixture
    # host's shared disk shows multi-second I/O stalls, and a median of
    # three makes the 2x regression gate robust to one contended trial
    # (a single-run outlier burned round 3's gate) without letting a
    # lucky min hide a real slowdown. Per-query [min, max] spread ships
    # alongside so a noisy trial is visible, not averaged away.
    trials: dict[str, list[float]] = {name: [] for name in gate_set}
    for _ in range(3):
        for name in gate_set:
            t0 = time.perf_counter()
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            trials[name].append(round(time.perf_counter() - t0, 3))

    all_timings = {name: sorted(ts)[1] for name, ts in trials.items()}

    # Per-query regression gate vs the previous round's bench: flag
    # anything slower than REGRESSION_FACTOR× its baseline (median-of-3
    # already absorbs the host's disk noise). Delta table → stderr so
    # stdout stays ONE JSON line; flagged names also ship in the JSON.
    baseline = _load_baseline()
    # sentinel agreement check (r13): if the three sentinels disagree
    # past the band, re-measure them once — the common cause is a
    # transient load spike during one sentinel's trials — and merge by
    # per-sentinel min (strict-safe; see SENTINEL_SPREAD_BOUND)
    raw_sentinels = sentinel_ratios(all_timings, baseline)
    sentinels_remeasured = False
    if sentinel_spread(raw_sentinels) > SENTINEL_SPREAD_BOUND:
        fresh = _time_set(spark, queries, SENTINELS, sf_dir)
        all_timings = merge_remeasured(all_timings, fresh)
        raw_sentinels = sentinel_ratios(all_timings, baseline)
        sentinels_remeasured = True
        # the fresh medians join the trial record so the sidecar's
        # per-query [min, max] stays consistent with the merged
        # median (r13 review fix: a merged median below its own
        # recorded min is an impossible artifact row)
        for s, sec in fresh.items():
            trials.setdefault(s, []).append(sec)
    spread_val = sentinel_spread(raw_sentinels)
    spread_alert = spread_val > SENTINEL_SPREAD_BOUND
    spread = {name: [min(ts), max(ts)] for name, ts in trials.items()}
    timings = {name: all_timings[name] for name in HEADLINE}
    total = round(sum(timings.values()), 3)
    deltas = {
        name: round(all_timings[name] / baseline[name], 2)
        for name in all_timings
        if baseline.get(name)
    }
    raw_norm = session_ratio(all_timings, baseline)
    norm = gate_norm(raw_norm)
    session_alert = raw_norm > SESSION_RATIO_SANITY_BOUND
    regressions = compute_regressions(all_timings, baseline, norm=norm)
    if baseline:
        print(
            f"-- bench deltas vs {BASELINE_BENCH} (this/prev, >1 = "
            f"slower; session_ratio={raw_norm:.3f}, gate divisor "
            f"applied={norm:.3f} (capped at {GATE_NORM_CAP}), "
            f"sentinels={raw_sentinels}):",
            file=sys.stderr,
        )
        if session_alert:
            print(
                f"-- WARNING: session_ratio {norm:.3f} exceeds sanity "
                f"bound {SESSION_RATIO_SANITY_BOUND} — either extreme "
                "host load or a GENUINE uniform code-wide slowdown the "
                "sentinels cannot tell apart; inspect the raw sentinel "
                "ratios above before trusting regressions_over_2x",
                file=sys.stderr,
            )
        if spread_alert:
            print(
                f"-- WARNING: sentinels disagree {spread_val:.3f}x "
                f"(band {SENTINEL_SPREAD_BOUND}) even after "
                "re-measurement — a single session_ratio cannot "
                "normalize this run; treat deltas_normalized as "
                "untrusted and read the RAW ratios",
                file=sys.stderr,
            )
        for name in sorted(deltas, key=deltas.get, reverse=True):
            flag = "  << REGRESSION" if name in regressions else ""
            print(
                f"   {name}: {all_timings[name]:.3f}s vs {baseline[name]:.3f}s "
                f"= {deltas[name]:.2f}x{flag}",
                file=sys.stderr,
            )

    # Spread goes to a sidecar file, NOT stdout: the driver captures a
    # bounded tail of stdout and the r5 artifact became unparseable when
    # 70 per-query [min,max] arrays pushed the JSON head past the
    # capture window. stdout stays ONE compact JSON line.
    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_SPREAD.json"
    )
    with open(sidecar, "w", encoding="utf-8") as f:
        json.dump(
            {
                "sf": sf,
                "session_ratio": round(raw_norm, 3),
                "session_ratio_applied": round(norm, 3),
                "session_ratio_sentinels": raw_sentinels,
                "session_ratio_alert": session_alert,
                "sentinel_spread": round(spread_val, 3),
                "sentinel_spread_alert": spread_alert,
                "sentinels_remeasured": sentinels_remeasured,
                "all_timings": all_timings,
                "spread": spread,
                "deltas": deltas,
                "deltas_normalized": {
                    n: round(d / norm, 2) for n, d in deltas.items()
                },
            },
            f,
            indent=1,
        )

    # stdout stays headline-only: 200 per-query floats would push the
    # JSON head past the driver's bounded stdout capture (the r5
    # failure mode). The gate still ran over all registered queries —
    # gated_queries says how many, the sidecar has the full table.
    # Field order matters: the capture keeps the LAST 2000 chars, so
    # the bulky queries dict goes FIRST and every scalar summary field
    # (metric/value/regressions) goes LAST — the tail then always
    # contains the numbers that matter even when the head is cut.
    print(
        json.dumps(
            {
                "queries": timings,
                "metric": "headline_total_wall",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "trials": 3,
                "stat": "median",
                "baseline_bench": BASELINE_BENCH if baseline else None,
                "gated_queries": len(deltas),
                "registered_queries": len(gate_set),
                "session_ratio": round(raw_norm, 3),
                "session_ratio_applied": round(norm, 3),
                "session_ratio_sentinels": raw_sentinels,
                "session_ratio_alert": session_alert,
                "sentinel_spread": round(spread_val, 3),
                "sentinel_spread_alert": spread_alert,
                "sentinels_remeasured": sentinels_remeasured,
                "regressions_over_2x": regressions,
                "regressions_over_2x_normalized": {
                    n: round(all_timings[n] / baseline[n] / norm, 2)
                    for n in regressions
                },
            }
        )
    )


if __name__ == "__main__":
    main()
