"""Benchmark runner on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line.

    python bench.py                     sf0.1 run ($SPARK_GRAFT_SF_DIR)
    python bench.py --sf1               x10 replica run (BENCH_SF1.json)
    python bench.py [--sf1] --refreeze TAG
                                        the same run, then re-freeze
                                        its baseline (archive[TAG])

The sf0.1 run times every registered query, reports the HEADLINE sum
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}
on stdout and the full table in BENCH_SPREAD.json. The x10 run times
every query at a x1 and a x10 replica and writes BENCH_SF1.json. Both
list as ``regressions_over_2x`` every query whose raw median is over 2x
its frozen baseline (BENCH_BASELINE.json, BENCH_SF1_BASELINE.json) and
over an absolute floor, and append first-seen medians to the baseline.

The 2x gate is a measurement, not a check: the script exits 0 whatever
it lists. A baseline's ``provenance`` names the cores it was frozen on,
and a run on another box compares the machine as much as the code.

Each query is forced end-to-end with the noop sink (full execution,
no driver-side collect bottleneck). Session startup and JVM warmup are
excluded from per-query timings; a warmup pass primes the parquet
footer cache and codegen.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from wiki_data_pipeline_spark.plans.registry import all_queries  # noqa: E402
from wiki_data_pipeline_spark.session import get_spark  # noqa: E402

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

# Regression-gate baseline: a frozen snapshot covering every registered
# query (BENCH_BASELINE.json merges the r1 medians with first-seen
# medians for queries added after r1); queries absent from it are
# skipped by the gate and frozen at the end of the run.
BASELINE_BENCH = "BENCH_BASELINE.json"
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


def compute_regressions(
    timings: dict[str, float],
    baseline: dict[str, float],
    factor: float = REGRESSION_FACTOR,
    abs_floor_sec: float = REGRESSION_ABS_FLOOR_SEC,
) -> dict[str, float]:
    """Flag name -> ratio for every query whose median is slower than
    ``factor``x its frozen baseline AND slower by more than
    ``abs_floor_sec`` absolute — both conditions, so sub-second queries
    can't trip the gate on job-overhead jitter while multi-second
    regressions (where 2x is always >> the floor) are gated by the
    ratio alone. Medians are compared raw: a loaded or smaller box
    reads as slower code. Queries missing from the baseline are skipped (the
    registry-coverage meta-test makes that state unreachable for
    registered queries)."""
    out = {}
    for name, sec in timings.items():
        base = baseline.get(name)
        if base and sec / base > factor and sec - base > abs_floor_sec:
            out[name] = round(sec / base, 2)
    return out


# --- sf1 scale surface (r9 verdict item 3) ---------------------------
# The second decade as a GATED artifact, not an ad-hoc probe: every
# registered query runs at a x1 AND a 10x decorrelated replica ("sf1",
# built by build_scaled below), in ONE session so the per-query scaling
# exponent log10(t_sf1/t_sf0.1) is host-load-self-normalized. The sf1
# timings gate against BENCH_SF1_BASELINE.json with the same 2x factor +
# absolute floor as the sf0.1 gate (floor scaled 10x: at 10x data, a
# real regression costs seconds).
# Artifact lands in BENCH_SF1.json.
SF1_BASELINE_PATH = "BENCH_SF1_BASELINE.json"
SF1_ABS_FLOOR_SEC = 5.0  # 10x data -> 10x the sf0.1 floor

# The replica's source, the fact tables it replicates and the dims it
# links. A workdir from an older replica version can carry a stale
# _DONE marker while missing newer tables, so completeness is verified
# structurally instead of trusting the marker alone.
SCALE_SRC = "/root/testdata/sf0.1"
FACTS = ("documents", "embeddings", "events", "orders", "lineitem")
DIMS = ("customer", "supplier", "part", "nation", "region")


def _complete(out: str) -> bool:
    # os.path.exists follows symlinks → False for a broken dim link
    # (e.g. SCALE_SRC moved/regenerated), which correctly forces a rebuild.
    return all(
        os.path.exists(os.path.join(out, f"{t}.parquet")) for t in FACTS + DIMS
    )


def build_scaled(spark, workdir: str, mult: int) -> str:
    """Write a decorrelated mult-times copy of sf0.1 under
    workdir/x<mult> (reused when already complete) and return its dir.

    Naive replication would make every doc a mult-way near-duplicate,
    inflating candidate pairs quadratically and confounding the
    scaling exponent. Instead each replica k is DECORRELATED from the
    others: every token is tagged with the replica id (disjoint shingle
    space, so within-replica dup structure is preserved and
    cross-replica dups are impossible) and embeddings are circularly
    shifted by k dims (norms preserved, cosine structure
    decorrelated). Dup/pair counts then scale linearly BY CONSTRUCTION
    and the exponent measures the engine, not the data artifact."""
    from pyspark.sql import functions as F

    from wiki_data_pipeline_spark.io import read_table

    out = os.path.join(workdir, f"x{mult}")
    done = os.path.join(out, "_DONE")
    if os.path.exists(done) and _complete(out):
        return out

    # Replica tables are written through an explicit repartition so the
    # layout is multi-file (r14, verdict item 3). The broadcast
    # crossJoin preserves the SOURCE's partitioning — one single-file
    # fixture scan in, one output file with ONE giant row group out —
    # and parquet cannot split inside a row group, so every scan-bound
    # x10 measurement was a single-core measurement (the (11+1)/12
    # straggler stage; q1's exponent partly an artifact). 4·mult files (x10 → 40 ≥ the 32 local
    # cores) restores the scan parallelism a real 10× dataset would
    # have. Fixed formula, not defaultParallelism: the layout must not
    # depend on the core count of the session that happens to build
    # the replica first. Baselines are re-frozen against this layout in
    # the same commit (replica_layout fingerprint in
    # BENCH_SF1_BASELINE.json).
    n_files = 4 * mult
    tables = {t: read_table(spark, SCALE_SRC, t) for t in FACTS}
    reps = spark.range(mult).withColumnRenamed("id", "k")
    k = F.col("k")

    def span(table: str, key: str) -> int:
        """Replica k shifts ``key`` by k * span: keys never collide."""
        return tables[table].agg(F.max(key)).first()[0] + 1

    def write(table: str, **rebuilt) -> None:
        df = tables[table]
        df.crossJoin(reps).select(
            *[rebuilt.get(c, F.col(c)).alias(c) for c in df.columns]
        ).repartition(n_files).write.mode("overwrite").parquet(
            os.path.join(out, f"{table}.parquet")
        )

    write(
        "documents",
        doc_id=F.col("doc_id") + k * span("documents", "doc_id"),
        # tag every token with the replica id: disjoint shingle
        # space per replica, so dup structure scales linearly
        text=F.when(k == 0, F.col("text")).otherwise(
            F.concat_ws(" ", F.transform(
                F.split(F.trim(F.col("text")), r"\s+"),
                lambda t: F.concat(k.cast("string"), F.lit("_"), t),
            ))
        ),
    )
    n_dim = len(tables["embeddings"].select("embedding").first()[0])
    shift = k % n_dim
    write(
        "embeddings",
        vec_id=F.col("vec_id") + k * span("embeddings", "vec_id"),
        # circular shift by k dims: norm-preserving decorrelation
        embedding=F.concat(
            F.slice(F.col("embedding"), shift + 1, F.lit(n_dim) - shift),
            F.slice(F.col("embedding"), F.lit(1), shift),
        ),
    )
    # events: replicate with offset user/event ids (decorrelated users —
    # per-user session/sequence structure is preserved within a replica
    # and users never collide across replicas, so per-key costs are
    # constant and totals scale linearly by construction)
    write(
        "events",
        event_id=F.col("event_id") + k * span("events", "event_id"),
        user_id=F.col("user_id") + k * span("events", "user_id"),
    )
    # star-schema facts: lineitem + orders replicate with offset
    # orderkeys (per-order line structure preserved within a replica,
    # orderkeys never collide across replicas → totals linear by
    # construction). Dims stay FIXED — that is what fact growth looks
    # like in production: per-dim-key fan-in grows 10×, which is
    # exactly the aggregation/join pressure the x10 run should measure.
    max_ok = span("orders", "o_orderkey")
    write("orders", o_orderkey=F.col("o_orderkey") + k * max_ok)
    write("lineitem", l_orderkey=F.col("l_orderkey") + k * max_ok)
    for dim in DIMS:
        link = os.path.join(out, f"{dim}.parquet")
        # lexists, not exists: a BROKEN symlink (SCALE_SRC moved) fails
        # the exists() check but still blocks os.symlink → unlink first.
        if os.path.lexists(link):
            os.unlink(link)
        os.symlink(os.path.join(SCALE_SRC, f"{dim}.parquet"), link)
    open(done, "w").close()
    return out


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
    for t in FACTS:
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


# --- the one measurement path both runs share --------------------------
# The sf0.1 run and the --sf1 run differ only in their inputs: the scale
# dir, the baseline file, the warm-up set and the absolute floor. Each
# is timed by time_queries, gated by gate and frozen by freeze.


def time_queries(spark, queries, names, sf_dir, warm) -> dict[str, list[float]]:
    """Per-trial noop-sink wall of every query in ``names`` at
    ``sf_dir``: one untimed run of each query in ``warm`` (JIT/codegen
    + parquet footer cache), then three timed passes over ``names``.

    The warm-up set is each run's own protocol, kept so its frozen
    values stay comparable: the sf0.1 run warms HEADLINE only (the
    median-of-3 already discards the one cold trial of the rest, and a
    full-registry warmup adds ~2.5 min for no change in the median);
    the x10 run warms every name. Three
    trials and a per-query MEDIAN: the fixture host's shared disk shows
    multi-second I/O stalls, and a median of three makes the 2x gate
    robust to one contended trial without letting a lucky min hide a
    real slowdown."""

    def run(name: str) -> None:
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    for name in warm:
        run(name)
    trials: dict[str, list[float]] = {name: [] for name in names}
    for _ in range(3):
        for name in names:
            t0 = time.perf_counter()
            run(name)
            trials[name].append(round(time.perf_counter() - t0, 3))
    return trials


def medians(trials: dict[str, list[float]]) -> dict[str, float]:
    return {name: sorted(ts)[len(ts) // 2] for name, ts in trials.items()}


def gate(trials, baseline, abs_floor_sec):
    """The regression gate of both runs, a pure function of the trials:
    returns the per-query medians, ``regressions_over_2x`` (see
    :func:`compute_regressions`) and every baselined query's
    median/baseline ratio. The delta table goes to stderr so stdout
    stays ONE JSON line."""
    timings = medians(trials)
    regressions = compute_regressions(
        timings, baseline, abs_floor_sec=abs_floor_sec
    )
    deltas = {
        name: round(timings[name] / baseline[name], 2)
        for name in timings
        if baseline.get(name)
    }
    if baseline:
        print(
            "-- bench deltas vs the frozen baseline (this/prev, >1 = slower):",
            file=sys.stderr,
        )
        for name in sorted(deltas, key=deltas.get, reverse=True):
            flag = "  << REGRESSION" if name in regressions else ""
            print(
                f"   {name}: {timings[name]:.3f}s vs {baseline[name]:.3f}s "
                f"= {deltas[name]:.2f}x{flag}",
                file=sys.stderr,
            )
    return timings, regressions, deltas


def load_baseline(name: str) -> dict:
    """The baseline document ``name`` in the artifact dir ({} if absent)."""
    path = os.path.join(HERE, name)
    if not os.path.exists(path):
        return {}
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def freeze(spark, name, doc, timings, sf, tag=None, stamp=None) -> bool:
    """Write ``timings`` into the baseline ``doc`` (file ``name``) by the
    append-only policy both baselines share; returns True when every
    gated value was frozen this run (file created or re-frozen).

    A query's gate value is frozen the FIRST time it is measured and
    never refreshed, so the 2x gate compares against the oldest honest
    number rather than one that drifts upward with each regression: a
    plain run adds only the queries the baseline does not know yet.
    ``tag`` (``--refreeze TAG``) is the one deliberate exception, for
    baselines frozen under conditions the gate no longer runs in (a
    different box, a different replica layout): every value is replaced
    and the displaced ones are archived in-file under ``archive[TAG]``,
    so re-freezing stays a flagged, manual, auditable act. ``stamp``
    holds facts frozen together with the values (the x10 replica
    layout); it is written when the file is created or re-frozen, never
    retroactively. Each freeze records its tag, cpus and commit under
    ``provenance`` and each value's tag under ``source``.

    Refusals leave the file byte-identical: a run at another scale than
    the baseline's (a local sf0.01 experiment would permanently
    mis-calibrate every value it adds), a re-freeze from a run that
    misses a baselined query (a partial run must not half-recalibrate),
    and a re-freeze under a tag already archived (it would overwrite the
    only record of the displaced values).
    A refused re-freeze exits non-zero; a refused append only warns."""
    stamp = stamp or {}
    if doc.get("sf", sf) != sf:
        msg = (
            f"refusing to freeze {name}: run sf={sf} does not match "
            f"baseline sf={doc['sf']} (rerun at the baseline scale)"
        )
        if tag:
            raise SystemExit(msg)
        print(f"-- {msg}", file=sys.stderr)
        return False
    frozen = doc.get("queries", {})
    all_new = tag is not None or not doc
    if tag:
        missing = sorted(set(frozen) - set(timings))
        if missing:
            raise SystemExit(
                f"refusing to refreeze {name} from a partial run: it "
                f"misses {len(missing)} baselined queries (e.g. "
                f"{missing[:5]}); run the full registry"
            )
        if tag in doc.get("archive", {}):
            raise SystemExit(f"refusing to refreeze {name}: archive[{tag}] exists")
        if doc:
            doc.setdefault("archive", {})[tag] = {
                k: doc[k] for k in ("queries", "source", *stamp) if k in doc
            }
        new = sorted(timings)
    else:
        new = sorted(set(timings) - set(frozen))
        if not new:
            return False
    commit = subprocess.run(
        ["git", "-C", os.path.dirname(os.path.abspath(__file__)),
         "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True,
    ).stdout.strip() or None
    tag = tag or f"first-seen@{commit}"
    doc.setdefault("sf", sf)
    if all_new:
        doc.update(stamp)
    doc["queries"] = {**frozen, **{n: timings[n] for n in new}}
    doc["source"] = {**doc.get("source", {}), **dict.fromkeys(new, tag)}
    doc.setdefault("provenance", {})[tag] = {
        "cpus": spark.sparkContext.defaultParallelism,
        "commit": commit,
    }
    with open(os.path.join(HERE, name), "w", encoding="utf-8") as f:
        json.dump(doc, f, indent=1)
    return all_new


def run_sf1(refreeze: str | None = None) -> None:
    import math

    spark = get_spark("bench-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    names = sorted(queries)
    workdir = os.environ.get("SPARK_GRAFT_SF1_DIR", os.path.join(HERE, ".scale"))
    sf1_dir = build_scaled(spark, workdir, 10)
    # The 1x side of the scaling exponent is measured on a MULTI-FILE
    # re-layout of sf0.1 built by the same repartition(4*mult) formula
    # at mult=1 (r15, verdict item 3): with both decades on the same
    # layout formula the log-ratio measures the engine, not the file
    # count. The sf0.1 GATE (main bench) is unaffected — it still times
    # the driver's own source dir.
    sf01_dir = build_scaled(spark, workdir, 1)

    t01 = medians(time_queries(spark, queries, names, sf01_dir, names))
    base = load_baseline(SF1_BASELINE_PATH)
    t1, regressions, _ = gate(
        time_queries(spark, queries, names, sf1_dir, names),
        base.get("queries", {}), SF1_ABS_FLOOR_SEC,
    )
    # replica-layout fingerprint (r13): flag drift from the layout the
    # baselines were frozen against
    layout = replica_layout_fingerprint(sf1_dir)
    layout_changed = base.get("replica_layout", layout) != layout
    if layout_changed:
        print(
            "-- WARNING: x10 replica layout differs from the one the "
            "sf1 baselines were frozen against — every scan-bound x10 "
            "timing shifted for non-code reasons; re-freeze "
            f"{SF1_BASELINE_PATH} (--sf1 --refreeze TAG) in the same "
            "commit that changed the layout",
            file=sys.stderr,
        )
    frozen_now = freeze(
        spark, SF1_BASELINE_PATH, base, t1, 1.0, refreeze,
        {"replica_layout": layout},
    )
    # scaling exponent: 1.0 = linear in data size, <1 sublinear (fixed
    # costs amortizing), >1 superlinear (a finding). Self-normalized:
    # both scales timed in this session, so host load cancels.
    exponents = {
        n: round(math.log10(max(t1[n], 1e-3) / max(t01[n], 1e-3)), 2)
        for n in names
    }
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
        "replica_layout": layout,
        "replica_layout_changed": layout_changed,
        "regressions_over_2x": regressions,
    }
    with open(os.path.join(HERE, "BENCH_SF1.json"), "w", encoding="utf-8") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps(doc))


def main() -> None:
    argv = sys.argv[1:]
    refreeze = None
    if "--refreeze" in argv:
        i = argv.index("--refreeze") + 1
        if i == len(argv) or argv[i].startswith("--"):
            raise SystemExit("usage: bench.py [--sf1] [--refreeze TAG]")
        refreeze = argv[i]
    if "--sf1" in argv:
        run_sf1(refreeze)
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
    trials = time_queries(spark, queries, gate_set, sf_dir, HEADLINE)
    base = load_baseline(BASELINE_BENCH)
    baseline = base.get("queries", {})
    all_timings, regressions, deltas = gate(
        trials, baseline, REGRESSION_ABS_FLOOR_SEC
    )
    freeze(spark, BASELINE_BENCH, base, all_timings, sf, refreeze)
    timings = {name: all_timings[name] for name in HEADLINE}

    # Spread goes to a sidecar file, NOT stdout: the driver captures a
    # bounded tail of stdout and the r5 artifact became unparseable when
    # 70 per-query [min,max] arrays pushed the JSON head past the
    # capture window. stdout stays ONE compact JSON line.
    with open(os.path.join(HERE, "BENCH_SPREAD.json"), "w", encoding="utf-8") as f:
        json.dump(
            {
                "sf": sf,
                "all_timings": all_timings,
                "spread": {name: [min(ts), max(ts)] for name, ts in trials.items()},
                "deltas": deltas,
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
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "sf": sf,
                "trials": 3,
                "stat": "median",
                "baseline_bench": BASELINE_BENCH if baseline else None,
                "gated_queries": len(deltas),
                "registered_queries": len(gate_set),
                "regressions_over_2x": regressions,
            }
        )
    )


if __name__ == "__main__":
    main()
