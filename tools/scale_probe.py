"""Scaling probe: run the dedup/ANN family at 1x / 3x / 10x of sf0.1
and check wall-time growth is ~linear (no shuffle-volume mistakes that
sub-second sf0.1 numbers can't expose).

`python tools/scale_probe.py [workdir]` — generates scaled copies of
sf0.1 documents/embeddings under workdir (default /tmp/scale_probe),
runs the probed queries at each scale, and prints one JSON line per
scale plus a growth summary. `--deep` probes the steepest growers at
30x; `--heap <size> [--cpus N]` runs the constrained-heap degradation
probe instead (5 heaviest queries at 10x under a small driver heap,
spill metrics from the driver's status store — see HEAP_PROBED).

Replica construction matters: naive replication would make every doc a
10-way near-duplicate, inflating candidate pairs quadratically and
confounding the linearity measurement. Instead each replica k is
DECORRELATED from the others — every token is tagged with the replica
id (disjoint shingle space, so within-replica dup structure is
preserved and cross-replica dups are impossible) and embeddings are
circularly shifted by k dims (norms preserved, cosine structure
decorrelated). Dup/pair counts then scale linearly BY CONSTRUCTION and
the probe measures the engine, not the data artifact.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
PROBED = [
    "dedup_minhash_lsh",
    "dedup_substring_spans",
    "sim_ann_pq_adc",
    "graph_pagerank_dedup",
    # round-5 additions (documents/embeddings family)
    "sim_ann_pq_rerank",
    "dedup_paragraph_chunks",
    "dedup_minhash_calibration",
    "sample_dsir_importance",
    "text_shingle_novelty",
    "text_char_entropy",
    # round-5 event-family additions (events scaled with offset users)
    "join_cogrouped_asof",
    "window_range_interval",
    "sessionize_events",
    "path_markov_transitions",
    "streaming_lateness_profile",
    # round-6: star-schema join family (lineitem/orders scaled with
    # offset orderkeys, dims fixed — the shape real fact growth takes)
    "q5_star_join_revenue",
    "q9_product_profit",
    "q18_large_orders",
    "q21_sole_blame_suppliers",
    # round-6: rewritten this round (narrow fold / one-pass aggregate)
    "text_repetition_metrics",
    "pipeline_quality_gate",
    "pipeline_yield_report",
]
SCALES = [1, 3, 10]

# Deep probe (--deep): one more decade on the steepest 10x growers, to
# confirm the near-linear asymptote holds beyond one decade and that
# the 30x shuffle volumes survive 128 GiB (round-6 verdict item 5).
PROBED_DEEP = [
    "q18_large_orders",
    "q21_sole_blame_suppliers",
    "text_shingle_novelty",
    "dedup_minhash_lsh",
    # r15: the de-hinted keep-best join — its components join is now
    # a stats-owned shuffle join, so the 30x decade directly measures
    # THAT plan's growth instead of the removed broadcast's
    "dedup_keep_best",
]
SCALES_DEEP = [1, 30]

# Constrained-heap probe (--heap <size>, round-7 verdict item 5): the
# 1x/3x/10x/30x linearity claims were proven on a roomy heap with zero
# spill; this mode proves graceful DEGRADATION — the 5 heaviest
# queries at 10x data under a deliberately small driver heap and few
# cores (local[8] by default), recording the spill of each query's own
# stages (from the driver's status store, tools/stage_metrics.py) and
# wall time. The pass criterion is "spills and finishes", not "fast":
# an OOM here is a real scale finding (memory footprint not bounded
# per-partition), spill is the designed behavior.
HEAP_PROBED = [
    "dedup_minhash_verified",
    "dedup_minhash_calibration",
    "dedup_cluster_components",
    "text_winnow_fingerprint",
    "cluster_kmeans_embeddings",
    # r15: the de-hinted keep-best join (the r14 verdict's one scale
    # flag) — its components join is now a stats-owned shuffle join,
    # so the probe proves THAT plan spills-and-finishes rather than
    # trusting the fixture-scale measurement
    "dedup_keep_best",
]


def run_heap_probe(workdir: str, heap: str, cpus: str) -> None:
    # env must land before the JVM starts — get_spark reads both
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    from stage_metrics import snapshot, stages_since

    from wiki_data_pipeline_spark.plans.registry import all_queries
    from wiki_data_pipeline_spark.session import get_spark

    spark = get_spark("scale-probe-heap")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    sf_dir = build_scaled(spark, workdir, 10)
    results = []
    for name in HEAP_PROBED:
        snap = snapshot(spark)
        t0 = time.perf_counter()
        try:
            queries[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            status = "ok"
        except Exception as e:  # OOM lands here as a Py4J error
            status = f"failed: {type(e).__name__}: {str(e)[:200]}"
        wall = round(time.perf_counter() - t0, 2)
        new = stages_since(spark, snap)
        row = {
            "query": name,
            "heap": heap,
            "cpus": int(cpus),
            "scale": 10,
            "wall_sec": wall,
            "memory_spilled_mb": round(
                sum(s.memory_spilled for s in new) / 1e6, 1
            ),
            "disk_spilled_mb": round(
                sum(s.disk_spilled for s in new) / 1e6, 1
            ),
            "status": status,
        }
        results.append(row)
        print(json.dumps(row))
    print(
        json.dumps(
            {
                "metric": "constrained_heap_probe",
                "oom_count": sum(
                    1 for r in results if r["status"] != "ok"
                ),
                "total_wall_sec": round(
                    sum(r["wall_sec"] for r in results), 1
                ),
            }
        )
    )

# Every table build_scaled materializes (scaled copies + dim symlinks).
# A workdir from an older probe version can carry a stale _DONE marker
# while missing newer tables, so completeness is verified structurally
# instead of trusting the marker alone.
EXPECTED_TABLES = [
    "documents",
    "embeddings",
    "events",
    "orders",
    "lineitem",
    "customer",
    "supplier",
    "part",
    "nation",
    "region",
]


def _complete(out: str) -> bool:
    # os.path.exists follows symlinks → False for a broken dim link
    # (e.g. SRC moved/regenerated), which correctly forces a rebuild.
    return all(
        os.path.exists(os.path.join(out, f"{t}.parquet"))
        for t in EXPECTED_TABLES
    )


def build_scaled(spark, workdir: str, mult: int) -> str:
    from pyspark.sql import functions as F

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
    # straggler stage; q1's exponent partly an artifact; the
    # sentinel-spread alert). 4·mult files (x10 → 40 ≥ the 32 local
    # cores) restores the scan parallelism a real 10× dataset would
    # have. Fixed formula, not defaultParallelism: the layout must not
    # depend on which session (local[32] bench vs local[8] heap probe)
    # happens to build the replica first. Baselines are re-frozen
    # against this layout in the same commit (replica_layout
    # fingerprint in BENCH_SF1_BASELINE.json).
    n_files = 4 * mult
    from wiki_data_pipeline_spark.io import read_table

    docs = read_table(spark, SRC, "documents")
    emb = read_table(spark, SRC, "embeddings")
    max_doc = docs.agg(F.max("doc_id")).first()[0] + 1
    max_vec = emb.agg(F.max("vec_id")).first()[0] + 1

    reps = spark.range(mult).withColumnRenamed("id", "k")
    scaled_docs = (
        docs.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("k") * max_doc).alias("doc_id"),
            # tag every token with the replica id: disjoint shingle
            # space per replica, so dup structure scales linearly
            F.when(F.col("k") == 0, F.col("text"))
            .otherwise(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.split(F.trim(F.col("text")), r"\s+"),
                        lambda t: F.concat(
                            F.col("k").cast("string"), F.lit("_"), t
                        ),
                    ),
                )
            )
            .alias("text"),
            *[
                c
                for c in docs.columns
                if c not in ("doc_id", "text")
            ],
        )
    )
    n_dim = len(emb.select("embedding").first()[0])
    scaled_emb = (
        emb.crossJoin(reps)
        .select(
            (F.col("vec_id") + F.col("k") * max_vec).alias("vec_id"),
            # circular shift by k dims: norm-preserving decorrelation
            F.concat(
                F.slice(
                    F.col("embedding"),
                    (F.col("k") % n_dim) + 1,
                    F.lit(n_dim) - (F.col("k") % n_dim),
                ),
                F.slice(F.col("embedding"), F.lit(1), F.col("k") % n_dim),
            ).alias("embedding"),
            *[c for c in emb.columns if c not in ("vec_id", "embedding")],
        )
    )
    scaled_docs.repartition(n_files).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    scaled_emb.repartition(n_files).write.mode("overwrite").parquet(
        os.path.join(out, "embeddings.parquet")
    )
    # events: replicate with offset user/event ids (decorrelated users —
    # per-user session/sequence structure is preserved within a replica
    # and users never collide across replicas, so per-key costs are
    # constant and totals scale linearly by construction)
    events = read_table(spark, SRC, "events")
    max_user = events.agg(F.max("user_id")).first()[0] + 1
    max_event = events.agg(F.max("event_id")).first()[0] + 1
    scaled_events = events.crossJoin(reps).select(
        (F.col("event_id") + F.col("k") * max_event).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("k") * max_user).alias("user_id"),
        "event_type",
        "value",
        "props",
    )
    scaled_events.repartition(n_files).write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )
    # star-schema facts: lineitem + orders replicate with offset
    # orderkeys (per-order line structure preserved within a replica,
    # orderkeys never collide across replicas → totals linear by
    # construction). Dims stay FIXED — that is what fact growth looks
    # like in production: per-dim-key fan-in grows 10×, which is
    # exactly the aggregation/join pressure the probe should measure.
    orders = read_table(spark, SRC, "orders")
    max_ok = orders.agg(F.max("o_orderkey")).first()[0] + 1
    orders.crossJoin(reps).select(
        (F.col("o_orderkey") + F.col("k") * max_ok).alias("o_orderkey"),
        *[c for c in orders.columns if c != "o_orderkey"],
    ).repartition(n_files).write.mode("overwrite").parquet(
        os.path.join(out, "orders.parquet")
    )
    lineitem = read_table(spark, SRC, "lineitem")
    lineitem.crossJoin(reps).select(
        (F.col("l_orderkey") + F.col("k") * max_ok).alias("l_orderkey"),
        *[c for c in lineitem.columns if c != "l_orderkey"],
    ).repartition(n_files).write.mode("overwrite").parquet(
        os.path.join(out, "lineitem.parquet")
    )
    for dim in ("customer", "supplier", "part", "nation", "region"):
        link = os.path.join(out, f"{dim}.parquet")
        # lexists, not exists: a BROKEN symlink (SRC moved) fails the
        # exists() check but still blocks os.symlink → unlink first.
        if os.path.lexists(link):
            os.unlink(link)
        os.symlink(os.path.join(SRC, f"{dim}.parquet"), link)
    open(done, "w").close()
    return out


def main() -> None:
    argv = sys.argv[1:]
    heap = None
    cpus = "8"
    if "--heap" in argv:
        i = argv.index("--heap")
        heap = argv[i + 1]
        del argv[i : i + 2]
    if "--cpus" in argv:
        i = argv.index("--cpus")
        cpus = argv[i + 1]
        del argv[i : i + 2]
    deep = "--deep" in argv
    argv = [a for a in argv if a != "--deep"]
    workdir = argv[0] if argv else "/tmp/scale_probe"
    if heap is not None:
        run_heap_probe(workdir, heap, cpus)
        return
    probed = PROBED_DEEP if deep else PROBED
    scales = SCALES_DEEP if deep else SCALES
    from wiki_data_pipeline_spark.plans.registry import all_queries
    from wiki_data_pipeline_spark.session import get_spark

    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    results: dict[int, dict[str, float]] = {}
    for mult in scales:
        sf_dir = build_scaled(spark, workdir, mult)
        timings: dict[str, float] = {}
        for name in probed:
            queries[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()  # warmup
            t0 = time.perf_counter()
            queries[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            timings[name] = round(time.perf_counter() - t0, 2)
        results[mult] = timings
        print(json.dumps({"scale": mult, "timings": timings}))

    top = scales[-1]
    growth = {
        name: round(results[top][name] / results[scales[0]][name], 2)
        for name in probed
    }
    print(
        json.dumps(
            {
                "metric": f"wall_growth_at_{top}x",
                "growth": growth,
                # linear bound scales with the data multiplier (1.5x
                # headroom for fixed costs + shuffle constant factors)
                "linear_bound_ok": {
                    n: g <= 1.5 * top for n, g in growth.items()
                },
            }
        )
    )


if __name__ == "__main__":
    main()
