"""Scaled replicas and the constrained-heap probe.

`build_scaled(spark, workdir, mult)` writes a decorrelated mult-times
copy of sf0.1 under workdir/x<mult>; `bench.py --sf1` times the whole
registry on its x1 and x10 replicas and reports each query's wall
growth (`scaling_exponents`, `superlinear`).

`python tools/scale_probe.py --heap SIZE [--cpus N] [workdir]` runs
the constrained-heap probe: the heaviest queries (HEAP_PROBED) at 10x
data under a small driver heap, with each query's spill read from the
driver's status store (default workdir /tmp/scale_probe).

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

from sweep import noop, parse, parser, session, sweep

SRC = "/root/testdata/sf0.1"

# Constrained-heap probe (round-7 verdict item 5): the heaviest
# queries at 10x data under a deliberately small driver heap and few
# cores (local[8] by default), recording the spill of each query's own
# stages and wall time. The pass criterion is "spills and finishes",
# not "fast": an OOM here is a real scale finding (memory footprint
# not bounded per-partition), spill is the designed behavior.
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


# The tables build_scaled replicates, and the dims it links. A workdir
# from an older probe version can carry a stale _DONE marker while
# missing newer tables, so completeness is verified structurally
# instead of trusting the marker alone.
FACTS = ("documents", "embeddings", "events", "orders", "lineitem")
DIMS = ("customer", "supplier", "part", "nation", "region")


def _complete(out: str) -> bool:
    # os.path.exists follows symlinks → False for a broken dim link
    # (e.g. SRC moved/regenerated), which correctly forces a rebuild.
    return all(
        os.path.exists(os.path.join(out, f"{t}.parquet")) for t in FACTS + DIMS
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

    tables = {t: read_table(spark, SRC, t) for t in FACTS}
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
    # exactly the aggregation/join pressure the probe should measure.
    max_ok = span("orders", "o_orderkey")
    write("orders", o_orderkey=F.col("o_orderkey") + k * max_ok)
    write("lineitem", l_orderkey=F.col("l_orderkey") + k * max_ok)
    for dim in DIMS:
        link = os.path.join(out, f"{dim}.parquet")
        # lexists, not exists: a BROKEN symlink (SRC moved) fails the
        # exists() check but still blocks os.symlink → unlink first.
        if os.path.lexists(link):
            os.unlink(link)
        os.symlink(os.path.join(SRC, f"{dim}.parquet"), link)
    open(done, "w").close()
    return out


def main(argv=None) -> None:
    p = parser(__doc__, sf_dirs=())
    p.add_argument("workdir", nargs="?", default="/tmp/scale_probe")
    p.add_argument("--heap", required=True, metavar="SIZE",
                   help="driver heap for the probe, e.g. 2g")
    p.add_argument("--cpus", default="8", help="local cores (default 8)")
    args = parse(p, argv, names=False)
    # env must land before the JVM starts — get_spark reads both
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = args.heap
    os.environ["SPARK_GRAFT_CPUS"] = args.cpus
    spark = session("scale-probe-heap")
    sf_dir = build_scaled(spark, args.workdir, 10)
    results = []
    for r in sweep(spark, HEAP_PROBED, sf_dir, noop):
        row = {
            "query": r.name,
            "heap": args.heap,
            "cpus": int(args.cpus),
            "scale": 10,
            "wall_sec": round(r.wall_s, 2),
            "memory_spilled_mb": round(
                sum(s.memory_spilled for s in r.stages) / 1e6, 1
            ),
            "disk_spilled_mb": round(
                sum(s.disk_spilled for s in r.stages) / 1e6, 1
            ),
            # an OOM lands here as a Py4J error
            "status": "ok" if r.error is None else f"failed: {r.error[:200]}",
        }
        results.append(row)
        print(json.dumps(row))
    print(json.dumps({
        "metric": "constrained_heap_probe",
        "oom_count": sum(r["status"] != "ok" for r in results),
        "total_wall_sec": round(sum(r["wall_sec"] for r in results), 1),
    }))


if __name__ == "__main__":
    main()
