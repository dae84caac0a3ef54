"""Skew wall-clock probe (r9 verdict item 4): measure the hot-key
join three ways on a REAL skewed corpus — one key owning 30% of the
fact rows — and report wall time plus MAX TASK RUNTIME (the driver
status store's taskSummary, tools/stage_metrics.py) so the per-task
imbalance is visible, not inferred:

  plain   — shuffle join, AQE skew handling OFF (what a naive plan
            does at 100 TB when the dim outgrows broadcast)
  aqe     — Spark's adaptive skew-join splitting ON
  salted  — operators/skew.py salted_join, uniform n_salts
  planned — salted_join_planned with per-key factors from plan_salts
            (the Gini-trigger -> plan -> execution decision rule)

Broadcast is disabled for the probe joins (threshold -1): at probe
scale every dim fits in memory, which would dodge the skew entirely;
the -1 simulates the 100 TB regime where the dim side is itself too
big to broadcast. salted_join_planned's plan broadcast uses an
explicit hint, which overrides the threshold — by design.

`python tools/skew_probe.py [n_rows]` (default 4,000,000). Run on an
idle box. Prints one JSON line per variant + a summary; paste the
table into SCALE.md.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import functions as F
from stage_metrics import snapshot, stages_since
from sweep import parse, parser, session

from wiki_data_pipeline_spark.session import scoped_conf

HOT_SHARE = 0.30
N_DIM_KEYS = 200_000
TARGET_ROWS = 20_000  # rows per (key, salt) slice the plan aims for
N_SALTS_UNIFORM = 32


def main(argv=None) -> None:
    p = parser(__doc__, sf_dirs=())
    p.add_argument("n_rows", nargs="?", type=int, default=4_000_000)
    n_rows = parse(p, argv, names=False).n_rows
    from wiki_data_pipeline_spark.operators.skew import (
        GINI_SALT_TRIGGER_MICRO,
        gini_micro,
        needs_salting,
        plan_salts,
        salted_join,
        salted_join_planned,
    )

    spark = session("skew-probe")
    n_hot = int(n_rows * HOT_SHARE)
    fact = (
        spark.range(n_rows)
        .select(
            F.col("id").alias("row_id"),
            F.when(F.col("id") < n_hot, F.lit(0))
            .otherwise(1 + F.pmod(F.xxhash64("id"), F.lit(N_DIM_KEYS)))
            .cast("long")
            .alias("key"),
            (F.col("id") % 97).alias("payload"),
        )
        .localCheckpoint()
    )
    dim = (
        spark.range(N_DIM_KEYS + 1)
        .select(F.col("id").alias("key"), (F.col("id") * 3).alias("dim_val"))
        .localCheckpoint()
    )
    g = gini_micro(fact, "key")
    plan = plan_salts(fact, "key", TARGET_ROWS).localCheckpoint()
    print(
        json.dumps(
            {
                "n_rows": n_rows,
                "hot_share": HOT_SHARE,
                "gini_micro": g,
                "trigger_micro": GINI_SALT_TRIGGER_MICRO,
                "gini_prescreen_fired": g >= GINI_SALT_TRIGGER_MICRO,
                "salting_gate_fired": needs_salting(
                    fact, "key", TARGET_ROWS
                ),
                "planned_hot_keys": plan.count(),
            }
        )
    )

    def agg_out(df):
        # force full join execution without driver collect
        df.groupBy((F.col("payload") % 7).alias("b")).agg(
            F.count("*"), F.sum("dim_val")
        ).write.format("noop").mode("overwrite").save()

    variants = {
        "plain": dict(skew="false", fn=lambda: fact.join(dim, "key")),
        "aqe": dict(skew="true", fn=lambda: fact.join(dim, "key")),
        "salted": dict(
            skew="false",
            fn=lambda: salted_join(
                fact, dim, "key", "row_id", n_salts=N_SALTS_UNIFORM
            ),
        ),
        "planned": dict(
            skew="false",
            fn=lambda: salted_join_planned(
                fact, dim, "key", "row_id", plan
            ),
        ),
    }
    results = {}
    with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        for name, v in variants.items():
            skew = {"spark.sql.adaptive.skewJoin.enabled": v["skew"]}
            with scoped_conf(spark, skew):
                agg_out(v["fn"]())  # warmup (codegen; also primes checkpts)
                snap = snapshot(spark)
                t0 = time.perf_counter()
                agg_out(v["fn"]())
                wall = round(time.perf_counter() - t0, 2)
                # the dominating task of the dominating stage
                mx = max(
                    s.max_task_ms
                    for s in stages_since(spark, snap, max_task=True)
                )
            results[name] = {
                "wall_sec": wall,
                "max_task_runtime_ms": round(mx, 0),
            }
            print(json.dumps({"variant": name, **results[name]}))
    plain_mx = results["plain"]["max_task_runtime_ms"] or 1
    print(
        json.dumps(
            {
                "metric": "skew_probe",
                "max_task_speedup_vs_plain": {
                    n: round(plain_mx / max(r["max_task_runtime_ms"], 1), 2)
                    for n, r in results.items()
                },
                "results": results,
            }
        )
    )


if __name__ == "__main__":
    main()
