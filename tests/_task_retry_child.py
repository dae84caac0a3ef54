"""Subprocess child for the task-retry exactly-once tests.

Runs in its OWN JVM because task retries need ``master=local[4,2]``
(the second bracket arg is ``spark.task.maxFailures`` in local mode),
which is fixed at SparkContext startup — the shared pytest session is
``local[*]`` with maxFailures=1, where any task failure fails the job.

What it proves (round-7 verdict item 3 — the one fault class the
driver-death crash tests don't cover): the reference's per-request
retry (ST5, src/enhanced_production_mediawiki_client.py) maps to Spark
TASK retries for the sink stage, and our per-record JSON sinks must be
exactly-once under them. The injector kills every FIRST task attempt
mid-partition (2 files already on disk), so Spark reruns the task;
because file paths are deterministic (indices from the range shuffle
the retried task re-reads for batch, doc_id-derived paths for
streaming), the retry overwrites the same files and the final tree
must be byte-identical to a never-faulted control run — and the
per-partition (count, max) receipts must come only from the attempt
that succeeded (no double-counted summary).

Prints ONE JSON line; the parent pytest asserts on it.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import sys


def _hash_tree(out_dir: str) -> dict[str, str]:
    out = {}
    for f in sorted(glob.glob(os.path.join(out_dir, "batch_*", "*.json"))):
        rel = os.path.relpath(f, out_dir)
        with open(f, "rb") as fh:
            out[rel] = hashlib.md5(fh.read()).hexdigest()
    return out


def make_flaky(marker_dir: str):
    """Injector killing every first task attempt after 2 files are on
    disk; drops a marker per killed attempt so the parent can assert
    the retry path actually ran (a too-small partition would silently
    skip the fault)."""

    def flaky(ctx, n_done: int) -> None:
        if n_done == 2 and ctx is not None and ctx.attemptNumber() == 0:
            import os

            os.makedirs(marker_dir, exist_ok=True)
            with open(
                os.path.join(marker_dir, f"attempt0_p{ctx.partitionId()}"),
                "w",
                encoding="utf-8",
            ) as f:
                f.write("killed")
            raise RuntimeError("injected sink task failure (attempt 0)")

    return flaky


def main() -> None:
    workdir = sys.argv[1]
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from pyspark.sql import SparkSession

    from wiki_data_pipeline_spark.pipeline import (
        run_pipeline,
        run_pipeline_streaming,
    )

    spark = (
        SparkSession.builder.master("local[4,2]")
        .appName("task-retry-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    res: dict = {}

    # ---- batch runner: faulted vs control, byte-identical trees ----
    markers_b = os.path.join(workdir, "markers_batch")
    out_f = os.path.join(workdir, "batch_faulty")
    out_c = os.path.join(workdir, "batch_control")
    s_f = run_pipeline(
        spark,
        sf_dir,
        out_f,
        limit=40,
        batch_size=10,
        sink_task_fault_injector=make_flaky(markers_b),
    )
    s_c = run_pipeline(spark, sf_dir, out_c, limit=40, batch_size=10)
    res["batch_summary_faulty"] = s_f
    res["batch_summary_control"] = s_c
    hf, hc = _hash_tree(out_f), _hash_tree(out_c)
    res["batch_hashes_equal"] = hf == hc
    res["batch_n_files"] = len(hf)
    res["batch_attempts_killed"] = len(os.listdir(markers_b)) if os.path.isdir(markers_b) else 0

    # ---- streaming runner: same contract under task retries ----
    src = os.path.join(workdir, "src")
    rows = [
        (i, None if i == 7 else f"document body {i}", "en", "api")
        for i in range(40)
    ]
    schema = "doc_id BIGINT, text STRING, lang STRING, source STRING"
    for lo in (0, 20):
        spark.createDataFrame(rows[lo : lo + 20], schema).coalesce(
            2
        ).write.mode("append").parquet(src)
    markers_s = os.path.join(workdir, "markers_stream")
    st_f = os.path.join(workdir, "stream_faulty")
    st_c = os.path.join(workdir, "stream_control")
    run_pipeline_streaming(
        spark,
        src,
        st_f,
        max_files_per_trigger=2,
        sink_task_fault_injector=make_flaky(markers_s),
    )
    run_pipeline_streaming(spark, src, st_c, max_files_per_trigger=2)
    shf, shc = _hash_tree(st_f), _hash_tree(st_c)
    res["stream_hashes_equal"] = shf == shc
    res["stream_n_files"] = len(shf)
    res["stream_attempts_killed"] = len(os.listdir(markers_s)) if os.path.isdir(markers_s) else 0
    res["stream_dlq_rows"] = (
        spark.read.parquet(os.path.join(st_f, "_dead_letter_stream")).count()
    )
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
