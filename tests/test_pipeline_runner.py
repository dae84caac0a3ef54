"""End-to-end pipeline runner: the reference's ``run()`` semantics —
limit, validate-split with persisted error reasons, per-record JSON
sink, checkpoint resume (rerun processes only NEW rows), reset."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from wiki_data_pipeline_spark.pipeline import run_pipeline


def _json_files(out_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(out_dir, "batch_*", "article_*.json")))


def _assert_lease_free(path: str) -> None:
    """A fresh acquire() of the lease on ``path`` succeeds."""
    from wiki_data_pipeline_spark.streaming.checkpoint import (
        HighWatermarkCheckpoint,
    )

    ckpt = HighWatermarkCheckpoint(path)
    ckpt.acquire()
    ckpt.release()


def _lease_holder(path: str):
    """A child python process (no JVM) holding the lease on ``path``;
    returns once the child has acquired it."""
    import subprocess
    import sys

    code = (
        "import sys, time\n"
        "from wiki_data_pipeline_spark.streaming.checkpoint import "
        "HighWatermarkCheckpoint\n"
        "HighWatermarkCheckpoint(sys.argv[1]).acquire()\n"
        "print('held', flush=True)\n"
        "time.sleep(600)\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.Popen(
        [sys.executable, "-c", code, path],
        cwd=repo, stdout=subprocess.PIPE, text=True,
    )
    assert proc.stdout.readline().strip() == "held"
    return proc


def test_pipeline_run_resume_and_reset(spark, sf_dir, tmp_path):
    out = str(tmp_path / "out")

    s1 = run_pipeline(spark, sf_dir, out, limit=50, batch_size=20)
    assert s1["processed"] == 50
    assert s1["failed"] == 0
    assert s1["batches"] == 3  # 20+20+10
    assert s1["watermark"] == 49  # doc_id 0..49
    files = _json_files(out)
    assert len(files) == 50
    rec = json.loads(open(files[0], encoding="utf-8").read())
    assert rec["title"] == f"Doc {rec['doc_id']}"
    assert rec["url"].endswith(f"Doc_{rec['doc_id']}")
    assert rec["content_length"] > 0

    # Resume: widen the limit — only the 50 NEW docs are processed.
    s2 = run_pipeline(spark, sf_dir, out, limit=100, batch_size=20)
    assert s2["processed"] == 50
    assert s2["watermark"] == 99
    assert s2["total_processed"] == 100
    assert s2["runs"] == 2
    assert len(_json_files(out)) == 100

    # No new data → no-op run.
    s3 = run_pipeline(spark, sf_dir, out, limit=100)
    assert s3["processed"] == 0
    assert s3["total_processed"] == 100

    # Reset: the checkpoint drops, everything reprocesses.
    s4 = run_pipeline(spark, sf_dir, out, limit=100, reset=True)
    assert s4["processed"] == 100
    assert s4["runs"] == 1


def test_pipeline_dead_letter_rows(spark, sf_dir, tmp_path):
    out = str(tmp_path / "dlq_out")
    docs = spark.createDataFrame(
        [
            (1, "a fine document", "en", "api"),
            (2, None, "en", "api"),
            (3, "   ", "en", "mwclient"),
            (4, "another good one", "de", "api"),
        ],
        "doc_id BIGINT, text STRING, lang STRING, source STRING",
    )
    s = run_pipeline(spark, sf_dir, out, docs=docs)
    assert s["processed"] == 2
    assert s["failed"] == 2
    dlq = spark.read.parquet(os.path.join(out, "_dead_letter"))
    rows = {r.doc_id: r for r in dlq.collect()}
    assert set(rows) == {2, 3}
    # The reference drops the error reason (SURVEY.md §2.11); we keep it.
    assert "validation_failed" in rows[2].error


def test_pipeline_failed_rows_not_retried_forever(spark, sf_dir, tmp_path):
    """The watermark covers dead-lettered rows too (reference
    mark_failed semantics): an invalid doc ABOVE the max valid doc_id
    must not be re-selected, re-counted, and re-dead-lettered on every
    subsequent run."""
    out = str(tmp_path / "dlq_wm_out")
    docs = spark.createDataFrame(
        [
            (1, "a fine document", "en", "api"),
            (2, "another good one", "de", "api"),
            (9, None, "en", "api"),  # invalid, above max valid id
        ],
        "doc_id BIGINT, text STRING, lang STRING, source STRING",
    )
    s1 = run_pipeline(spark, sf_dir, out, docs=docs)
    assert s1["processed"] == 2 and s1["failed"] == 1
    assert s1["watermark"] == 9  # advances past the failure

    s2 = run_pipeline(spark, sf_dir, out, docs=docs)
    assert s2["processed"] == 0
    assert s2["failed"] == 0  # NOT re-dead-lettered
    dlq = spark.read.parquet(os.path.join(out, "_dead_letter"))
    assert dlq.count() == 1  # exactly one dead-letter row, not per-run dupes


@pytest.mark.parametrize(
    "enrichment",
    [
        None,
        {
            "global_qps": None,
            "max_retries": 0,  # every 5th doc fails its only fetch
            "initial_delay": 0.0,
            "max_delay": 0.0,
            "fail_every": 5,
        },
    ],
    ids=["plain", "enriched"],
)
def test_batch_and_streaming_records_match(spark, sf_dir, tmp_path, enrichment):
    """Both runners share one record path: over the same docs they
    must write, per doc_id, the same JSON record (same keys in the same
    order, same values) and dead-letter the same docs with the same
    error kind. Only the file naming differs (consecutive index vs
    doc_id)."""
    from wiki_data_pipeline_spark.pipeline import run_pipeline_streaming

    docs = spark.createDataFrame(
        [(i, None if i == 7 else f"body {i}", "en", "api") for i in range(20)],
        "doc_id BIGINT, text STRING, lang STRING, source STRING",
    )
    src = str(tmp_path / "src")
    docs.coalesce(1).write.parquet(src)
    batch_out, stream_out = str(tmp_path / "batch"), str(tmp_path / "stream")
    run_pipeline(spark, sf_dir, batch_out, docs=docs, enrichment=enrichment)
    run_pipeline_streaming(spark, src, stream_out, enrichment=enrichment)

    def records(out: str) -> dict:
        recs = [json.loads(open(f, encoding="utf-8").read()) for f in _json_files(out)]
        return {r["doc_id"]: r for r in recs}

    def error_kinds(path: str) -> dict:
        dlq = spark.read.parquet(path).collect()
        return {r.doc_id: r.error.split(":")[0] for r in dlq}

    failed = {7: "validation_failed"}
    if enrichment is not None:
        failed.update({i: "fetch_failed" for i in (0, 5, 10, 15)})
    batch, stream = records(batch_out), records(stream_out)
    assert set(batch) == set(stream) == set(range(20)) - set(failed)
    for doc_id, rec in batch.items():
        assert list(rec) == list(stream[doc_id])
        assert rec == stream[doc_id]
        assert rec["author"] is None
    assert error_kinds(os.path.join(batch_out, "_dead_letter")) == failed
    assert error_kinds(os.path.join(stream_out, "_dead_letter_stream")) == failed


def test_pipeline_streaming_delta_and_idempotence(spark, sf_dir, tmp_path):
    """Streaming twin: drains pending files, reruns process ONLY new
    files, doc_id-derived paths make replays overwrite identically."""
    from pyspark.sql import functions as F

    from wiki_data_pipeline_spark.io import read_table
    from wiki_data_pipeline_spark.pipeline import run_pipeline_streaming

    src = str(tmp_path / "src")
    out = str(tmp_path / "stream_out")
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    docs.filter(F.col("doc_id") < 40).coalesce(1).write.mode("append").parquet(src)

    metrics_path = str(tmp_path / "metrics.jsonl")
    run_pipeline_streaming(spark, src, out, metrics_path=metrics_path)
    first = _json_files(out)
    assert len(first) == 40
    # the optional progress emitter recorded the run's micro-batches
    from wiki_data_pipeline_spark.streaming.progress import metrics_df

    mrows = metrics_df(spark, metrics_path).filter(
        "query_name = 'pipeline_streaming' AND num_input_rows > 0"
    )
    assert mrows.count() >= 1
    assert mrows.agg({"num_input_rows": "sum"}).first()[0] == 40
    rec = json.loads(open(first[0], encoding="utf-8").read())
    assert rec["title"] == f"Doc {rec['doc_id']}"
    # path derives from doc_id, not arrival order
    assert first[0].endswith(f"article_{rec['doc_id']:06d}.json")

    # New file arrives → only the delta is processed (offsets committed).
    docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 60)).coalesce(
        1
    ).write.mode("append").parquet(src)
    mtime_before = os.path.getmtime(first[0])
    run_pipeline_streaming(spark, src, out)
    assert len(_json_files(out)) == 60
    # already-committed files were not rewritten
    assert os.path.getmtime(first[0]) == mtime_before


def test_pipeline_reset_clears_dead_letter_history(spark, sf_dir, tmp_path):
    """--reset reprocesses everything from since=-1; the previous
    runs' watermark-keyed dead-letter directories must go with the
    checkpoint, or a root read double-counts historical failures."""
    from wiki_data_pipeline_spark.pipeline import run_pipeline

    out = str(tmp_path / "reset_out")
    schema = "doc_id BIGINT, text STRING, lang STRING, source STRING"
    docs1 = spark.createDataFrame(
        [(1, "fine", "en", "api"), (5, None, "en", "api")], schema
    )
    s1 = run_pipeline(spark, sf_dir, out, docs=docs1)
    assert s1["failed"] == 1
    # second incremental run dead-letters another doc into its own dir
    docs2 = spark.createDataFrame(
        [(1, "fine", "en", "api"), (5, None, "en", "api"),
         (9, None, "en", "api")], schema
    )
    s2 = run_pipeline(spark, sf_dir, out, docs=docs2)
    assert s2["failed"] == 1
    assert spark.read.parquet(os.path.join(out, "_dead_letter")).count() == 2

    # reset: full reprocess writes both failures into since=-1 and the
    # stale since=<W> dirs are gone → exactly 2 rows, not 3
    s3 = run_pipeline(spark, sf_dir, out, docs=docs2, reset=True)
    assert s3["failed"] == 2
    dlq = spark.read.parquet(os.path.join(out, "_dead_letter"))
    assert dlq.count() == 2
    assert sorted(r.doc_id for r in dlq.collect()) == [5, 9]


def test_pipeline_batch_crash_before_commit_replays_idempotently(
    spark, sf_dir, tmp_path
):
    """Batch-runner twin of the streaming mid-batch crash test: kill
    the run AFTER both sink writes but BEFORE the watermark commit,
    rerun, and assert the retry reproduces the exact same output —
    same file numbering (start_index never advanced), no duplicate
    dead-letter rows (the watermark-keyed overwrite directory; with
    the old append-mode dlq sink the retry APPENDED a second copy),
    and a final state identical to a never-crashed run."""
    from wiki_data_pipeline_spark.pipeline import run_pipeline

    out = str(tmp_path / "crash_out")
    docs = spark.createDataFrame(
        [
            (1, "a fine document", "en", "api"),
            (2, "another good one", "de", "api"),
            (5, None, "en", "api"),  # invalid → dead-letter
            (7, "third good doc", "en", "api"),
        ],
        "doc_id BIGINT, text STRING, lang STRING, source STRING",
    )

    def crash():
        raise RuntimeError("injected crash before watermark commit")

    try:
        run_pipeline(spark, sf_dir, out, docs=docs, fault_injector=crash)
        raise AssertionError("injected crash did not propagate")
    except RuntimeError as exc:
        assert "injected crash" in str(exc)

    pre_files = _json_files(out)
    assert len(pre_files) == 3  # sink writes happened before the crash
    pre_contents = {f: open(f, encoding="utf-8").read() for f in pre_files}

    # retry: watermark never advanced → same pending set, same
    # start_index, same dead-letter directory
    s = run_pipeline(spark, sf_dir, out, docs=docs)
    assert s["processed"] == 3 and s["failed"] == 1
    assert s["watermark"] == 7
    final_files = _json_files(out)
    assert final_files == pre_files  # no extra/renumbered files
    for f, content in pre_contents.items():
        assert open(f, encoding="utf-8").read() == content
    dlq = spark.read.parquet(os.path.join(out, "_dead_letter"))
    assert dlq.count() == 1  # NOT two copies from crash + retry
    assert dlq.first().doc_id == 5

    # a third clean run disposes nothing and must not disturb history
    s3 = run_pipeline(spark, sf_dir, out, docs=docs)
    assert s3["processed"] == 0 and s3["failed"] == 0
    assert (
        spark.read.parquet(os.path.join(out, "_dead_letter")).count() == 1
    )


def test_pipeline_streaming_metrics_complete_for_many_batches(
    spark, tmp_path
):
    """The metrics JSONL must hold EVERY micro-batch of a multi-batch
    availableNow run: the runner waits for the query's terminated
    lifecycle event (delivered after all progress events) before
    detaching the listener. With the old first-row wait, a 6-file /
    6-batch run raced listener removal and silently dropped the tail
    batches' rows."""
    from wiki_data_pipeline_spark.pipeline import run_pipeline_streaming
    from wiki_data_pipeline_spark.streaming.progress import metrics_df

    src = str(tmp_path / "src")
    schema = "doc_id BIGINT, text STRING, lang STRING, source STRING"
    for lo in range(0, 60, 10):
        spark.createDataFrame(
            [(i, f"body {i}", "en", "api") for i in range(lo, lo + 10)],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)

    metrics_path = str(tmp_path / "metrics.jsonl")
    run_pipeline_streaming(
        spark,
        src,
        str(tmp_path / "out"),
        max_files_per_trigger=1,
        metrics_path=metrics_path,
    )
    rows = (
        metrics_df(spark, metrics_path)
        .filter("query_name = 'pipeline_streaming' AND num_input_rows > 0")
        .collect()
    )
    # 6 files at maxFilesPerTrigger=1 → 6 data batches, ALL recorded
    assert len({r.batch_id for r in rows}) == 6
    assert sum(r.num_input_rows for r in rows) == 60


def test_pipeline_streaming_with_enrichment_stage(spark, tmp_path):
    """The streaming runner composes the rate-limited fetch stage the
    same way the batch runner does (the reference's production loop in
    streaming form): fetched rows carry api_content/attempts in the
    JSON output; retry-exhausted fetches dead-letter as fetch_failed
    alongside validation failures."""
    from wiki_data_pipeline_spark.pipeline import run_pipeline_streaming

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    schema = "doc_id BIGINT, text STRING, lang STRING, source STRING"
    rows = [
        (i, None if i == 7 else f"body {i}", "en", "api") for i in range(20)
    ]
    for lo in (0, 10):
        spark.createDataFrame(rows[lo : lo + 10], schema).coalesce(
            1
        ).write.mode("append").parquet(src)

    run_pipeline_streaming(
        spark,
        src,
        out,
        max_files_per_trigger=1,
        enrichment={
            # every 5th doc fails transiently and has no retries →
            # dead-letter; the rest fetch on attempt 1
            "fail_every": 5,
            "max_retries": 0,
            "initial_delay": 0.001,
            "max_delay": 0.002,
        },
    )

    files = _json_files(out)
    # 20 docs − 1 invalid (7) − 4 fetch-failed (0, 5, 10, 15) = 15
    assert len(files) == 15
    recs = [json.loads(open(f, encoding="utf-8").read()) for f in files]
    assert all(r["api_content"].startswith("content[") for r in recs)
    assert all(r["attempts"] == 1 for r in recs)
    assert {r["doc_id"] for r in recs} == {
        i for i in range(20) if i != 7 and i % 5 != 0
    }
    dlq = spark.read.parquet(os.path.join(out, "_dead_letter_stream"))
    errors = {r.doc_id: r.error for r in dlq.collect()}
    assert set(errors) == {7, 0, 5, 10, 15}
    assert errors[7].startswith("validation_failed")
    assert all(errors[i].startswith("fetch_failed") for i in (0, 5, 10, 15))


def test_pipeline_streaming_mid_batch_crash_replay(spark, tmp_path):
    """ST3 exactly-once under a MID-BATCH crash, not just clean stops:
    kill the job between the per-record sink write and the offset
    commit (injected failure on batch 1), restart, and assert the
    final output is byte-identical to what a never-crashed run
    produces — no duplicate files, no missing files, replayed files
    overwritten with identical content, committed batch-0 files never
    rewritten, dead-letter exactly once."""
    from pyspark.errors import StreamingQueryException

    from wiki_data_pipeline_spark.pipeline import run_pipeline_streaming

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    rows = [
        (i, None if i == 25 else f"document body {i}", "en", "api")
        for i in range(60)
    ]
    schema = "doc_id BIGINT, text STRING, lang STRING, source STRING"
    # three source files, appended separately → with
    # maxFilesPerTrigger=1 the run is three distinct micro-batches
    for lo in (0, 20, 40):
        spark.createDataFrame(rows[lo : lo + 20], schema).coalesce(
            1
        ).write.mode("append").parquet(src)

    def crash_on_batch_1(batch_id: int) -> None:
        if batch_id == 1:
            raise RuntimeError("injected mid-batch crash")

    try:
        run_pipeline_streaming(
            spark,
            src,
            out,
            max_files_per_trigger=1,
            fault_injector=crash_on_batch_1,
        )
        raise AssertionError("injected crash did not propagate")
    except StreamingQueryException:
        pass

    # crash landed mid-batch: batch 0 committed, batch 1's per-record
    # files already on disk with NO committed offset
    pre_crash = {
        f: open(f, encoding="utf-8").read() for f in _json_files(out)
    }
    assert 0 < len(pre_crash) < 59
    pre_mtimes = {f: os.path.getmtime(f) for f in pre_crash}

    # restart WITHOUT the injector: batch 1 replays (at-least-once),
    # batches 1-2 drain, batch 0 must not be reprocessed
    run_pipeline_streaming(spark, src, out, max_files_per_trigger=1)

    final = _json_files(out)
    # exactly one file per valid doc: no duplicates, none missing
    assert len(final) == 59
    ids = sorted(
        json.loads(open(f, encoding="utf-8").read())["doc_id"]
        for f in final
    )
    assert ids == [i for i in range(60) if i != 25]
    # replayed files were overwritten byte-identically; nothing deleted
    for f, content in pre_crash.items():
        assert os.path.exists(f)
        assert open(f, encoding="utf-8").read() == content
    # committed batch-0 files (doc_id < 20) were NOT rewritten on
    # restart — their offsets were already committed
    batch0 = [
        f
        for f in pre_crash
        if json.loads(pre_crash[f])["doc_id"] < 20
    ]
    assert batch0
    for f in batch0:
        assert os.path.getmtime(f) == pre_mtimes[f]
    # the invalid doc dead-lettered exactly once across crash + replay
    dlq = spark.read.parquet(os.path.join(out, "_dead_letter_stream"))
    assert dlq.count() == 1
    assert dlq.first().doc_id == 25


def test_pipeline_cli(sf_dir, tmp_path):
    """The __main__ CLI mirrors src/main.py's argparse surface."""
    import subprocess
    import sys

    out = str(tmp_path / "cli_out")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [
            sys.executable,
            "-m",
            "wiki_data_pipeline_spark",
            "--sf-dir",
            sf_dir,
            "--out",
            out,
            "--limit",
            "10",
        ],
        capture_output=True,
        text=True,
        cwd=repo,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    summary = json.loads(res.stdout.strip().splitlines()[-1])
    assert summary["processed"] == 10
    assert len(_json_files(out)) == 10


def test_pipeline_cli_streaming_mode(spark, tmp_path):
    """--stream DIR runs the streaming twin from the CLI: drains
    the source as micro-batches, sinks per-record JSON, prints a
    one-line summary."""
    import subprocess
    import sys

    src = str(tmp_path / "src")
    out = str(tmp_path / "cli_stream_out")
    spark.createDataFrame(
        [(i, f"body {i}", "en", "api") for i in range(25)],
        "doc_id BIGINT, text STRING, lang STRING, source STRING",
    ).coalesce(1).write.mode("append").parquet(src)

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [
            sys.executable,
            "-m",
            "wiki_data_pipeline_spark",
            "--stream",
            src,
            "--out",
            out,
        ],
        capture_output=True,
        text=True,
        cwd=repo,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    summary = json.loads(res.stdout.strip().splitlines()[-1])
    assert summary["mode"] == "streaming"
    assert summary["sink_files_new"] == 25
    assert summary["sink_files_total"] == 25
    assert len(_json_files(out)) == 25

    # resume run with no new source files: total unchanged, new == 0
    res2 = subprocess.run(
        [
            sys.executable,
            "-m",
            "wiki_data_pipeline_spark",
            "--stream",
            src,
            "--out",
            out,
        ],
        capture_output=True,
        text=True,
        cwd=repo,
        timeout=300,
    )
    assert res2.returncode == 0, res2.stderr[-2000:]
    s2 = json.loads(res2.stdout.strip().splitlines()[-1])
    assert s2["sink_files_new"] == 0
    assert s2["sink_files_total"] == 25


def test_pipeline_cli_streaming_reset_and_limit(spark, tmp_path):
    """Streaming-mode flag semantics: --reset drops the stream offset
    checkpoint (next drain reprocesses from scratch instead of a
    silent delta-only no-op) and the batch_id-keyed stream dead-letter
    history; a limit is a batch-queue knob and errors instead of being
    silently ignored, whether it comes from --limit or from the config
    file's processing.limit."""
    import subprocess
    import sys

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    spark.createDataFrame(
        [
            (i, None if i == 3 else f"body {i}", "en", "api")
            for i in range(12)
        ],
        "doc_id BIGINT, text STRING, lang STRING, source STRING",
    ).coalesce(1).write.mode("append").parquet(src)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base_cmd = [
        sys.executable,
        "-m",
        "wiki_data_pipeline_spark",
        "--stream",
        src,
        "--out",
        out,
    ]

    res = subprocess.run(
        base_cmd, capture_output=True, text=True, cwd=repo, timeout=300
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert json.loads(res.stdout.strip().splitlines()[-1])[
        "sink_files_new"
    ] == 11

    # --reset: offsets dropped -> the same 11 docs drain again
    res2 = subprocess.run(
        base_cmd + ["--reset"],
        capture_output=True,
        text=True,
        cwd=repo,
        timeout=300,
    )
    assert res2.returncode == 0, res2.stderr[-2000:]
    s2 = json.loads(res2.stdout.strip().splitlines()[-1])
    # files are overwritten in place (idempotent paths), so total stays
    # 11 while the run demonstrably reprocessed (checkpoint recreated)
    assert s2["sink_files_total"] == 11
    assert os.path.isdir(os.path.join(out, "_stream_checkpoint"))
    dlq = spark.read.parquet(os.path.join(out, "_dead_letter_stream"))
    assert dlq.count() == 1  # history cleared, re-dead-lettered once

    # a limit in streaming mode: argparse error, exit code 2
    cfg = tmp_path / "limit.yaml"
    cfg.write_text("processing:\n  limit: 5\n")
    for extra in (["--limit", "5"], ["--config", str(cfg)]):
        res3 = subprocess.run(
            base_cmd + extra,
            capture_output=True,
            text=True,
            cwd=repo,
            timeout=300,
        )
        assert res3.returncode == 2, (extra, res3.stderr[-2000:])
        assert "not supported in streaming mode" in res3.stderr


def test_pipeline_naming_patterns(spark, sf_dir, tmp_path):
    """The config naming knobs flow through to the sink (reference
    config.yaml naming section)."""
    out = str(tmp_path / "named_out")
    s = run_pipeline(
        spark, sf_dir, out, limit=5, batch_size=3,
        file_pattern="doc_{index:04d}.json",
        directory_pattern="chunk_{batch_num:02d}",
    )
    assert s["processed"] == 5
    files = sorted(glob.glob(os.path.join(out, "chunk_*", "doc_*.json")))
    assert len(files) == 5
    assert files[0].endswith(os.path.join("chunk_00", "doc_0000.json"))
    assert files[-1].endswith(os.path.join("chunk_01", "doc_0004.json"))


def test_pipeline_enrichment_stage(spark, sf_dir, tmp_path):
    """--enrich wiring: fetched rows gain api_content/attempts in the
    JSON output; retry-exhausted fetches dead-letter (reference
    mark_failed) and the watermark still covers them."""
    out = str(tmp_path / "enrich_out")
    s = run_pipeline(
        spark, sf_dir, out, limit=10, batch_size=20,
        enrichment={
            "global_qps": None,  # no pacing in tests
            "max_retries": 0,    # first transient failure is fatal
            "initial_delay": 0.0,
            "max_delay": 0.0,
            "fail_every": 4,     # doc_ids 0,4,8 fail their only attempt
        },
    )
    assert s["processed"] == 7
    assert s["failed"] == 3
    assert s["watermark"] == 9  # failures don't hold the watermark back
    files = _json_files(out)
    assert len(files) == 7
    rec = json.loads(open(files[0], encoding="utf-8").read())
    assert rec["api_content"].startswith("content[")
    assert rec["attempts"] == 1
    dlq = spark.read.parquet(os.path.join(out, "_dead_letter"))
    errs = {r.doc_id: r.error for r in dlq.collect()}
    assert set(errs) == {0, 4, 8}
    assert all(e.startswith("fetch_failed:") for e in errs.values())

    # Resume: nothing left below the watermark, including the failures.
    s2 = run_pipeline(spark, sf_dir, out, limit=10, batch_size=20,
                      enrichment={"global_qps": None, "fail_every": 4})
    assert s2["processed"] == 0 and s2["failed"] == 0


def test_pipeline_concurrent_runners_fenced(spark, sf_dir, tmp_path):
    """Concurrent-runner fencing (the reference's one-process
    queue/checkpoint assumption made explicit, src/queue_manager.py:
    34-50): while one run_pipeline holds the checkpoint lease — parked
    deterministically in the commit window via the fault injector — a
    second invocation on the same out_dir must fail fast with
    CheckpointLeaseError, touching neither sinks nor watermark. The
    parked winner then completes normally and owns ALL the output:
    no duplicated files, one coherent summary."""
    import threading

    from wiki_data_pipeline_spark.streaming.checkpoint import (
        CheckpointLeaseError,
    )

    out = str(tmp_path / "out")
    entered, release = threading.Event(), threading.Event()

    def park_in_commit_window() -> None:
        entered.set()
        assert release.wait(60), "test deadlock: loser never unblocked us"

    results: list[dict] = []
    errors: list[BaseException] = []

    def winner() -> None:
        try:
            results.append(
                run_pipeline(
                    spark,
                    sf_dir,
                    out,
                    limit=30,
                    batch_size=10,
                    fault_injector=park_in_commit_window,
                )
            )
        except BaseException as e:  # surfaces in the main thread
            errors.append(e)
            entered.set()

    t = threading.Thread(target=winner)
    t.start()
    try:
        assert entered.wait(120), "winner never reached the commit window"
        assert not errors, errors
        # the loser races while the lease is held -> fenced out
        with pytest.raises(CheckpointLeaseError):
            run_pipeline(spark, sf_dir, out, limit=30, batch_size=10)
    finally:
        release.set()
        t.join(timeout=120)
    assert not t.is_alive()
    assert not errors, errors
    assert results and results[0]["processed"] == 30
    # exactly one file per doc, no loser half-writes
    files = _json_files(out)
    assert len(files) == 30
    ids = sorted(
        json.loads(open(f, encoding="utf-8").read())["doc_id"] for f in files
    )
    assert ids == list(range(30))
    # the lease is released after the run: a sequential rerun resumes
    s2 = run_pipeline(spark, sf_dir, out, limit=40, batch_size=10)
    assert s2["processed"] == 10
    _assert_lease_free(os.path.join(out, "_checkpoint", "progress.json"))


def test_pipeline_stale_lease_reaped(spark, sf_dir, tmp_path):
    """The lease is the kernel's lock on the lock file, held by a live
    process: while another process holds it, run_pipeline fails fast
    and writes nothing; once that holder is SIGKILLed the next run
    proceeds with nothing to clean up. The lock file's contents carry
    no signal, so one naming the caller's own pid (a crashed driver
    restarted under a reused pid) does not wedge the checkpoint, and a
    run that crashes inside the lease still releases it."""
    from wiki_data_pipeline_spark.streaming.checkpoint import (
        CheckpointLeaseError,
    )

    out = str(tmp_path / "out")
    path = os.path.join(out, "_checkpoint", "progress.json")

    holder = _lease_holder(path)
    try:
        with pytest.raises(CheckpointLeaseError, match="progress.json.lock"):
            run_pipeline(spark, sf_dir, out, limit=5)
        assert not _json_files(out)
        assert not os.path.exists(path)  # no watermark
    finally:
        holder.kill()
        holder.wait()
    s = run_pipeline(spark, sf_dir, out, limit=5)
    assert s["processed"] == 5

    # pid reuse: a lock file naming our own pid is just a file
    with open(path + ".lock", "w", encoding="utf-8") as f:
        f.write(str(os.getpid()))
    s = run_pipeline(spark, sf_dir, out, limit=10)
    assert s["processed"] == 5 and s["watermark"] == 9

    # a run that CRASHES inside the leased section still releases: the
    # lease lives in a finally, crash-retry needs no manual rm
    def boom() -> None:
        raise RuntimeError("injected crash inside the lease")

    with pytest.raises(RuntimeError, match="inside the lease"):
        run_pipeline(spark, sf_dir, out, limit=15, fault_injector=boom)
    _assert_lease_free(path)


def test_streaming_reset_inside_lease(spark, tmp_path):
    """Pin the r8-advice fix: `--stream --reset` must NOT delete a
    live run's offset log before losing the lease race. With the lease
    held by a live holder, a reset invocation fails fast AND the
    _stream_checkpoint / _dead_letter_stream dirs survive untouched."""
    from wiki_data_pipeline_spark.pipeline import run_pipeline_streaming
    from wiki_data_pipeline_spark.streaming.checkpoint import (
        CheckpointLeaseError,
        HighWatermarkCheckpoint,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    os.makedirs(src)
    ckpt_dir = os.path.join(out, "_stream_checkpoint")
    dls_dir = os.path.join(out, "_dead_letter_stream")
    os.makedirs(ckpt_dir)
    os.makedirs(dls_dir)
    sentinel = os.path.join(ckpt_dir, "offsets")
    with open(sentinel, "w", encoding="utf-8") as f:
        f.write("live-run-offset-log")

    # live holder on the stream-runner lease
    holder = HighWatermarkCheckpoint(os.path.join(out, "_stream_runner"))
    holder.acquire()
    try:
        with pytest.raises(CheckpointLeaseError):
            run_pipeline_streaming(spark, src, out, reset=True)
    finally:
        holder.release()
    # the live run's state survived the failed reset attempt
    assert os.path.exists(sentinel)
    assert os.path.exists(dls_dir)


def test_task_retry_exactly_once_both_runners(tmp_path):
    """Exactly-once under TASK-level retries (the reference's ST5
    per-request retry mapped to Spark's spark.task.maxFailures): an
    executor-side injector kills every first sink-task attempt
    mid-partition (2 files already written), Spark reruns the task,
    and both runners must produce trees byte-identical to their
    never-faulted control runs with single-counted summaries. Runs in
    a subprocess: local[4,2] (maxFailures=2) is fixed at context
    startup and the shared session is maxFailures=1."""
    import subprocess
    import sys

    script = os.path.join(os.path.dirname(__file__), "_task_retry_child.py")
    res = subprocess.run(
        [sys.executable, script, str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-4000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    # the fault actually fired — at least one attempt killed per runner
    assert out["batch_attempts_killed"] >= 1
    assert out["stream_attempts_killed"] >= 1
    # byte-identical to control, no dupes / misses
    assert out["batch_hashes_equal"], out
    assert out["stream_hashes_equal"], out
    assert out["batch_n_files"] == 40
    assert out["stream_n_files"] == 39  # doc 7 invalid -> dead letter
    assert out["stream_dlq_rows"] == 1
    # per-partition receipts single-counted despite the retried attempt
    sf, sc = out["batch_summary_faulty"], out["batch_summary_control"]
    for k in ("processed", "failed", "watermark", "total_processed"):
        assert sf[k] == sc[k], (k, sf, sc)
    assert sf["processed"] == 40


def test_pipeline_streaming_concurrent_runners_fenced(spark, tmp_path):
    """Streaming twin of the fencing test: Structured Streaming's own
    checkpoint log does not fence two concurrent availableNow drains
    of one out_dir (they race the offset log), so the runner holds the
    same kernel-lock lease as the batch twin — the loser fails fast
    with CheckpointLeaseError while the winner is parked mid-batch."""
    import threading

    from wiki_data_pipeline_spark.pipeline import run_pipeline_streaming
    from wiki_data_pipeline_spark.streaming.checkpoint import (
        CheckpointLeaseError,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    spark.createDataFrame(
        [(i, f"body {i}", "en", "api") for i in range(20)],
        "doc_id BIGINT, text STRING, lang STRING, source STRING",
    ).coalesce(1).write.mode("append").parquet(src)

    entered, release = threading.Event(), threading.Event()

    def park(batch_id: int) -> None:
        entered.set()
        assert release.wait(60), "test deadlock: loser never unblocked us"

    errors: list[BaseException] = []

    def winner() -> None:
        try:
            run_pipeline_streaming(spark, src, out, fault_injector=park)
        except BaseException as e:
            errors.append(e)
            entered.set()

    t = threading.Thread(target=winner)
    t.start()
    try:
        assert entered.wait(120), "winner never reached a micro-batch"
        assert not errors, errors
        with pytest.raises(CheckpointLeaseError):
            run_pipeline_streaming(spark, src, out)
    finally:
        release.set()
        t.join(timeout=120)
    assert not t.is_alive()
    assert not errors, errors
    assert len(_json_files(out)) == 20
    # lease released -> a sequential resume works and is a no-op
    run_pipeline_streaming(spark, src, out)
    assert len(_json_files(out)) == 20
    _assert_lease_free(os.path.join(out, "_stream_runner"))


def _write_corpus(sf: str, first_id: int, n_docs: int, n_files: int) -> set[int]:
    """Add ``n_docs`` docs from ``first_id`` to the ``documents`` table
    under ``sf`` as ``n_files`` parquet files; every 37th doc has blank
    or null text. Returns the valid doc_ids."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(sf, "documents.parquet")
    os.makedirs(path, exist_ok=True)
    ids = list(range(first_id, first_id + n_docs))
    texts = [
        (None if i % 2 else "  ") if i % 37 == 0 else f"body of doc {i}" for i in ids
    ]
    per_file = -(-n_docs // n_files)
    for k in range(n_files):
        lo, hi = k * per_file, min((k + 1) * per_file, n_docs)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(ids[lo:hi], pa.int64()),
                    "text": pa.array(texts[lo:hi], pa.string()),
                    "lang": ["en"] * (hi - lo),
                    "source": ["api"] * (hi - lo),
                }
            ),
            os.path.join(path, f"part-{first_id:06d}-{k}.parquet"),
        )
    return {i for i, t in zip(ids, texts) if t is not None and t.strip()}


def test_pipeline_fetches_each_doc_once_within_job_budget(spark, tmp_path):
    """One fetch pass per run: the fetched record frame is persisted,
    so the sink's range sample, its sort and the dead-letter write never
    re-run the side-effectful fetch. A subtree that runs twice shows up
    here as a duplicate fetcher call and as extra Spark jobs."""
    src = str(tmp_path / "corpus")
    valid = _write_corpus(src, 0, 400, 4)
    calls = str(tmp_path / "fetch_calls.txt")

    def fetcher(title: str) -> str:
        # workers share the local filesystem; one short O_APPEND write
        # per call keeps concurrent lines whole
        with open(calls, "a", encoding="utf-8") as f:
            f.write(title + "\n")
        return f"fetched {title}"

    sc = spark.sparkContext
    group = f"fetch-once-{os.getpid()}"
    sc.setJobGroup(group, "fresh enriched run_pipeline")
    try:
        s = run_pipeline(
            spark, src, str(tmp_path / "out"),
            enrichment={"global_qps": None, "fetcher": fetcher},
        )
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc._jsc.clearJobGroup()
    assert s["processed"] == len(valid)
    assert s["failed"] == 400 - len(valid)
    with open(calls, encoding="utf-8") as f:
        titles = f.read().splitlines()
    assert sorted(titles) == sorted(f"Doc {i}" for i in valid)
    # file listing, range sample, the fetch cache and range shuffle
    # stages, the JVM offset count, the writer, the dead-letter write
    assert n_jobs <= 7, n_jobs


def test_pipeline_reliable_pin_tier_matches_local(spark, tmp_path):
    """The pipeline takes no pins, so ``pin.mode=reliable`` must change
    nothing: a fresh run plus one resume write the same JSON bytes and
    dead-letter the same rows as under the default local tier, and
    leave no checkpoint files behind."""
    from wiki_data_pipeline_spark.operators.pin import PIN_DIR_KEY, PIN_MODE_KEY

    enrichment = {
        "global_qps": None,
        "max_retries": 0,  # every 7th doc fails its only fetch
        "initial_delay": 0.0,
        "max_delay": 0.0,
        "fail_every": 7,
    }

    def run_twice(out: str, src: str) -> None:
        _write_corpus(src, 0, 300, 4)
        run_pipeline(spark, src, out, batch_size=100, enrichment=enrichment)
        _write_corpus(src, 300, 60, 1)
        s = run_pipeline(spark, src, out, batch_size=100, enrichment=enrichment)
        assert s["watermark"] == 359 and s["runs"] == 2

    def tree(out: str) -> dict:
        return {
            os.path.relpath(p, out): open(p, "rb").read() for p in _json_files(out)
        }

    def dead_letters(out: str) -> list:
        rows = spark.read.parquet(os.path.join(out, "_dead_letter")).collect()
        return sorted((r.doc_id, r.source, r.error, r.since) for r in rows)

    local = str(tmp_path / "local")
    run_twice(local, str(tmp_path / "src_local"))
    reliable = str(tmp_path / "reliable")
    spark.conf.set(PIN_MODE_KEY, "reliable")
    spark.conf.set(PIN_DIR_KEY, str(tmp_path / "pins"))
    try:
        run_twice(reliable, str(tmp_path / "src_reliable"))
    finally:
        spark.conf.unset(PIN_MODE_KEY)
        spark.conf.unset(PIN_DIR_KEY)
    assert not glob.glob(str(tmp_path / "pins" / "**" / "part-*"), recursive=True)
    assert tree(reliable) == tree(local)
    assert len(tree(local)) > 0
    dlq = dead_letters(local)
    assert dead_letters(reliable) == dlq
    kinds = {e.split(":")[0] for _, _, e, _ in dlq}
    assert kinds == {"validation_failed", "fetch_failed"}


@pytest.mark.parametrize("enrich", [False, True], ids=["plain", "enriched"])
def test_pipeline_releases_what_it_caches(spark, tmp_path, enrich):
    """A batch run leaves the session's storage as it found it: the
    fetched frame is unpersisted after a run that succeeds and after
    one that fails between the sink writes and the watermark commit."""
    src = str(tmp_path / "corpus")
    out = str(tmp_path / "out")
    enrichment = {"global_qps": None} if enrich else None
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())

    _write_corpus(src, 0, 200, 2)
    run_pipeline(spark, src, out, batch_size=50, enrichment=enrichment)
    assert set(jsc.getPersistentRDDs().keySet()) == before

    def crash():
        raise RuntimeError("injected crash before commit")

    _write_corpus(src, 200, 50, 1)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_pipeline(
            spark, src, out, batch_size=50, enrichment=enrichment, fault_injector=crash
        )
    assert set(jsc.getPersistentRDDs().keySet()) == before
