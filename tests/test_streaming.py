"""Structured Streaming jobs: watermark window agg, dead-letter split
with resume, stateful per-user counts (reference ST1-ST4 semantics on
real streams)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from wiki_data_pipeline_spark.io import read_table
from wiki_data_pipeline_spark.streaming.checkpoint import HighWatermarkCheckpoint
from wiki_data_pipeline_spark.streaming.jobs import (
    run_dead_letter_split,
    run_stateful_user_counts,
    run_tumbling_agg,
    stage_events_as_stream_source,
)


def test_tumbling_agg_stream_matches_batch(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    n = stage_events_as_stream_source(spark, sf_dir, src, n_files=3)
    assert n >= 3
    run_tumbling_agg(
        spark, src, str(tmp_path / "ckpt"), query_name="t_tumbling"
    )
    emitted = spark.table("t_tumbling")
    assert set(emitted.columns) == {
        "window_start",
        "event_type",
        "n_events",
        "total_value",
    }
    # every emitted window must match the batch computation exactly
    events = read_table(spark, sf_dir, "events")
    batch = events.groupBy(
        F.window("ts", "1 hour").alias("w"), F.col("event_type")
    ).agg(F.count("*").alias("b_n"))
    batch = batch.select(
        F.col("w.start").alias("window_start"), "event_type", "b_n"
    )
    joined = emitted.join(batch, on=["window_start", "event_type"], how="left")
    assert joined.filter(
        F.col("b_n").isNull() | (F.col("b_n") != F.col("n_events"))
    ).count() == 0
    # only the ≤2h watermark tail of a 30-day span may be withheld
    got = emitted.agg(F.sum("n_events")).collect()[0][0]
    assert got is not None and got >= events.count() * 0.9


def test_dead_letter_split_and_resume(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    ok_dir, dlq_dir = str(tmp_path / "ok"), str(tmp_path / "dlq")
    ckpt = str(tmp_path / "ckpt")
    stage_events_as_stream_source(spark, sf_dir, src, n_files=3)

    run_dead_letter_split(spark, src, ckpt, ok_dir, dlq_dir)
    events = read_table(spark, sf_dir, "events")
    n_ok = spark.read.parquet(ok_dir).count()
    n_dlq = spark.read.parquet(dlq_dir).count()
    assert n_ok == events.filter(F.col("value") >= 10.0).count()
    assert n_dlq == events.filter(F.col("value") < 10.0).count()
    # DLQ keeps the error reason (reference bug §2.11 fixed)
    err = spark.read.parquet(dlq_dir).select("error").first()["error"]
    assert err.startswith("value_below_threshold")

    # resume: add one new file; rerun processes ONLY the delta
    extra = events.filter(F.col("event_id") < 10).withColumn(
        "event_id", F.col("event_id") + 1_000_000
    )
    extra.coalesce(1).write.mode("append").parquet(src)
    run_dead_letter_split(spark, src, ckpt, ok_dir, dlq_dir)
    n_ok2 = spark.read.parquet(ok_dir).count()
    n_dlq2 = spark.read.parquet(dlq_dir).count()
    assert (n_ok2 + n_dlq2) - (n_ok + n_dlq) == extra.count()


def test_dead_letter_split_failed_write_releases_cache(spark, sf_dir, tmp_path):
    """A foreachBatch sink that fails mid-batch must still unpersist
    its cached micro-batch: the session is long-lived, and a leaked
    cache pins executor memory for every later query. The dead-letter
    write fails here because its target is a regular file."""
    import pytest
    from pyspark.errors import StreamingQueryException

    src = str(tmp_path / "src")
    stage_events_as_stream_source(spark, sf_dir, src, n_files=1)
    dlq_dir = tmp_path / "dlq"
    dlq_dir.write_text("not a directory")
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # earlier tests may share the session
    assert cache_manager.isEmpty()

    with pytest.raises(StreamingQueryException):
        run_dead_letter_split(
            spark, src, str(tmp_path / "ckpt"), str(tmp_path / "ok"), str(dlq_dir)
        )
    assert cache_manager.isEmpty()


def test_stateful_user_counts(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    stage_events_as_stream_source(spark, sf_dir, src, n_files=3)
    run_stateful_user_counts(
        spark, src, str(tmp_path / "ckpt"), query_name="t_user_state"
    )
    # update-mode memory sink: last emitted row per user is the final state
    final = spark.sql(
        """
        SELECT user_id, n_events FROM (
          SELECT user_id, n_events,
                 row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
          FROM t_user_state) WHERE rn = 1
        """
    )
    expected = (
        read_table(spark, sf_dir, "events").groupBy("user_id").count()
    )
    diff = (
        final.join(expected, on="user_id")
        .filter(F.col("n_events") != F.col("count"))
        .count()
    )
    assert diff == 0


def test_high_watermark_checkpoint_batch(spark, sf_dir, tmp_path):
    ckpt = HighWatermarkCheckpoint(os.path.join(tmp_path, "progress.json"))
    events = read_table(spark, sf_dir, "events")

    def commit(batch):
        agg = batch.agg(F.max("event_id").alias("mx"), F.count("*").alias("n"))
        mx, n = agg.first()
        return ckpt.commit_values(watermark=mx, n_disposed=n)

    first = ckpt.incremental(events, "event_id")
    assert first.count() == events.count()
    commit(first)

    # nothing new → empty incremental
    second = ckpt.incremental(events, "event_id")
    assert second.count() == 0

    # new rows appear → only they are selected
    newer = events.withColumn("event_id", F.col("event_id") + 1_000_000)
    combined = events.unionAll(newer)
    assert ckpt.incremental(combined, "event_id").count() == events.count()
    state = commit(ckpt.incremental(combined, "event_id"))
    assert state.total_processed == 2 * events.count()
    assert state.runs == 2


def test_checkpoint_failed_save_leaves_no_stray_file(tmp_path, monkeypatch):
    """A commit whose write fails (a full disk) keeps the committed
    progress.json byte-identical and leaves no temp file beside it."""
    import errno
    import json

    import pytest

    ckpt = HighWatermarkCheckpoint(str(tmp_path / "_checkpoint" / "progress.json"))
    ckpt.commit_values(watermark=9, n_disposed=10)
    with open(ckpt.path, "rb") as f:
        committed = f.read()

    def disk_full(*args, **kwargs):
        raise OSError(errno.ENOSPC, "No space left on device")

    monkeypatch.setattr(json, "dump", disk_full)
    with pytest.raises(OSError, match="No space left"):
        ckpt.commit_values(watermark=19, n_disposed=10)
    with open(ckpt.path, "rb") as f:
        assert f.read() == committed
    assert os.listdir(tmp_path / "_checkpoint") == ["progress.json"]


def test_stream_static_enrichment_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static broadcast join (J1 streaming form) must produce
    exactly the batch join's rows once the stream drains."""
    from wiki_data_pipeline_spark.io import read_table
    from wiki_data_pipeline_spark.streaming.jobs import (
        run_stream_static_enrichment,
        stage_events_as_stream_source,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    stage_events_as_stream_source(spark, sf_dir, src, n_files=3)

    events = read_table(spark, sf_dir, "events")
    dim = events.groupBy("user_id").agg(F.count("*").alias("user_rank"))
    run_stream_static_enrichment(
        spark, src, ckpt, dim, query_name="t_enrich_stream"
    )
    got = spark.sql("SELECT * FROM t_enrich_stream")
    expected = events.join(dim, on="user_id", how="left").select(
        "event_id", "user_id", "event_type",
        F.coalesce("user_rank", F.lit(-1)).alias("user_rank"),
    )
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0


def test_watermark_drops_late_rows_across_restarts(spark, sf_dir, tmp_path):
    """ST2+watermark: after the first drain advances the watermark (it
    is persisted in the checkpoint), a file of events older than the
    watermark arriving later is dropped as late data — the late-data
    semantics the reference never had (SURVEY.md §2.9)."""
    import os

    from wiki_data_pipeline_spark.io import read_table
    from wiki_data_pipeline_spark.streaming.jobs import run_tumbling_agg

    src = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "late_ckpt")
    os.makedirs(src, exist_ok=True)
    events = read_table(spark, sf_dir, "events")
    max_ts = events.agg(F.max("ts").alias("m")).first().m

    recent = events.filter(
        F.col("ts") >= F.lit(max_ts) - F.expr("INTERVAL 3 HOURS")
    )
    old = events.filter(F.col("ts") < F.lit(max_ts) - F.expr("INTERVAL 24 HOURS"))
    assert recent.count() > 0 and old.count() > 0

    out = str(tmp_path / "late_out")
    recent.coalesce(1).write.mode("append").parquet(src)
    run_tumbling_agg(spark, src, ckpt, sink_dir=out)
    n_after_first = spark.read.parquet(out).agg(F.sum("n_events")).first()[0] or 0

    # second drain, SAME checkpoint: only ancient rows arrive — all
    # beyond the persisted watermark → dropped, no new output rows
    old.coalesce(1).write.mode("append").parquet(src)
    run_tumbling_agg(spark, src, ckpt, sink_dir=out)
    n_after_second = spark.read.parquet(out).agg(F.sum("n_events")).first()[0] or 0
    assert n_after_second == n_after_first, (
        "rows older than the persisted watermark must be dropped"
    )


def test_stateful_user_counts_transform_with_state(spark, sf_dir, tmp_path):
    """transformWithStateInPandas twin of the applyInPandasWithState
    job: final per-user counts must equal the batch groupBy. Skipped
    where pyspark's TWS protobuf protocol dependency is absent."""
    import pytest

    pytest.importorskip("google.protobuf")
    from wiki_data_pipeline_spark.streaming.jobs import (
        run_stateful_user_counts_tws,
        stage_events_as_stream_source,
    )

    src = str(tmp_path / "tws_src")
    stage_events_as_stream_source(spark, sf_dir, src, n_files=3)
    run_stateful_user_counts_tws(
        spark, src, str(tmp_path / "tws_ckpt"), query_name="t_user_tws"
    )
    final = spark.sql(
        """
        SELECT user_id, n_events FROM (
          SELECT user_id, n_events,
                 row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
          FROM t_user_tws) WHERE rn = 1
        """
    )
    expected = read_table(spark, sf_dir, "events").groupBy("user_id").count()
    diff = (
        final.join(expected, on="user_id")
        .filter(F.col("n_events") != F.col("count"))
        .count()
    )
    assert diff == 0
    assert final.count() == expected.count()
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass", None) is None
    )


def test_streaming_session_windows_match_batch(spark, sf_dir, tmp_path):
    """Streaming session windows (30 min gap) must agree with the
    batch session_window computation on every emitted session; only
    the watermark tail may be withheld."""
    from wiki_data_pipeline_spark.streaming.jobs import (
        run_streaming_session_agg,
        stage_events_as_stream_source,
    )

    src = str(tmp_path / "sess_src")
    stage_events_as_stream_source(spark, sf_dir, src, n_files=3)
    run_streaming_session_agg(
        spark, src, str(tmp_path / "sess_ckpt"), query_name="t_sessions"
    )
    emitted = spark.table("t_sessions")
    assert emitted.count() > 0

    events = read_table(spark, sf_dir, "events")
    batch = (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("b_n"))
        .select(
            F.col("w.start").alias("session_start"), "user_id", "b_n"
        )
    )
    joined = emitted.join(batch, on=["session_start", "user_id"], how="left")
    assert (
        joined.filter(F.col("b_n").isNull() | (F.col("b_n") != F.col("n_events"))).count()
        == 0
    )
    # the un-emitted remainder is only the watermark tail
    got = emitted.agg(F.sum("n_events")).collect()[0][0]
    assert got >= events.count() * 0.9


def test_stream_stream_join_matches_batch_range_join(spark, sf_dir, tmp_path):
    """Watermarked stream-stream attribution join (RocksDB state store)
    must emit exactly the batch join_range_bucketed result once both
    streams drain."""
    from wiki_data_pipeline_spark.plans.registry import get
    from wiki_data_pipeline_spark.streaming.jobs import (
        run_stream_stream_attribution_join,
        stage_events_as_stream_source,
    )

    src = str(tmp_path / "ss_src")
    stage_events_as_stream_source(spark, sf_dir, src, n_files=3)

    run_stream_stream_attribution_join(
        spark, src, str(tmp_path / "ss_ckpt"), query_name="t_ss_join"
    )
    got = spark.sql("SELECT view_id, purchase_id FROM t_ss_join")
    expected = get("join_range_bucketed").fn(spark, sf_dir)
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0
    # the RocksDB provider conf must not leak into the shared session
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass", None) is None
    )


def test_streaming_dedup_within_watermark(spark, sf_dir, tmp_path):
    """Duplicated source files (a replay) must still emit each event_id
    once — streaming dedup with bounded (watermarked) state."""
    import os

    from wiki_data_pipeline_spark.io import read_table
    from wiki_data_pipeline_spark.streaming.jobs import run_streaming_dedup

    src = str(tmp_path / "dedup_src")
    os.makedirs(src, exist_ok=True)
    events = read_table(spark, sf_dir, "events").limit(500)
    # same rows staged twice = an at-least-once replay
    events.coalesce(1).write.mode("append").parquet(src)
    events.coalesce(1).write.mode("append").parquet(src)

    run_streaming_dedup(spark, src, str(tmp_path / "dedup_ckpt"), query_name="t_dedup")
    got = spark.sql("SELECT event_id, count(*) c FROM t_dedup GROUP BY event_id")
    assert got.filter("c > 1").count() == 0
    assert got.count() == events.count()


def test_streaming_ohlc_matches_batch(spark, sf_dir, tmp_path):
    from wiki_data_pipeline_spark.streaming.jobs import run_streaming_minute_ohlc

    src = str(tmp_path / "src")
    stage_events_as_stream_source(spark, sf_dir, src, n_files=3)
    run_streaming_minute_ohlc(
        spark, src, str(tmp_path / "ckpt"), query_name="t_ohlc"
    )
    emitted = spark.table("t_ohlc")

    events = read_table(spark, sf_dir, "events")
    key = F.concat(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    batch = events.groupBy(
        F.date_trunc("minute", "ts").alias("minute_start"), "event_type"
    ).agg(
        F.count("*").alias("b_n"),
        F.min_by("value", key).alias("b_open"),
        F.max_by("value", key).alias("b_close"),
        F.max("value").alias("b_high"),
        F.min("value").alias("b_low"),
    )
    joined = emitted.join(batch, on=["minute_start", "event_type"], how="left")
    bad = joined.filter(
        F.col("b_n").isNull()
        | (F.col("b_n") != F.col("n_events"))
        | (F.col("b_open") != F.col("open_value"))
        | (F.col("b_close") != F.col("close_value"))
        | (F.col("b_high") != F.col("high_value"))
        | (F.col("b_low") != F.col("low_value"))
    )
    assert bad.count() == 0
    # only the ≤watermark tail may be withheld in append mode
    got = emitted.agg(F.sum("n_events")).collect()[0][0]
    assert got is not None and got >= events.count() * 0.9


def test_streaming_incremental_dedup_matches_batch(spark, sf_dir, tmp_path):
    """Continuous-ingest dedup: stage the dedup corpus as two in-order
    files (existing corpus, then the synthesized duplicates), run the
    foreachBatch probe, and assert the boundary-crossing pairs equal
    the batch dedup_incremental_minhash result."""
    import os
    import time

    from wiki_data_pipeline_spark.plans.llm_ops import (
        _INCR_SPLIT,
        _dedup_corpus,
    )
    from wiki_data_pipeline_spark.streaming.jobs import (
        run_streaming_incremental_dedup,
    )

    src = str(tmp_path / "src")
    corpus = _dedup_corpus(spark, sf_dir)
    old = corpus.filter(F.col("doc_id") < _INCR_SPLIT)
    new = corpus.filter(F.col("doc_id") >= _INCR_SPLIT)
    old.coalesce(1).write.parquet(src)
    # second file must sort after the first by modification time
    time.sleep(1.1)
    new.coalesce(1).write.mode("append").parquet(src)
    newest = max(
        (os.path.join(src, f) for f in os.listdir(src) if f.endswith(".parquet")),
        key=os.path.getmtime,
    )
    now = time.time()
    os.utime(newest, (now + 5, now + 5))

    run_streaming_incremental_dedup(
        spark,
        src,
        str(tmp_path / "ckpt"),
        str(tmp_path / "store"),
        str(tmp_path / "pairs"),
    )
    got = (
        spark.read.parquet(str(tmp_path / "pairs"))
        .select("new_doc", "existing_doc")
        .distinct()
    )
    from wiki_data_pipeline_spark.plans.registry import get

    expected = get("dedup_incremental_minhash").fn(spark, sf_dir)
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0
    assert got.count() > 0

    # Retry idempotence (the at-least-once worst case): replay EVERY
    # batch with the signature store already fully populated — a fresh
    # checkpoint forces full re-execution, mimicking a retry that runs
    # after its own store/batch=N write landed. The store probe filters
    # to strictly prior batches, so the re-run must reproduce the same
    # pairs — in particular no self-pairs from a batch seeing its own
    # (or later) signatures.
    run_streaming_incremental_dedup(
        spark,
        src,
        str(tmp_path / "ckpt_retry"),
        str(tmp_path / "store"),
        str(tmp_path / "pairs"),
    )
    replayed = (
        spark.read.parquet(str(tmp_path / "pairs"))
        .select("new_doc", "existing_doc")
        .distinct()
    )
    assert replayed.exceptAll(expected).count() == 0
    assert expected.exceptAll(replayed).count() == 0
    assert (
        replayed.filter(F.col("new_doc") == F.col("existing_doc")).count()
        == 0
    )


def test_streaming_daily_ewma_matches_batch(spark, sf_dir, tmp_path):
    """Stream ≡ batch for the exact-integer EWMA: the stateful
    streaming twin's FINAL emission per (type, day) must equal the
    registered ts_ewma_daily batch rows bitwise (same BIGINT
    arithmetic on both paths)."""
    from wiki_data_pipeline_spark.plans.registry import get
    from wiki_data_pipeline_spark.streaming.jobs import (
        run_streaming_daily_ewma,
        stage_events_as_stream_source,
    )

    src = str(tmp_path / "src")
    stage_events_as_stream_source(spark, sf_dir, src, n_files=3)
    run_streaming_daily_ewma(
        spark, src, str(tmp_path / "ckpt"), query_name="t_daily_ewma"
    )
    final = spark.sql(
        """
        SELECT event_type, day, n_events, ewma_micro FROM (
          SELECT *, row_number() OVER (
            PARTITION BY event_type, day ORDER BY n_total DESC) rn
          FROM t_daily_ewma) WHERE rn = 1
        """
    )
    batch = get("ts_ewma_daily").fn(spark, sf_dir)
    f = {(r.event_type, r.day): (r.n_events, r.ewma_micro) for r in final.collect()}
    b = {(r.event_type, r.day): (r.n_events, r.ewma_micro) for r in batch.collect()}
    assert f == b


def test_streaming_cms_merge_matches_batch(spark, sf_dir, tmp_path):
    """Mergeable-sketch proof: per-micro-batch partial Count-Min
    sketches, summed elementwise at read time, reproduce the
    registered batch heavy-hitter estimates exactly."""
    from wiki_data_pipeline_spark.plans.registry import get
    from wiki_data_pipeline_spark.streaming.jobs import (
        read_merged_cms,
        run_streaming_cms_maintenance,
        stage_events_as_stream_source,
    )

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    stage_events_as_stream_source(spark, sf_dir, src, n_files=3)
    run_streaming_cms_maintenance(
        spark, src, str(tmp_path / "ckpt"), store, query_name="t_cms"
    )
    merged = read_merged_cms(spark, store)

    batch_rows = get("sketch_count_min_heavy_hitters").fn(spark, sf_dir).collect()
    sketch = {(r.row_id, r.bucket): r.cnt for r in merged.collect()}

    import hashlib

    def bucket(uid, r):
        h = hashlib.md5(f"{uid}#{r}".encode()).hexdigest()
        return int(h[:8], 16) % 1024

    for r in batch_rows:
        est = min(sketch[(d, bucket(r.user_id, d))] for d in range(3))
        assert est == r.est_count, (r.user_id, est, r.est_count)


def test_progress_listener_records_batches(spark, sf_dir, tmp_path):
    """Per-batch progress emitter (reference src/logging_manager.py:84-88
    progress surface): a StreamingQueryListener captures one row per
    micro-batch with name/batch_id/input rows/duration, appended to a
    JSONL metrics table that reloads as a typed DataFrame."""
    from wiki_data_pipeline_spark.streaming.progress import (
        ProgressRecorder,
        metrics_df,
    )

    src = str(tmp_path / "src")
    stage_events_as_stream_source(spark, sf_dir, src, n_files=3)
    metrics_path = str(tmp_path / "metrics.jsonl")
    rec = ProgressRecorder(metrics_path=metrics_path)
    spark.streams.addListener(rec)
    try:
        run_tumbling_agg(
            spark,
            src,
            str(tmp_path / "ckpt"),
            query_name="t_progress",
            max_files_per_trigger=1,
        )
        # delivery is async: all 3 file-batches must land before the
        # listener is removed, or later events are silently dropped
        assert rec.wait_for_rows(3), "progress events not delivered in 30s"
    finally:
        spark.streams.removeListener(rec)

    rows = [r for r in rec.snapshot() if r["query_name"] == "t_progress"]
    assert rows, rec.snapshot()
    # 3 staged files at maxFilesPerTrigger=1 → ≥3 data micro-batches
    assert len({r["batch_id"] for r in rows}) >= 3
    total_in = sum(r["num_input_rows"] for r in rows)
    from wiki_data_pipeline_spark.io import read_table as _rt

    assert total_in == _rt(spark, sf_dir, "events").count()
    assert all(
        r["trigger_duration_ms"] is not None and r["trigger_duration_ms"] >= 0
        for r in rows
    )
    assert ("started", rows[0]["query_id"]) in rec.lifecycle

    mdf = metrics_df(spark, metrics_path)
    got = mdf.filter(mdf.query_name == "t_progress")
    # the file may hold one MORE row than the snapshot (a trailing
    # empty-batch event can land between wait and removeListener) —
    # assert on the data batches, which are fully determined
    file_data_batches = {
        r.batch_id for r in got.collect() if r.num_input_rows > 0
    }
    assert file_data_batches >= {
        r["batch_id"] for r in rows if r["num_input_rows"] > 0
    }
    assert got.schema["num_input_rows"].dataType.typeName() == "long"
