"""Structured Streaming jobs (reference ST1-ST4/ST8-ST9 mapped to real
streams; SURVEY.md §2.9).

The reference's cursor-paginated micro-batching (gapcontinue loop,
src/mediawiki_client.py:71-110) ≡ a file-source stream with
``maxFilesPerTrigger`` admission; its JSON checkpoint/queue files ≡
``checkpointLocation`` offset/commit logs; its dead-letter list ≡ a
filtered side sink inside ``foreachBatch``.

Each runner is a transform over ``io.read_stream`` plus ``drain``
(``trigger(availableNow=True)``: process everything pending, then stop;
a rerun processes ONLY new files — the reference's resume semantics).
Admission is fixed per runner because the watermark drops rows of
later batches as late data: 16 files (one batch) for the watermarked,
stream-static and transformWithState runners, 1 file per batch for the
dead-letter, stateful, EWMA, CMS and incremental-dedup runners, whose
state and per-batch sinks must cross batch boundaries."""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from wiki_data_pipeline_spark.io import read_stream, read_table
from wiki_data_pipeline_spark.session import scoped_conf, worker_zip_guard
from wiki_data_pipeline_spark.streaming import drain

WATERMARK = "2 hours"
SESSION_GAP = "30 minutes"
EWMA_LAGS = 8
DLQ_MIN_VALUE = 10.0
ROCKSDB_STATE_STORE = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
}


def run_tumbling_agg(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str = "stream_tumbling",
    max_files_per_trigger: int = 16,
    sink_dir: str | None = None,
) -> None:
    """Watermarked tumbling-window aggregation → memory sink (tests) or
    parquet file sink (``sink_dir`` — the fault-tolerant form that also
    supports checkpoint RECOVERY, which the memory sink does not).
    Late rows beyond the watermark are dropped — the late-data story
    the reference never had. Append mode: a window emits once the
    watermark passes its end; availableNow drains everything pending.

    NOTE on admission order: with per-file triggers and files NOT
    ordered by event time, the advancing watermark legitimately drops
    most of the later files as late data — that's correct streaming
    semantics. Callers staging unordered files should admit them in
    one batch (default here) or stage in event-time order."""
    events = read_stream(spark, source_dir, max_files_per_trigger)
    agg = (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    if sink_dir is not None:
        drain(agg, checkpoint_dir, path=sink_dir)
    else:
        drain(agg, checkpoint_dir, query_name=query_name)


def run_dead_letter_split(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    ok_dir: str,
    dlq_dir: str,
) -> None:
    """Dead-letter routing on a stream (ST4): one foreachBatch splits
    each micro-batch into an ok sink and an error-tagged DLQ sink —
    the reference's mark_failed list (src/queue_manager.py:80-84), but
    the error reason is PERSISTED (fixing bug §2.11).

    Delivery: foreachBatch is at-least-once, so each sink writes to a
    ``batch_id=N`` subdirectory with OVERWRITE — a micro-batch replayed
    after a crash between the writes and the offset commit rewrites the
    same directory instead of appending duplicates, making the
    composition effectively exactly-once. Readers use the sink root;
    parquet partition discovery surfaces batch_id as a column."""
    events = read_stream(spark, source_dir, 1)

    def _split(batch: DataFrame, batch_id: int) -> None:
        # Two sink actions on one micro-batch: cache so the source is
        # scanned once, not once per action (2× read amplification
        # otherwise — visible as doubled numInputRows in progress). A
        # failed write must not leak the cache into the session.
        batch = batch.cache()
        try:
            ok = batch.filter(F.col("value") >= DLQ_MIN_VALUE)
            dlq = batch.filter(F.col("value") < DLQ_MIN_VALUE).withColumn(
                "error",
                F.concat(
                    F.lit("value_below_threshold: "), F.col("value").cast("string")
                ),
            )
            ok.write.mode("overwrite").parquet(
                os.path.join(ok_dir, f"batch_id={batch_id}")
            )
            dlq.write.mode("overwrite").parquet(
                os.path.join(dlq_dir, f"batch_id={batch_id}")
            )
        finally:
            batch.unpersist()

    drain(events, checkpoint_dir, foreach_batch=_split)


USER_STATE_SCHEMA = "user_id bigint, n_events bigint, total_value double"


def run_stateful_user_counts(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str = "stream_user_state",
) -> None:
    """Custom stateful operator via applyInPandasWithState: running
    per-user event count + value sum maintained in GroupState across
    micro-batches (the §2.10 'engine adds a UDAF surface' extension;
    the reference kept comparable running counters driver-side, A4).

    The update function is self-contained (pickled by value)."""
    events = read_stream(spark, source_dir, 1)
    guard = worker_zip_guard()

    def _update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        guard()
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    result = events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=USER_STATE_SCHEMA,
        stateStructType="n bigint, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drain(result, checkpoint_dir, query_name=query_name, output_mode="update")


def stage_events_as_stream_source(
    spark: SparkSession, sf_dir: str, source_dir: str, n_files: int = 4
) -> int:
    """Test helper: materialize the fixture events table into N parquet
    files (the 'pages' the stream will admit one per trigger)."""
    events = read_table(spark, sf_dir, "events")
    events.repartitionByRange(n_files, "event_id").write.mode("overwrite").parquet(
        source_dir
    )
    return len([f for f in os.listdir(source_dir) if f.endswith(".parquet")])


def run_stream_static_enrichment(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    static_dim: DataFrame,
    query_name: str = "stream_enriched",
) -> None:
    """Stream-static broadcast enrichment: the streaming analog of J1
    (src/main.py:101-110 — per-row content lookup against a reference
    table). The static dim is broadcast to every micro-batch; no state,
    no watermark needed — at scale this is the standard pattern for
    joining a 100 TB event stream against slowly-changing dimensions."""
    events = read_stream(spark, source_dir, 16)
    enriched = events.join(F.broadcast(static_dim), on="user_id", how="left").select(
        "event_id",
        "user_id",
        "event_type",
        F.coalesce("user_rank", F.lit(-1)).alias("user_rank"),
    )
    drain(enriched, checkpoint_dir, query_name=query_name)


def run_stateful_user_counts_tws(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str = "stream_user_state_tws",
) -> None:
    """Running per-user counters via ``transformWithStateInPandas`` —
    the Spark 4 arbitrary-state API twin of
    ``run_stateful_user_counts`` (same semantics, richer state
    surface: typed ValueState/ListState/MapState + timers vs
    applyInPandasWithState's single tuple). Requires the RocksDB state
    store; the conf is set for the query and restored after.

    The processor class is defined inside this function so cloudpickle
    ships it by value (workers never import this package).

    Dependency gate: the transformWithState protocol talks to the JVM
    via protobuf; environments without ``protobuf`` get a clear error
    here instead of a crashed driver-side worker mid-query
    (applyInPandasWithState — run_stateful_user_counts — has no such
    dependency and is the fallback)."""
    try:
        from google.protobuf import descriptor as _descriptor  # noqa: F401
    except ImportError as e:
        raise RuntimeError(
            "transformWithStateInPandas requires the 'protobuf' package "
            "(pyspark's TWS state protocol); use run_stateful_user_counts "
            "(applyInPandasWithState) where it is unavailable"
        ) from e
    with scoped_conf(spark, ROCKSDB_STATE_STORE):
        from pyspark.sql.streaming.stateful_processor import StatefulProcessor

        class UserCountProcessor(StatefulProcessor):
            def init(self, handle):
                self._state = handle.getValueState(
                    "agg", "n bigint, total double"
                )

            def handleInputRows(self, key, rows, timer_values):
                import pandas as pd  # noqa: PLC0415 (worker-side import)

                prior = self._state.get()
                n, total = prior if prior is not None else (0, 0.0)
                for pdf in rows:
                    n += len(pdf)
                    total += float(pdf["value"].sum())
                self._state.update((n, total))
                yield pd.DataFrame(
                    {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
                )

            def close(self):
                pass

        events = read_stream(spark, source_dir, 16)
        result = events.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=UserCountProcessor(),
            outputStructType=USER_STATE_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
        drain(result, checkpoint_dir, query_name=query_name, output_mode="update")


def run_streaming_session_agg(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str = "stream_sessions",
) -> None:
    """Session-window aggregation on a stream (the streaming twin of
    the batch ``window_session_30m`` query): per-user sessions close
    after ``SESSION_GAP`` of inactivity; a session is emitted once the
    watermark passes its end, so output is append-mode and final — no
    retractions. Session state is MERGING state (windows coalesce as
    late-but-in-watermark rows arrive) and is evicted at the
    watermark, so state size tracks active sessions only — the
    unbounded-session-table problem the reference's driver-side
    sessionization would hit at 100 TB never materializes."""
    events = read_stream(spark, source_dir, 16)
    sessions = (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )
    drain(sessions, checkpoint_dir, query_name=query_name)


def run_stream_stream_attribution_join(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str = "stream_attribution",
) -> None:
    """Stream-stream inner join with watermarks on BOTH sides: views
    attributed to purchases by the same user within the preceding hour
    — the streaming twin of the batch ``join_range_bucketed`` query
    (identical output columns/semantics, asserted by test).

    Both sides are watermarked so Spark derives a state-eviction bound
    from the time-range join condition: a buffered view can be dropped
    once the purchase-side watermark passes ``v_ts + 1 hour`` — state
    is bounded by the interval width + watermark delay, NOT by stream
    length. That bound is what makes this run forever at 100 TB; an
    un-watermarked stream-stream join buffers both streams in full.

    State store: the RocksDB provider keeps join state off-heap and
    spillable — at large state (wide watermark × hot users) the default
    in-memory HDFS-backed store OOMs executors, RocksDB does not
    (``ROCKSDB_STATE_STORE``, set for this query only)."""
    with scoped_conf(spark, ROCKSDB_STATE_STORE):
        events = read_stream(spark, source_dir, 16)
        views = (
            events.filter(F.col("event_type") == "view")
            .select(
                F.col("event_id").alias("view_id"),
                F.col("user_id").alias("v_user"),
                F.col("ts").alias("v_ts"),
            )
            .withWatermark("v_ts", WATERMARK)
        )
        purchases = (
            events.filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", WATERMARK)
        )
        joined = views.join(
            purchases,
            (F.col("v_user") == F.col("p_user"))
            & (F.col("v_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("v_ts") <= F.col("p_ts")),
        ).select("view_id", "purchase_id")
        drain(joined, checkpoint_dir, query_name=query_name)


def run_streaming_dedup(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str = "stream_dedup",
) -> None:
    """Streaming exact-dedup (the F9/dedup_exact family applied to a
    live stream): dropDuplicatesWithinWatermark keys on event_id and
    keeps dedup state only within the watermark horizon — bounded
    state at 100 TB, unlike an ever-growing seen-set. Duplicates
    arriving across micro-batches (or replayed files) are emitted
    exactly once."""
    events = read_stream(spark, source_dir, 16)
    deduped = events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    drain(deduped, checkpoint_dir, query_name=query_name)


def run_streaming_minute_ohlc(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str = "stream_ohlc",
) -> None:
    """Streaming twin of the ``events_minute_ohlc`` batch query:
    watermarked per-minute OHLC bars per event_type. open/close use
    min_by/max_by over the same fixed-width (timestamp ++ event_id)
    sort key as the batch plan, so a drained availableNow run emits
    exactly the batch bars — asserted by
    tests/test_streaming.py::test_streaming_ohlc_matches_batch.
    min_by/max_by are ordinary declarative aggregates, so they carry
    O(1) per-group streaming state like count/sum (no
    flatMapGroupsWithState needed for first/last-in-window)."""
    events = read_stream(spark, source_dir, 16)
    key = F.concat(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    agg = (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 minute").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.min_by("value", key).alias("open_value"),
            F.max_by("value", key).alias("close_value"),
            F.max("value").alias("high_value"),
            F.min("value").alias("low_value"),
        )
        .select(
            F.col("w.start").alias("minute_start"),
            "event_type",
            "n_events",
            "open_value",
            "close_value",
            "high_value",
            "low_value",
        )
    )
    drain(agg, checkpoint_dir, query_name=query_name)


def run_streaming_incremental_dedup(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    pairs_dir: str,
) -> None:
    """Continuous-ingest near-dedup — the streaming form of
    ``plans/llm_ops.dedup_incremental_minhash`` (reference F9
    dedup-on-insert, src/queue_manager.py:52-58, upgraded to near-dup
    content identity): each arriving micro-batch of documents is
    MinHash-banded with the SAME ``_minhash_bands`` expression as the
    batch path, probed against the persisted (band, sig, doc_id)
    signature store, and then added to the store. Detected
    (new_doc, existing_doc) pairs land under
    ``pairs_dir/batch=N`` and the batch's signatures under
    ``store_dir/batch=N`` — per-batch OVERWRITE into a batch_id
    partition makes a foreachBatch retry idempotent (exactly-once
    effect over at-least-once execution, the ST3 discipline).

    Scale: the batch side shingles only its own docs (narrow,
    batch-sized); the store is the persistable banded artifact — at
    100 TB it lives bucketed by (band, sig) so the probe join
    shuffles ONLY the new batch, never the store. Store growth is
    signatures (m hashes/doc), not text."""
    from wiki_data_pipeline_spark.plans.llm_ops import _minhash_bands

    stream = read_stream(spark, source_dir, 1)

    def _probe(batch: DataFrame, batch_id: int) -> None:
        from pyspark.errors.exceptions.captured import AnalysisException

        sess = batch.sparkSession
        # Cache the computed signatures: both sink actions (pairs +
        # store append) consume them, and without a cache each action
        # re-scans the source AND re-computes the shingle→minhash
        # stage — the most expensive part of the batch.
        bands = (
            _minhash_bands(batch.select("doc_id", "text"))
            .select("band_idx", "sig", "doc_id")
            .cache()
        )
        try:
            try:
                # Retry-idempotence: a foreachBatch retry may run AFTER
                # this batch's own store_dir/batch=N write landed but
                # before the checkpoint committed; restricting the probe
                # to strictly prior batches keeps the re-run's view
                # identical to the first attempt's (no spurious
                # self/within-batch pairs).
                store = (
                    sess.read.parquet(store_dir)
                    .filter(F.col("batch") < F.lit(batch_id))
                    .select(
                        "band_idx", "sig", F.col("doc_id").alias("existing_doc")
                    )
                )
                pairs = (
                    bands.join(store, on=["band_idx", "sig"])
                    .select(
                        F.col("doc_id").alias("new_doc"),
                        "existing_doc",
                    )
                    .distinct()
                )
            except AnalysisException:  # first batch: no store yet
                pairs = (
                    bands.select(
                        F.col("doc_id").alias("new_doc"),
                        F.col("doc_id").alias("existing_doc"),
                    ).limit(0)
                )
            pairs.write.mode("overwrite").parquet(
                f"{pairs_dir}/batch={batch_id}"
            )
            bands.write.mode("overwrite").parquet(
                f"{store_dir}/batch={batch_id}"
            )
        finally:
            # a failed write must not leak the cache into the session
            bands.unpersist()

    drain(stream, checkpoint_dir, foreach_batch=_probe)


EWMA_OUT_SCHEMA = (
    "event_type string, day string, n_events bigint, ewma_micro bigint,"
    " n_total bigint"
)


def run_streaming_daily_ewma(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str = "stream_daily_ewma",
) -> None:
    """Streaming twin of the batch ``ts_ewma_daily`` query (§2.9 +
    §2.10 stateful-UDAF surface): per event_type, GroupState holds the
    (day → count) vector across micro-batches; every batch merges its
    arrivals and re-emits the exact-integer EWMA series (alpha = 1/2 →
    power-of-two weights, the same pure-BIGINT half-up arithmetic as
    the batch plan, so stream ≡ batch is bitwise, not approximate).

    State is bounded by the retention horizon (|days| per key — a
    production job would evict days older than the EWMA window plus
    watermark; kept whole here because re-emission of corrected
    history is the point of the twin). Each emission carries n_total
    (monotone per key) so readers of the update-mode sink can select
    the final emission per (type, day)."""
    events = read_stream(spark, source_dir, 1)
    guard = worker_zip_guard()

    def _update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        guard()
        days, counts = ([], []) if not state.exists else [
            list(x) for x in state.get
        ]
        acc = dict(zip(days, counts))
        for pdf in pdfs:
            per_day = (
                pd.to_datetime(pdf["ts"]).dt.strftime("%Y-%m-%d").value_counts()
            )
            for day, cnt in per_day.items():
                acc[day] = acc.get(day, 0) + int(cnt)
        ordered = sorted(acc.items())
        state.update((
            [d for d, _ in ordered],
            [c for _, c in ordered],
        ))
        n_total = sum(acc.values())
        rows = []
        for i, (day, cnt) in enumerate(ordered):
            window = [c for _, c in ordered[max(0, i - (EWMA_LAGS - 1)): i + 1]]
            num = sum(c << p for p, c in enumerate(window))
            den = (1 << len(window)) - 1
            rows.append(
                (
                    key[0],
                    day,
                    cnt,
                    (2 * 1_000_000 * num + den) // (2 * den),
                    n_total,
                )
            )
        yield pd.DataFrame(
            rows,
            columns=["event_type", "day", "n_events", "ewma_micro", "n_total"],
        )

    result = events.groupBy("event_type").applyInPandasWithState(
        _update,
        outputStructType=EWMA_OUT_SCHEMA,
        stateStructType="days array<string>, counts array<bigint>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drain(result, checkpoint_dir, query_name=query_name, output_mode="update")


def run_streaming_cms_maintenance(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    query_name: str = "stream_cms",
) -> None:
    """Incremental Count-Min sketch maintenance (§2.9 + the sketch
    family's mergeability claim, PROVEN in streaming form): each
    micro-batch aggregates its own d×w partial sketch and writes it as
    ``store_dir/batch=N`` (idempotent per-batch overwrite — the
    incremental-dedup store discipline); the full sketch is the
    elementwise SUM over batch partitions at read time (merge-on-read,
    exactly the counter-matrix monoid the batch query's docstring
    promises). The stream ≡ batch test recomputes heavy-hitter
    estimates from the merged store and matches the registered
    ``sketch_count_min_heavy_hitters`` output row-for-row."""
    from pyspark.sql.functions import concat, conv, count, lit, substring

    events = read_stream(spark, source_dir, 1)

    def _bucket(col, r: int):
        return (
            conv(
                substring(
                    F.md5(concat(col.cast("string"), lit(f"#{r}"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % 1024
        )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # 3 hash-row branches union over the same micro-batch: cache so
        # the source is scanned once, not once per union branch.
        # A failed write must not leak the cache into the session.
        batch_df = batch_df.cache()
        try:
            partial = None
            for r in range(3):
                b = batch_df.groupBy(
                    lit(r).alias("row_id"),
                    _bucket(F.col("user_id"), r).alias("bucket"),
                ).agg(count("*").alias("cnt"))
                partial = b if partial is None else partial.unionAll(b)
            partial.write.mode("overwrite").parquet(
                os.path.join(store_dir, f"batch={batch_id}")
            )
        finally:
            batch_df.unpersist()

    drain(events, checkpoint_dir, query_name=query_name, foreach_batch=_sink)


def read_merged_cms(spark: SparkSession, store_dir: str) -> DataFrame:
    """Merge-on-read of the per-batch partial sketches: elementwise sum
    over the batch partitions → the same (row_id, bucket, cnt) matrix a
    single-pass batch build produces (counter monoid)."""
    return (
        spark.read.parquet(store_dir)
        .groupBy("row_id", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
