"""End-to-end batch pipeline — the reference's top-level user API
(src/main.py:194-228 ``run()``: populate → process → validate → batch
→ sink → checkpoint → summary), recomposed as ONE declarative Spark
job over the document corpus.

Reference flow mapped (SURVEY.md §3 entry point 1):

- populate_queue + --limit (S1/L1, src/main.py:63-85)  →  scan +
  ``limit`` pushdown; the work queue IS the incremental scan.
- resume short-circuit (ST2, src/main.py:68-72)  →  high-watermark
  predicate (`streaming/checkpoint.py`): rerun cost ∝ NEW rows only.
- per-row fetch→process→validate loop (src/main.py:99-135)  →  the
  F7 validate split + T1 normalize projection, whole-stage-codegen'd.
- mark_failed dead-letters (ST4, src/main.py:122-133 — the reference
  DROPS the error reason, §2.11)  →  invalid rows keep an ``error``
  column and append to a dead-letter parquet table.
- batch flush + K1 JSON sink (L4/K1, src/main.py:137-142)  →
  `sinks/per_record_json.py` (range sort, consecutive ids from JVM
  per-partition counts, batch_NNN dirs, idempotent overwrite).
- final checkpoint + summary (src/main.py:157-167, 213-221)  →
  watermark commit AFTER the sink succeeds (at-least-once +
  idempotent sink ≡ ST3), then an A2-style summary dict.

The streaming twin (``run_pipeline_streaming``) runs the same record
path per micro-batch: one shaping function (``_article_records`` —
validate, normalize, optional fetch stage, as one frame with an
``error`` column) and one JSON writer
(``sinks/per_record_json._make_writer``) serve both runners, so batch
and streaming records cannot drift apart.

With enrichment, one batch run scans the corpus once and fetches once:
the fetch carries the record columns through (no join back to the
corpus), the fetched frame is persisted for the run, and the sink's
range sort and the dead-letter write both read that cache.

At 100 TB: everything before the sink is narrow (no shuffle, no
broadcast); the sink's range-repartition is the only exchange. Resume
is a pushed-down range predicate — no driver-side work list, no
per-row state writes (the reference rewrote its queue JSON on EVERY
row, §2.11's O(n²) I/O).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from wiki_data_pipeline_spark.functions.text import build_url, is_valid_content
from wiki_data_pipeline_spark.io import read_table
from wiki_data_pipeline_spark.sinks.per_record_json import (
    DIRECTORY_PATTERN,
    FILE_PATTERN,
    _make_writer,
    write_per_record_json_with_watermark,
)
from wiki_data_pipeline_spark.streaming.checkpoint import HighWatermarkCheckpoint


def _article_records(rows: DataFrame, enrichment: dict | None) -> DataFrame:
    """The record path both runners share: F7 validate split, T1
    normalize projection and the optional rate-limited fetch stage, as
    ONE frame. Columns: the JSON record in key order (``doc_id, title,
    url, content, author, content_length, lang, source``, plus
    ``api_content, attempts`` with ``enrichment``), then ``error``.
    ``error`` is null for rows to write; a validation failure sets it
    in the JVM projection (null text fails validation too).

    ``enrichment`` — kwargs for ``operators.enrichment.fetch_enrich``
    (the config ``enrichment`` section as a dict) — enables the
    reference's per-article API fetch through
    ``operators.enrichment.fetch_records``: each valid row is fetched
    under the QPS/retry contract and gains ``api_content`` and
    ``attempts``; a retry-exhausted fetch sets ``error`` to
    ``fetch_failed: <msg>`` and drops the row's ``source`` (reference
    mark_failed, src/main.py:122-133). The fetch is side-effectful, so
    a caller that reads the frame more than once persists it first."""
    title = F.concat(F.lit("Doc "), F.col("doc_id"))
    records = rows.select(
        "doc_id",
        title.alias("title"),
        build_url(title).alias("url"),
        F.col("text").alias("content"),
        F.lit(None).cast("string").alias("author"),
        F.length("text").cast("bigint").alias("content_length"),
        "lang",
        "source",
        F.when(
            ~is_valid_content("text"),
            F.lit("validation_failed: empty or null content"),
        ).alias("error"),
    )
    if enrichment is None:
        return records

    from wiki_data_pipeline_spark.operators.enrichment import fetch_records

    # `source_name` labels fetch_enrich's stub output; a record keeps
    # its doc's source
    kwargs = {k: v for k, v in enrichment.items() if k != "source_name"}
    fetched = fetch_records(records, **kwargs)
    # a row was fetched iff `attempts` is set, and failed iff `error` is too
    failed = F.col("attempts").isNotNull() & F.col("error").isNotNull()
    return fetched.withColumns(
        {
            "source": F.when(~failed, F.col("source")),
            "error": F.when(failed, F.concat(F.lit("fetch_failed: "), "error"))
            .otherwise(F.col("error")),
        }
    )


def _split(records: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``(ok, dlq)`` over one record frame: the JSON records, and the
    dead-letter rows (``doc_id``, ``source``, ``error``)."""
    ok = records.filter(F.col("error").isNull()).drop("error")
    dlq = records.filter(F.col("error").isNotNull()).select(
        "doc_id", "source", "error"
    )
    return ok, dlq


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    limit: int | None = None,
    reset: bool = False,
    batch_size: int = 1000,
    docs: DataFrame | None = None,
    file_pattern: str = FILE_PATTERN,
    directory_pattern: str = DIRECTORY_PATTERN,
    enrichment: dict | None = None,
    fault_injector=None,
    sink_task_fault_injector=None,
) -> dict:
    """Run the article pipeline; returns the summary dict (reference
    src/main.py:213-221 shape). ``docs`` overrides the corpus for
    tests; default reads ``documents`` from ``sf_dir``.

    Single writer: the whole run (reset through watermark commit)
    holds the checkpoint lease, so a second concurrent invocation on
    the same ``out_dir`` fails fast with ``CheckpointLeaseError``
    instead of double-processing the same delta or interleaving
    watermark commits — the fencing the reference's one-process JSON
    checkpoint silently assumes (src/checkpoint_manager.py:39-47).

    ``file_pattern``/``directory_pattern`` are the reference naming
    knobs (config.yaml ``naming``). ``enrichment``: see
    :func:`_article_records`.

    ``fault_injector``: test-only crash hook called AFTER both sink
    writes but BEFORE the watermark commit — raising from it models a
    driver death in the at-least-once window; the rerun re-selects the
    same pending rows (watermark unmoved) and must reproduce the exact
    same output (same file numbering from the uncommitted
    total_processed, same dead-letter rows via the watermark-keyed
    overwrite directory)."""
    ckpt = HighWatermarkCheckpoint(
        os.path.join(out_dir, "_checkpoint", "progress.json")
    )
    with ckpt.lease():
        if reset:
            if os.path.exists(ckpt.path):
                os.remove(ckpt.path)  # reference --reset, src/main.py:244-248
            # the dead-letter history is keyed by watermark; a reset run
            # reprocesses everything from since=-1 and would otherwise
            # leave the previous runs' since=<W> directories behind,
            # double-counting historical dead letters on a root read
            dlq_root = os.path.join(out_dir, "_dead_letter")
            if os.path.exists(dlq_root):
                shutil.rmtree(dlq_root)

        if docs is None:
            docs = read_table(spark, sf_dir, "documents")
        if limit is not None:
            # L1 early-exit: LocalLimit pushes below the scan; orderBy
            # keeps the "first N" deterministic like the reference's
            # FIFO queue.
            docs = docs.orderBy("doc_id").limit(limit)

        pending = ckpt.incremental(docs, "doc_id")

        records = _article_records(pending, enrichment)
        if enrichment is not None:
            # The fetch is rate-limited and side-effectful, and the
            # sink's range exchange samples by evaluating its whole
            # upstream: persist the fetched frame so the range sample,
            # the sort and the dead-letter write all read ONE fetch
            # pass. A lost cache block is recomputed from lineage.
            records = records.persist()
        # try covers EVERY action after the persist — the per-record
        # sink write included — so a failure anywhere in the run can't
        # leak the cached fetch pass into the long-lived session.
        try:
            ok, dlq = _split(records)
            # Continue the global file numbering where the last run
            # stopped (reference L3 consecutive indices across
            # batches/resumes).
            prev_state = ckpt.load()
            start_index = prev_state.total_processed
            n_written, max_ok = write_per_record_json_with_watermark(
                ok,
                out_dir,
                order_col="doc_id",
                batch_size=batch_size,
                start_index=start_index,
                file_pattern=file_pattern,
                directory_pattern=directory_pattern,
                task_fault_injector=sink_task_fault_injector,
            )
            # Single pass over the dead-letter split: the row count AND
            # the max doc_id ride an Observation on the write job
            # instead of separate scans (at 100 TB the old
            # count-then-write recomputed the filter twice).
            dlq_obs = Observation("dlq")
            # Dead-letter dir is keyed by the watermark this run STARTED
            # from and written with overwrite: a retry of a crashed run
            # (sink written, commit missed) starts from the same
            # watermark, hits the same directory, and overwrites instead
            # of appending duplicates — the batch analog of the
            # streaming runner's per-batch-id overwrite (a successful
            # run advances the watermark, so the next delta gets its own
            # directory and history is preserved).
            dlq.observe(
                dlq_obs, F.count(F.lit(1)).alias("n"), F.max("doc_id").alias("mx")
            ).write.mode("overwrite").parquet(
                os.path.join(
                    out_dir, "_dead_letter", f"since={prev_state.watermark}"
                )
            )
            n_failed = int(dlq_obs.get["n"])
            max_dlq = dlq_obs.get["mx"]
            if fault_injector is not None:
                # crash window: both sinks written, watermark commit pending
                fault_injector()
        finally:
            if enrichment is not None:
                records.unpersist()

        # Watermark covers ALL disposed rows (valid + dead-lettered) — a
        # failed doc above the max valid doc_id must not be re-selected
        # and re-dead-lettered forever (reference mark_failed
        # semantics). Both maxima came out of the two sink jobs
        # themselves, so the commit is O(1) — no third scan of the
        # pending set. total_processed still counts only sink-written
        # rows: it seeds the consecutive output-file numbering.
        candidates = [m for m in (max_ok, max_dlq) if m is not None]
        state = ckpt.commit_values(
            watermark=max(candidates) if candidates else None,
            n_disposed=n_written + n_failed,
            n_processed=n_written,
        )
    n_batches = (
        (start_index + n_written - 1) // batch_size - start_index // batch_size + 1
        if n_written
        else 0
    )
    return {
        "processed": n_written,
        "failed": n_failed,
        "batches": n_batches,
        "watermark": state.watermark,
        "total_processed": state.total_processed,
        "runs": state.runs,
        "status": "completed",
    }


def run_pipeline_streaming(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    max_files_per_trigger: int = 4,
    batch_size: int = 1000,
    metrics_path: str | None = None,
    enrichment: dict | None = None,
    fault_injector=None,
    sink_task_fault_injector=None,
    reset: bool = False,
) -> None:
    """Streaming twin of ``run_pipeline`` — ST1–ST4 composed as ONE
    Structured Streaming job: file-source micro-batches (ST1 ≡ the
    reference's gapcontinue pages), then per micro-batch the same
    :func:`_article_records` path and the same per-record JSON writer
    as the batch runner, plus a dead-letter sink, inside
    ``foreachBatch``; offsets live in ``checkpointLocation`` (ST2 —
    rerunning after new files arrive processes ONLY the delta).
    ``availableNow`` drains pending input then stops — batch-drain
    semantics for backfills. Dead letters land under
    ``out_dir/_dead_letter_stream`` (partition key ``batch_id``).

    Single writer: same fencing as the batch runner (a second
    concurrent drain of one ``out_dir`` raises ``CheckpointLeaseError``
    up front). Structured Streaming's own checkpoint log does NOT
    fence two concurrent ``availableNow`` queries on one
    checkpointLocation — they race the offset log. ``reset`` drops the
    offset log + streaming dead-letter history INSIDE the lease, so a
    ``--stream --reset`` invocation that loses the lease race fails
    fast WITHOUT having deleted a live run's offset log first.

    Sink naming differs from the batch runner BY DESIGN: the writer's
    index is the row's ``doc_id`` (``batch_{doc_id//batch_size}/
    article_{doc_id:06d}.json``) instead of a consecutive counter —
    a replayed micro-batch (failure between sink write and offset
    commit) must overwrite the exact same files for the at-least-once
    + idempotent-sink contract (ST3) to hold; a global counter can't
    replay deterministically.

    ``metrics_path``: when set, a per-batch progress row (batch_id,
    input rows, rates, trigger duration — the reference's
    ``log_progress`` surface, src/logging_manager.py:84-88) is appended
    to this JSONL metrics table via ``streaming.progress`` for the
    duration of the run.

    ``enrichment``: see :func:`_article_records`; in streaming form the
    per-partition QPS budget applies within each micro-batch (the
    reference's per-chunk pacing,
    src/enhanced_production_mediawiki_client.py:397-415). With the
    default deterministic fetcher a replayed batch rewrites identical
    bytes; an injected real fetcher is last-write-wins under replay —
    the inherent at-least-once contract for non-deterministic
    sources.

    ``fault_injector``: test-only crash hook, called with the batch_id
    AFTER the per-record sink write but BEFORE the dead-letter write /
    offset commit — raising from it kills the query at the exact
    mid-batch point the ST3 exactly-once claim must survive (sink
    output on disk, offset uncommitted → the restart REPLAYS the
    batch and must overwrite the same files byte-identically)."""
    # lock lives BESIDE the checkpoint dir (out_dir/_stream_runner.lock),
    # not inside it: the offset log stays exactly what Spark wrote, and
    # --reset's rmtree of _stream_checkpoint never races the lease file
    # (stale locks are reaped by pid-liveness, not by reset)
    lease_ckpt = HighWatermarkCheckpoint(
        os.path.join(out_dir, "_stream_runner")
    )
    with lease_ckpt.lease():
        if reset:
            # Fresh drain renumbers batches from 0; stale higher-id
            # dead-letter partitions would double-count on a root read.
            for sub in ("_stream_checkpoint", "_dead_letter_stream"):
                path = os.path.join(out_dir, sub)
                if os.path.exists(path):
                    shutil.rmtree(path)

        schema = spark.read.parquet(source_dir).schema
        docs = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(source_dir)
        )
        # Mode-distinct dead-letter root: the batch runner owns
        # out_dir/_dead_letter (partitioned since=<watermark>); the
        # streaming twin partitions by batch_id, and sharing one root
        # would make a root parquet read fail on mixed partition
        # columns — and batch --reset (which legitimately clears ITS
        # watermark-keyed history) would silently delete the streaming
        # history too.
        dlq_dir = os.path.join(out_dir, "_dead_letter_stream")
        # the executor-side hook kills a task attempt mid-partition; the
        # retry rewrites the same doc_id-derived paths, so ST3
        # idempotence must hold under task retries exactly as under
        # micro-batch replay
        write_rows = _make_writer(
            out_dir, batch_size, 0, "doc_id",
            task_fault_injector=sink_task_fault_injector,
        )

        def _write_batch(batch: DataFrame, batch_id: int) -> None:
            # Two consumers (ok sink + dead-letter sink) → without a
            # cache each action re-scans the micro-batch from source
            # (visible as numInputRows = 2× actual in the progress
            # metrics) and re-runs the fetch. A mid-batch failure (real
            # or injected) must not leak the cached batch into the
            # long-lived session.
            records = _article_records(batch, enrichment).persist()
            try:
                ok, dlq = _split(records)
                ok.rdd.map(lambda r: (r, r["doc_id"])).mapPartitions(
                    write_rows
                ).count()
                if fault_injector is not None:
                    # crash window: per-record files written, offset NOT
                    # committed — the ST3 replay-idempotence test point
                    fault_injector(batch_id)
                # Per-batch overwrite directory: replayed micro-batches
                # rewrite the same path instead of appending duplicates
                # (foreachBatch is at-least-once).
                dlq.write.mode("overwrite").parquet(
                    os.path.join(dlq_dir, f"batch_id={batch_id}")
                )
            finally:
                records.unpersist()

        recorder = None
        if metrics_path is not None:
            from wiki_data_pipeline_spark.streaming.progress import (
                ProgressRecorder,
            )

            recorder = ProgressRecorder(metrics_path=metrics_path)
            spark.streams.addListener(recorder)
        try:
            q = (
                docs.writeStream.foreachBatch(_write_batch)
                .option(
                    "checkpointLocation",
                    os.path.join(out_dir, "_stream_checkpoint"),
                )
                .queryName("pipeline_streaming")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            if recorder is not None:
                # listener delivery is async — the terminated event
                # lands AFTER all progress events for this query, so
                # waiting for it (not just the first row) guarantees the
                # metrics table is complete even for multi-batch
                # availableNow runs. A timeout means the tail of the
                # metrics table may be missing — say so instead of
                # silently truncating.
                if not recorder.wait_for_terminated(str(q.id), timeout=30.0):
                    import sys

                    print(
                        "warning: streaming listener did not drain within "
                        f"30s; metrics at {metrics_path} may be incomplete",
                        file=sys.stderr,
                    )
        finally:
            if recorder is not None:
                spark.streams.removeListener(recorder)
