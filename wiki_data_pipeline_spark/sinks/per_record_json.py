"""One-file-per-record JSON sink (reference K1/K2/T9/L3:
src/azure_manager.py:33-78 — pretty JSON per article at
``batch_{b:03d}/article_{i:06d}.json``, consecutive global indices,
idempotent overwrite).

Scalable indexing: the reference's global counter (and the naive
``row_number()`` over an unpartitioned window) serializes on one
partition. Here the input is range-partitioned and sorted on the order
column (a distributed sort); each partition's start offset comes from
one JVM count job (the JVM ``zipWithIndex``, one number per partition
to the driver), and one Python pass writes every file at its
partition's offset plus its position in the partition — the
``with_global_offsets`` pattern (operators/packing.py). Both jobs read
ONE range shuffle: the range exchange samples its bounds afresh each
time a plan is executed, so both jobs read the sorted frame's one
physical RDD. Its shuffle dependency, bounds included, is fixed, so a
lost shuffle block is rebuilt into the same partition and the offsets
stay right — no pin, no lineage cut, and no Python pass just to
count.

One partition writer (``_make_writer``) serves both pipeline runners:
the batch runner feeds it the partition offsets, the streaming twin
feeds it each row's ``doc_id`` as the index, so both produce the same
record bytes, layout, atomic temp-file rename and task fault hook.

Paths are deterministic → re-running after a crash overwrites the same
files (the reference's at-least-once + idempotent-sink story, ST3).
Local filesystem here; on a cluster the same writer targets any
Hadoop-visible path (abfs://, s3://) via fsspec-style mounts."""

from __future__ import annotations

from pyspark.sql import DataFrame

from wiki_data_pipeline_spark.session import worker_zip_guard

FILE_PATTERN = "article_{index:06d}.json"
DIRECTORY_PATTERN = "batch_{batch_num:03d}"


def write_per_record_json_with_watermark(
    df: DataFrame,
    out_dir: str,
    order_col: str,
    batch_size: int = 1000,
    start_index: int = 0,
    file_pattern: str = FILE_PATTERN,
    directory_pattern: str = DIRECTORY_PATTERN,
    task_fault_injector=None,
) -> tuple[int, int | None]:
    """Write each row as a pretty JSON file; returns ``(rows_written,
    max(order_col))`` from the SAME write job — the caller's watermark
    commit then needs no second scan of the input (the per-partition
    writer already sees every row, so tracking the max is free).

    ``start_index`` continues the global numbering across resumed runs
    (reference ``start_index + i``, src/azure_manager.py:66-67 +
    resume_info's last index) — without it a resume restarts at
    article_000000 and silently overwrites the previous run's files.
    ``file_pattern``/``directory_pattern`` are the reference naming
    knobs (config.yaml ``naming`` section): ``{index}`` is the global
    record index, ``{batch_num}`` the batch directory number.

    ``task_fault_injector``: test-only executor-side hook, called as
    ``injector(task_context, rows_written_so_far)`` before each file
    write — raising from it kills the TASK ATTEMPT mid-partition
    (files 0..k-1 already on disk), exercising Spark's task-retry
    path (``spark.task.maxFailures`` ≥ 2): the retry attempt rewrites
    the same deterministic paths (the retry re-reads the range shuffle
    the counts came from), so output stays byte-identical and the
    per-partition ``(count, max)`` receipts come only from the attempt
    that succeeded."""
    n_parts = max(1, df.rdd.getNumPartitions())  # 0 on an empty plan
    ordered = df.repartitionByRange(n_parts, order_col).sortWithinPartitions(
        order_col
    )
    # The writer below reads `ordered.rdd`, which Spark builds on the
    # Dataset's one physical RDD (`queryExecution.toRdd`, planned once
    # per Dataset). Counting that same RDD makes both jobs read one
    # range shuffle. The JVM zipWithIndex counts the rows of every
    # partition but the last in one job and keeps each partition's
    # start index.
    rows = ordered._jdf.queryExecution().toRdd()
    starts = [p.startIndex() for p in rows.zipWithIndex().partitions()]
    write_rows = _make_writer(
        out_dir, batch_size, start_index, order_col,
        file_pattern, directory_pattern, task_fault_injector,
    )

    def _write_partition(pid, part):
        base = starts[pid]
        return write_rows((row, base + i) for i, row in enumerate(part))

    parts = ordered.rdd.mapPartitionsWithIndex(_write_partition).collect()
    n_written = sum(c for c, _ in parts)
    maxes = [m for _, m in parts if m is not None]
    return int(n_written), (max(maxes) if maxes else None)


def _make_writer(
    out_dir: str,
    batch_size: int,
    start_index: int,
    order_col: str,
    file_pattern: str = FILE_PATTERN,
    directory_pattern: str = DIRECTORY_PATTERN,
    task_fault_injector=None,
):
    """Build the partition writer over ``(row, index)`` pairs as a
    self-contained closure (cloudpickle by value — workers can't
    import this package). Yields one ``(count, max_order_value)`` pair
    per partition so the caller gets its checkpoint watermark from the
    write job itself."""
    guard = worker_zip_guard()

    def _write(rows):
        guard()
        import json
        import os

        ctx = None
        if task_fault_injector is not None:
            from pyspark import TaskContext

            ctx = TaskContext.get()
        count = 0
        max_seq = None
        for row, rel_idx in rows:
            if task_fault_injector is not None:
                task_fault_injector(ctx, count)
            idx = rel_idx + start_index
            batch = idx // batch_size
            d = os.path.join(out_dir, directory_pattern.format(batch_num=batch))
            os.makedirs(d, exist_ok=True)
            path = os.path.join(d, file_pattern.format(index=idx))
            payload = json.dumps(
                row.asDict(recursive=True),
                ensure_ascii=False,
                indent=2,
                default=str,
            )
            tmp = path + ".tmp"
            with open(tmp, "w", encoding="utf-8") as f:
                f.write(payload)
            os.replace(tmp, path)  # atomic, idempotent overwrite (ST3)
            count += 1
            v = row[order_col]
            if v is not None and (max_seq is None or v > max_seq):
                max_seq = v
        yield count, max_seq

    return _write
