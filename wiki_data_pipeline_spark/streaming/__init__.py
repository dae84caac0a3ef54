"""Incremental semantics (SURVEY.md §2.9): Structured Streaming jobs,
checkpoint/resume, dead-letter routing, adaptive rate limiting, and
custom stateful operators. ``drain`` lives here, not in ``jobs.py``,
so the pipeline can use it without importing pandas."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def drain(
    df: DataFrame,
    checkpoint_dir: str,
    *,
    query_name: str | None = None,
    output_mode: str = "append",
    path: str | None = None,
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
) -> StreamingQuery:
    """Run ``df`` to completion with ``trigger(availableNow=True)`` and
    return the query; a failed batch raises ``StreamingQueryException``.
    The sink is ``foreach_batch``, else parquet at ``path``, else the
    memory sink named ``query_name``."""
    writer = (
        df.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    if foreach_batch is not None:
        writer = writer.foreachBatch(foreach_batch)
    elif path is not None:
        writer = writer.format("parquet").option("path", path)
    else:
        writer = writer.format("memory")
    if query_name is not None:
        writer = writer.queryName(query_name)
    q = writer.start()
    q.awaitTermination()
    return q
