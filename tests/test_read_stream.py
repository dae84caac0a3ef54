"""The shared file-source stream (``io.read_stream``) under the
streaming runners."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from wiki_data_pipeline_spark.io import read_table
from wiki_data_pipeline_spark.streaming.jobs import (
    run_tumbling_agg,
    stage_events_as_stream_source,
)


def test_ntz_staged_events_drain_like_ltz(spark, sf_dir, tmp_path):
    """An events dir whose ``ts`` is TIMESTAMP_NTZ drains to the same
    windows as the LTZ-staged dir. ``withWatermark`` refuses NTZ, so
    this fails if ``read_stream`` stops casting ``ts``."""
    ltz, ntz = str(tmp_path / "ltz"), str(tmp_path / "ntz")
    stage_events_as_stream_source(spark, sf_dir, ltz, n_files=3)
    read_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    ).repartitionByRange(3, "event_id").write.parquet(ntz)
    assert isinstance(
        spark.read.parquet(ntz).schema["ts"].dataType, T.TimestampNTZType
    )

    windows = {}
    for src in (ltz, ntz):
        name = f"t_ts_{src[-3:]}"
        run_tumbling_agg(spark, src, f"{src}_ckpt", query_name=name)
        windows[src] = {
            (r.window_start, r.event_type, r.n_events, round(r.total_value, 6))
            for r in spark.table(name).collect()
        }
    assert windows[ltz] and windows[ntz] == windows[ltz]
