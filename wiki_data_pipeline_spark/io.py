"""Table and stream readers.

The reference enumerates + fetches rows over HTTP one at a time
(``src/mediawiki_client.py:66-171``); here every source is a parquet
scan so Catalyst gets predicate pushdown, column pruning and partition
pruning for free (SURVEY.md S1/S2 mapping). ``read_stream``, the file
source under every streaming runner, sits next to ``read_table`` and
shares its ``ts`` cast.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _ts_as_ltz(df: DataFrame) -> DataFrame:
    """Cast a TIMESTAMP_NTZ ``ts`` column to TIMESTAMP (LTZ); any other
    frame passes through unchanged."""
    if "ts" in df.columns and isinstance(
        df.schema["ts"].dataType, T.TimestampNTZType
    ):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one synthetic table (S1/S2: partitioned full scan).

    ``events.ts`` is normalized to TIMESTAMP (LTZ) here, at the single
    read boundary, whatever physical type the fixture carries:

    - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it;
      read nanos as long (legacy conf, safe per-session) and truncate
      to microseconds — exactly what DuckDB does on the same file.
    - parquet TIMESTAMP(isAdjustedToUTC=false): Spark reads
      TIMESTAMP_NTZ, which event-time APIs (``withWatermark``) and
      BIGINT casts refuse; cast to TIMESTAMP. The session timezone is
      pinned to UTC (session.py), so the NTZ wall clock and the LTZ
      instant coincide and DuckDB (naive) sees identical values.

    Downstream operators can therefore assume ``ts`` is TIMESTAMP.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            df = _ts_as_ltz(df)
    return df


def read_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int
) -> DataFrame:
    """File-source stream over ``source_dir`` (ST1: each admitted file
    is one page of the reference's cursor loop), schema inferred from
    the files present at start. ``ts`` is cast as in ``read_table``:
    ``withWatermark`` refuses TIMESTAMP_NTZ."""
    schema = spark.read.parquet(source_dir).schema
    return _ts_as_ltz(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
