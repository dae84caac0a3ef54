"""Parity harness: run a registered query on Spark AND its DuckDB
oracle, compare row-count + schema-insensitive sorted values."""

from __future__ import annotations

import datetime as _dt
import math
from dataclasses import dataclass, field

import duckdb
from pyspark.sql import DataFrame, SparkSession

from wiki_data_pipeline_spark.io import TABLES, table_path


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(sf_dir, name)}')"
        )
    return con


def _norm(v):
    if v is None:
        return ("n", "")
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        if math.isnan(v):
            # own tag: ("f", "nan") made sorted() compare str vs float
            # against ordinary ("f", x) tuples and raise TypeError
            return ("fn", "")
        return ("f", v)
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_norm(x) for x in v))
    if isinstance(v, (_dt.datetime, _dt.date)):
        return ("t", v.isoformat())
    if isinstance(v, (bytes, bytearray)):
        return ("y", bytes(v).hex())
    return ("s", str(v))


@dataclass
class ParityResult:
    name: str
    ok: bool
    spark_rows: int
    duck_rows: int
    details: list[str] = field(default_factory=list)
    # structured flag for artifact writers — consumers must not parse
    # the human-readable details strings
    schema_ok: bool = True


def compare_query(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    max_diff_report: int = 5,
    df: DataFrame | None = None,
) -> ParityResult:
    """Collect registered query ``name`` and its DuckDB oracle over the
    tables in ``sf_dir``. ``df`` is the query's frame when the caller
    already built it at ``sf_dir``; by default the query is built
    here."""
    from wiki_data_pipeline_spark.plans.registry import get

    spec = get(name)
    sdf = spec.fn(spark, sf_dir) if df is None else df
    s_cols = sorted(sdf.columns)
    s_rows = [tuple(_norm(row[c]) for c in s_cols) for row in sdf.collect()]

    con = duck_connect(sf_dir)
    try:
        rel = con.execute(spec.oracle)
        d_cols_raw = [d[0] for d in rel.description]
        d_order = sorted(range(len(d_cols_raw)), key=lambda i: d_cols_raw[i])
        d_cols = [d_cols_raw[i] for i in d_order]
        d_rows = [tuple(_norm(r[i]) for i in d_order) for r in rel.fetchall()]
    finally:
        con.close()

    res = ParityResult(name, True, len(s_rows), len(d_rows))
    if s_cols != d_cols:
        res.ok = False
        res.schema_ok = False
        res.details.append(f"columns differ: spark={s_cols} duck={d_cols}")
        return res
    if len(s_rows) != len(d_rows):
        res.ok = False
        res.details.append(f"row count: spark={len(s_rows)} duck={len(d_rows)}")
    s_sorted = sorted(s_rows)
    d_sorted = sorted(d_rows)
    if s_sorted != d_sorted:
        res.ok = False
        shown = 0
        for i, (a, b) in enumerate(zip(s_sorted, d_sorted)):
            if a != b:
                res.details.append(f"row[{i}] spark={a}\n        duck ={b}")
                shown += 1
                if shown >= max_diff_report:
                    break
        if not res.details:
            res.details.append("row multiset mismatch (length tail)")
    return res

