"""Query registry.

Each query is a named callable ``(spark, sf_dir) -> DataFrame`` with an
optional DuckDB oracle SQL string. The driver (and our own parity
tests) run both and compare row-count + schema + order-insensitive
value hash, so every computed column is aliased identically on both
sides, and float aggregates use exact decimal summation so results are
bitwise-identical regardless of partitioning / aggregation order.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle`` is equivalent DuckDB ANSI SQL (or
    None for non-SQL-expressible ops → driver does a rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, (fn.__doc__ or "").strip())
        return fn

    return deco


def _load_all() -> None:
    # Import side-effect: plan modules register their queries.
    from wiki_data_pipeline_spark.plans import (  # noqa: F401
        llm_ops,
        pipeline_ops,
        reference_ops,
        star_schema,
        streaming_ops,
    )


def all_queries() -> dict[str, QueryFn]:
    """All registered queries in registration order."""
    _load_all()
    return {name: spec.fn for name, spec in _REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    _load_all()
    return {
        name: spec.oracle for name, spec in _REGISTRY.items() if spec.oracle
    }


def get(name: str) -> QuerySpec:
    _load_all()
    return _REGISTRY[name]
