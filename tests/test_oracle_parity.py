"""Every registered query must match its DuckDB oracle at sf0.001.

This is the default-tier gate that compares the whole registry to its
oracles; ``tools/check_parity.py`` runs the same comparison at other
scales."""

from __future__ import annotations

import pytest

from wiki_data_pipeline_spark.plans.registry import all_oracles, all_queries
from wiki_data_pipeline_spark.testing import compare_query

_QUERIES = all_queries()
_ORACLES = all_oracles()


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_query_matches_oracle(spark, sf_dir, name):
    res = compare_query(spark, name, sf_dir)
    assert res.ok, f"{name}: {res.details}"


@pytest.mark.parametrize("name", sorted(set(_QUERIES) - set(_ORACLES)))
def test_rows_only_query_runs(spark, sf_dir, name):
    df = _QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_oracle_coverage_total():
    """Oracle-discipline meta-test: EVERY registered query has a
    DuckDB oracle — the rows-only set is empty, so every query's
    parity check compares values. (r12: the one historical
    exception, sketch_approx_distinct, became a library-only surface;
    its ε-bound companion sketch_approx_distinct_check is the
    hash-checked row.) A new query landing without an oracle silently
    downgrades its check to rows-only; this test makes that a
    conscious, visible decision."""
    assert set(_QUERIES) - set(_ORACLES) == set()


def test_entry_contract(spark):
    import __spark_entry__ as mod

    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    # the entry module exports the registry as-is, in registration
    # order, with no reordering layer in between
    assert list(mod.queries()) == list(_QUERIES)
    assert list(mod.oracle_sql()) == [n for n in _QUERIES if n in _ORACLES]
