"""Every registered query must match its DuckDB oracle at sf0.001.

This is the default-tier gate that compares the whole registry to its
oracles; ``tools/check_parity.py`` runs the same comparison at other
scales. Each comparison reads the query's one session build
(conftest ``registry_build``), which the plan rules in
tests/test_plan_invariants.py read too."""

from __future__ import annotations

import pytest

from wiki_data_pipeline_spark.plans.registry import all_oracles, all_queries
from wiki_data_pipeline_spark.testing import compare_query

_QUERIES = all_queries()
_ORACLES = all_oracles()


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_query_matches_oracle(spark, sf_dir, registry_build, name):
    rec = registry_build(name)
    assert rec.error is None, f"{name}: {rec.error}"
    res = compare_query(spark, name, sf_dir, df=rec.value.df)
    assert res.ok, f"{name}: {res.details}"


def test_oracle_coverage_total():
    """Oracle-discipline meta-test: EVERY registered query has a
    DuckDB oracle, so every query's parity check compares values.
    (r12: the one historical exception, sketch_approx_distinct, became
    a library-only surface; its ε-bound companion
    sketch_approx_distinct_check is the hash-checked row.) A new query
    landing without an oracle would have no value check at all; this
    test makes that a conscious, visible decision."""
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
