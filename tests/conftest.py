from __future__ import annotations

import functools
import os
import sys
from collections import Counter
from typing import NamedTuple

import pytest
from pyspark.sql import DataFrame

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from plan_audit import duplicate_exchanges, unbounded_global_windows  # noqa: E402
from sweep import sweep  # noqa: E402

from wiki_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# the plan-tree rules tests/test_plan_invariants.py applies to every query
PLAN_RULES = (unbounded_global_windows, duplicate_exchanges)


class Built(NamedTuple):
    """A registered query's frame and what was read from it before any
    action ran: AQE rewrites the executed plan once the frame runs."""

    df: DataFrame
    plan: str  # executedPlan text
    hits: dict[str, list[str]]  # PLAN_RULES name -> violations


def _read(df) -> Built:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return Built(df, plan, {rule.__name__: rule(df) for rule in PLAN_RULES})


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def registry_build(spark, sf_dir):
    """``name ->`` the sweep Record of the query's one build at
    ``sf_dir`` in this session; its ``value`` is a ``Built``, or None
    with ``error`` set. The oracle sweep and the plan checks all read
    this one build.
    ``registry_build.builds`` counts the builds per name."""

    @functools.cache
    def record(name: str):
        record.builds[name] += 1
        return next(sweep(spark, [name], sf_dir, _read))

    record.builds = Counter()
    return record


@pytest.fixture(scope="session")
def registry_plan(registry_build):
    """``name ->`` the executed plan text of the query's session build,
    failing the caller when the build failed."""

    def plan(name: str) -> str:
        rec = registry_build(name)
        assert rec.error is None, f"{name}: {rec.error}"
        return rec.value.plan

    return plan
