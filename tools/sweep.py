"""One registry sweep under the audit tools.

A tool declares its command line with ``parser`` and ``parse`` (which
rejects an unregistered name before any JVM starts), opens its session
with ``session`` and reduces the ``Record``s that ``sweep`` yields.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from typing import Any, NamedTuple

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from stage_metrics import StageMetrics, snapshot, stages_since  # noqa: E402

from wiki_data_pipeline_spark.operators import pin  # noqa: E402
from wiki_data_pipeline_spark.plans.registry import all_queries  # noqa: E402
from wiki_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


class Record(NamedTuple):
    name: str
    value: Any  # what the action returned; None on error
    error: str | None  # "ExceptionType: message"
    wall_s: float  # build plus action
    stages: list[StageMetrics]  # completed since the build began
    pins: int  # pin() calls during the build and action


def parser(doc: str, sf_dirs: tuple[str, ...] = (SF_DIR,), json: bool = False):
    """``--sf-dir`` takes ``len(sf_dirs)`` dirs (no flag when empty);
    ``--json OUT`` only for a tool that writes one."""
    p = argparse.ArgumentParser(
        description=doc, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    if sf_dirs:
        p.add_argument("--sf-dir", nargs=len(sf_dirs), default=list(sf_dirs),
                       metavar="DIR", help=f"default: {' '.join(sf_dirs)}")
    if json:
        p.add_argument("--json", metavar="OUT", help="also write JSON to OUT")
    return p


def parse(p, argv=None, names: bool = True) -> argparse.Namespace:
    if names:  # last, after the tool's own positionals
        p.add_argument("names", nargs="*", metavar="NAME",
                       help="registered queries (default: all)")
    args = p.parse_intermixed_args(argv)
    unknown = set(getattr(args, "names", None) or ()) - set(all_queries())
    if unknown:
        p.error(f"not registered: {' '.join(sorted(unknown))}")
    return args


def session(app: str):
    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def sweep(spark, names, sf_dir: str, action, registry=None):
    """Per query (all registered ones when ``names`` is empty): build
    it, apply ``action``, and yield one Record. The stage snapshot
    comes before the build: iterative queries run jobs while built."""
    queries = all_queries() if registry is None else registry
    for name in names or sorted(queries):
        spark.catalog.clearCache()  # a cached leaf would hide its subtree
        snap = snapshot(spark)
        pins = []
        pin._observer = lambda: pins.append(1)
        t0 = time.perf_counter()
        value = error = None
        try:
            value = action(queries[name](spark, sf_dir))
        except Exception as e:  # noqa: BLE001 - recorded; the sweep goes on
            error = f"{type(e).__name__}: {e}"
        finally:
            pin._observer = None
        wall = time.perf_counter() - t0
        yield Record(
            name, value, error, wall, stages_since(spark, snap), len(pins)
        )
