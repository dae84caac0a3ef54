"""Dump `.explain("formatted")` for named queries to files.

Usage: python tools/dump_plans.py OUT_DIR SUFFIX [--sf-dir DIR] name...

Writes OUT_DIR/<name>_<SUFFIX>.txt per query — before/after plan
evidence for a rewrite (e.g. SUFFIX=before, then SUFFIX=after).

The data directory is an explicit ``--sf-dir`` flag (r15 ADVICE: the
old positional ``os.path.isdir(rest[0])`` heuristic silently consumed
the first QUERY NAME whenever a same-named directory existed in the
CWD, dumping plans for the wrong argument set with no error). A bare
positional path is still accepted for compatibility, but only when it
contains a path separator — a bare name can never be mistaken for it.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wiki_data_pipeline_spark.plans.registry import all_queries
from wiki_data_pipeline_spark.session import get_spark


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    rest = sys.argv[3:]
    sf_dir = "/root/testdata/sf0.001"
    if rest and rest[0] == "--sf-dir":
        if len(rest) < 2:
            raise SystemExit("--sf-dir needs a directory argument")
        sf_dir, rest = rest[1], rest[2:]
    elif rest and os.sep in rest[0] and os.path.isdir(rest[0]):
        # legacy positional form: must LOOK like a path (contain a
        # separator) so a query name shadowed by a same-named CWD
        # directory can't be consumed silently (r15 ADVICE)
        sf_dir, rest = rest[0], rest[1:]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    for name in rest:
        df = queries[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w", encoding="utf-8") as f:
            f.write(plan)
        print(path)


if __name__ == "__main__":
    main()
