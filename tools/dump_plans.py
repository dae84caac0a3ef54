"""Dump `.explain("formatted")` for named queries to files.

Usage: python tools/dump_plans.py OUT_DIR SUFFIX [--sf-dir DIR] [name ...]

Writes OUT_DIR/<name>_<SUFFIX>.txt per query (every registered query
when none is named) — before/after plan evidence for a rewrite (e.g.
SUFFIX=before, then SUFFIX=after).
"""

from __future__ import annotations

import os

from sweep import parse, parser, session, sweep


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main(argv=None) -> int:
    p = parser(__doc__)
    p.add_argument("out_dir")
    p.add_argument("suffix")
    args = parse(p, argv)
    (sf_dir,) = args.sf_dir
    os.makedirs(args.out_dir, exist_ok=True)
    spark = session("dump-plans")
    failed = 0
    for r in sweep(spark, args.names, sf_dir, formatted_plan):
        if r.error is not None:
            print(f"XX {r.name}: {r.error[:200]}")
            failed += 1
            continue
        path = os.path.join(args.out_dir, f"{r.name}_{args.suffix}.txt")
        with open(path, "w", encoding="utf-8") as f:
            f.write(r.value)
        print(path)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
