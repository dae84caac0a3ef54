"""Partition/order metamorphic sweep (r9 verdict item 2): the DuckDB
oracle runs each query ONCE at ONE configuration, so it cannot catch
results that depend on partitioning or row order — the classic Spark
nondeterminism class (first/last without ordering, float summation
order, hash-collision-order ties). The engine's decimal/rounding
discipline claims order-proofness; this sweep PROVES it by executing
the registry under different physical configurations and asserting the
canonical result hash of every query is configuration-invariant.

Usage:
  python tools/metamorphic_sweep.py [--sf-dir DIR] [names...]
      in-process sweep: shuffle.partitions in {4, 64, 200}; exits 1 on
      any hash divergence or failed query, prints one line per query.
  python tools/metamorphic_sweep.py [--sf-dir DIR] --json OUT [names...]
      hash every query once under the CURRENT session config (honors
      SPARK_GRAFT_CPUS — run twice with 4 and 32 for the cross-master
      comparison) and write {name: hash} JSON, one sorted line per
      query, so `diff A.json B.json` compares two runs.

The canonical hash is over the SORTED multiset of normalized row
tuples with columns sorted by name (same normalization as the parity
harness, wiki_data_pipeline_spark/testing.py) — row order never
matters, value identity always does, floats compare EXACTLY (the
order-proof claim is bit-level, not tolerance-level).
"""

from __future__ import annotations

import hashlib
import json
import os

from sweep import parse, parser, session, sweep

from wiki_data_pipeline_spark.session import scoped_conf
from wiki_data_pipeline_spark.testing import _norm

PARTITIONS = (4, 64, 200)


def result_hash(df) -> str:
    cols = sorted(df.columns)
    rows = sorted(tuple(_norm(row[c]) for c in cols) for row in df.collect())
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def partition_hashes(spark, names, sf_dir) -> tuple[dict, dict]:
    """({name: {n_partitions: hash}}, {name: error}) — rebuilds each
    query per setting (conf is read at plan/execution time, and eager
    fixpoint queries re-run their rounds under the new setting, which
    is the point)."""
    hashes: dict[str, dict[int, str]] = {}
    errors: dict[str, str] = {}
    for p in PARTITIONS:
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": str(p)}):
            for r in sweep(spark, names, sf_dir, result_hash):
                if r.error is not None:
                    errors[r.name] = r.error
                else:
                    hashes.setdefault(r.name, {})[p] = r.value
    return hashes, errors


def main(argv=None) -> int:
    p = parser(__doc__, sf_dirs=("/root/testdata/sf0.01",), json=True)
    args = parse(p, argv)
    (sf_dir,) = args.sf_dir
    spark = session("metamorphic-sweep")

    if args.json:
        hashes, failed = {}, 0
        for r in sweep(spark, args.names, sf_dir, result_hash):
            print(f"-- {r.name}: {r.value or 'XX ' + r.error} ({r.wall_s:.1f}s)")
            if r.error is None:
                hashes[r.name] = r.value
            failed += r.error is not None
        with open(args.json, "w", encoding="utf-8") as f:
            json.dump(hashes, f, indent=0, sort_keys=True)
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        print(f"dumped {len(hashes)} hashes (local[{cpus}]) -> {args.json}")
        return 1 if failed else 0

    table, errors = partition_hashes(spark, args.names, sf_dir)
    names = sorted(set(table) | set(errors))
    bad = 0
    for name in names:
        hs = table.get(name, {})
        ok = name not in errors and len(set(hs.values())) == 1
        bad += not ok
        print(f"{'OK' if ok else 'XX'} {name}: {errors.get(name, hs)}")
    print(
        f"\n{len(names) - bad}/{len(names)} partition-invariant "
        f"(shuffle.partitions in {list(PARTITIONS)})"
    )
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
