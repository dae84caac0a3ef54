"""Registry-wide shuffle-volume scaling audit (r9).

The scale story measures wall clock (bench.py at sf0.1, --sf1 at 10x),
plan shape (fixture + x10 manifests), task balance (skew_probe), and
heap (constrained-heap probe) — but not the INTERMEDIATE DATA VOLUME:
a query whose shuffle bytes grow quadratically can still look linear in
wall time at small SFs (the shuffle fits in page cache) and perfectly
healthy in its compiled plan (same Exchange count, 100x the bytes
through it). At 100 TB the shuffle IS the bottleneck, so this tool
measures it directly:

For every registered query, run once at sf0.01 and once at sf0.1 (10x
the rows) in one session and attribute shuffle-write bytes per query
by reading the stages each execution completed from the driver's
status store (tools/stage_metrics.py; queries run sequentially, so
every stage after the snapshot is the query's).
Report, per query:

- shuffle_growth: shuffle bytes at sf0.1 / bytes at sf0.01 — the
  scaling signal; ~10 is linear in data, >20 with non-trivial absolute
  volume is superlinear (flagged);
- amplification: shuffle bytes / on-disk bytes of the parquet files the
  plan scans, at sf0.1 — how many times the data crosses the wire per
  stored byte (a design-review number, not a gate: joins legitimately
  amplify, but a 10x amplifier is where to look first when the cluster
  is network-bound). The denominator is filesystem truth, not the
  stage-level inputBytes metric, which undercounts ~100x for
  sub-second local tasks (bytes-read is polled per N records); with
  column pruning the true bytes read are <= on-disk, so amplification
  is a lower bound.

Zero-shuffle queries (broadcast-only plans like j1_enrichment_join)
report growth 1.0 by convention (0 -> 0 bytes).

Usage: python tools/shuffle_audit.py [--sf-dir SMALL_DIR BIG_DIR] [name ...]
       defaults /root/testdata/sf0.01 and /root/testdata/sf0.1;
       named queries are measured and their rows printed WITHOUT
       touching the registry-wide artifact (for before/after fix
       comparisons).
Artifact: SHUFFLE_SCALING.json. Exit 1 if any query is flagged.
"""

from __future__ import annotations

import json
import os
import re

from sweep import REPO, noop, parse, parser, session, sweep

GROWTH_FLAG = 20.0  # 10x data; 2x margin on linear
ABS_FLOOR_BYTES = 10 * 1024 * 1024  # ignore sub-10MB shuffles at sf0.1


def _scan_bytes(df) -> int:
    """On-disk bytes of the parquet files the executed plan scans.

    The stage-level `inputBytes` metric systematically undercounts
    for sub-second local tasks (bytes-read is polled every N records,
    so a task that finishes within one poll interval reports ~0), so
    the amplification denominator is taken from the filesystem instead:
    every file path named by the plan's scan nodes, deduplicated, summed
    at its on-disk (compressed) size. Column pruning means the true
    bytes read are <= this, i.e. reported amplification is a LOWER
    bound — fine for a design-review ranking. A plan that cannot be
    read raises, so the sweep records an error instead of an
    amplification of 0.
    """
    plan = df._jdf.queryExecution().executedPlan().toString()
    total, seen = 0, set()
    for m in re.finditer(r"file:(/[^\s\],)\x00]+)", plan):
        path = m.group(1).rstrip(".")
        if path in seen:
            continue
        seen.add(path)
        if os.path.isfile(path):
            total += os.path.getsize(path)
        elif os.path.isdir(path):
            for root, _, files in os.walk(path):
                total += sum(
                    os.path.getsize(os.path.join(root, f))
                    for f in files
                    if not f.startswith(("_", "."))
                )
    return total


def _run_and_scan(df) -> int:
    noop(df)
    return _scan_bytes(df)


def main(argv=None) -> int:
    p = parser(__doc__, sf_dirs=("/root/testdata/sf0.01", "/root/testdata/sf0.1"))
    args = parse(p, argv)
    small, big = args.sf_dir
    spark = session("shuffle-audit")

    rows: dict[str, dict] = {}
    flagged: dict[str, dict] = {}
    errors: dict[str, str] = {}
    # zip pulls one record from each sweep in turn: a query runs at
    # the small scale, then at the big one, before the next starts
    for rs, rb in zip(
        sweep(spark, args.names, small, noop),
        sweep(spark, args.names, big, _run_and_scan),
    ):
        name = rs.name
        if rs.error or rb.error:
            errors[name] = (rs.error or rb.error)[:200]
            continue
        w_s = sum(s.shuffle_write_bytes for s in rs.stages)
        w_b = sum(s.shuffle_write_bytes for s in rb.stages)
        i_b = rb.value
        growth = round(w_b / w_s, 2) if w_s else (1.0 if not w_b else float("inf"))
        amp = round(w_b / i_b, 3) if i_b else 0.0
        rows[name] = {
            "shuffle_small": w_s,
            "shuffle_big": w_b,
            "scan_disk_big": i_b,
            "shuffle_growth": growth,
            "amplification": amp,
            "wall_big": round(rb.wall_s, 2),
        }
        if growth > GROWTH_FLAG and w_b > ABS_FLOOR_BYTES:
            flagged[name] = rows[name]
            print(f"XX {name}: growth {growth}x, {w_b/1e6:.1f} MB at sf0.1")
        if len(rows) % 25 == 0:
            print(f"-- {len(rows)} measured")

    top_amp = sorted(
        ((r["amplification"], k) for k, r in rows.items()
         if r["shuffle_big"] > ABS_FLOOR_BYTES),
        reverse=True,
    )[:10]
    n = len(rows) + len(errors)
    print(f"\n{len(rows)}/{n} measured; {len(flagged)} flagged "
          f"superlinear; {len(errors)} errors")
    print("top amplification (shuffle/scanned-disk at sf0.1, >10MB shuffles):")
    for a, k in top_amp:
        print(f"  {k}: {a}x ({rows[k]['shuffle_big']/1e6:.1f} MB)")

    if args.names:
        for k, r in rows.items():
            print(f"{k}: {json.dumps(r)}")
    else:
        with open(os.path.join(REPO, "SHUFFLE_SCALING.json"), "w",
                  encoding="utf-8") as f:
            json.dump(
                {"small": small, "big": big, "growth_flag": GROWTH_FLAG,
                 "abs_floor_bytes": ABS_FLOOR_BYTES, "flagged": flagged,
                 "errors": errors, "queries": rows},
                f, indent=1,
            )
        print("wrote SHUFFLE_SCALING.json")
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
