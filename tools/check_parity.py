"""Dev parity runner:
`python tools/check_parity.py [--json OUT] [--sf-dir DIR] [name ...]`.

Runs every registered query (or the named subset) against its DuckDB
oracle and prints a pass/fail line each. With ``--json OUT`` it also
writes a parity JSON (name -> rows/schema/hash match + row counts +
err), which is how the per-round ADVERSARIAL_PARITY.json
is produced:

    python tools/make_adversarial_sf.py /tmp/adversarial_sf
    python tools/check_parity.py --json ADVERSARIAL_PARITY.json \
        --sf-dir /tmp/adversarial_sf

``--pin-mode reliable`` runs the sweep with the configurable pin
durability tier flipped to reliable checkpoints (operators/pin.py),
written to a temporary directory removed at exit, and ``--pin-sites``
restricts the sweep to the queries that actually route through pin()
(discovered live by a build-only sweep that counts each query's pin()
calls, not a hand-kept list) —
together they regenerate the per-round RELIABLE_PARITY.json:

    python tools/check_parity.py --json RELIABLE_PARITY.json \
        --pin-mode reliable --pin-sites --sf-dir /root/testdata/sf0.001
"""

from __future__ import annotations

import json
import sys
import tempfile

from sweep import parse, parser, session, sweep

from wiki_data_pipeline_spark.operators.pin import PIN_DIR_KEY, PIN_MODE_KEY
from wiki_data_pipeline_spark.plans.registry import all_queries
from wiki_data_pipeline_spark.session import scoped_conf
from wiki_data_pipeline_spark.testing import compare_query


def _row(
    rows_match, schema_match, hash_match, spark_rows, oracle_rows, err
) -> dict:
    """One artifact row, spelled out once."""
    return {
        "rows_match": rows_match,
        "schema_match": schema_match,
        "hash_match": hash_match,
        "spark_rows": spark_rows,
        "oracle_rows": oracle_rows,
        "err": err,
    }


def _compare(name: str):
    """What the sweep builds for ``name``: its oracle comparison, which
    builds the frame itself. Every query has an oracle
    (tests/test_oracle_parity.py::test_oracle_coverage_total)."""
    return lambda spark, sf_dir: compare_query(spark, name, sf_dir)


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    p = parser(__doc__, json=True)
    p.add_argument("--pin-mode", choices=("local", "reliable"),
                   help="pin durability tier for the sweep")
    p.add_argument("--pin-sites", action="store_true",
                   help="sweep only the queries that route through pin()")
    args = parse(p, argv)
    (sf_dir,) = args.sf_dir
    spark = session("parity-check")
    selected = args.names or sorted(all_queries())
    if args.pin_sites:
        # discovery builds each query once under the DEFAULT pin tier
        # (cheap local checkpoints); only the measured sweep below pays
        # for the reliable tier's DFS writes. A query that fails to
        # build is kept, so the sweep records its error row.
        live = {
            r.name
            for r in sweep(spark, selected, sf_dir, lambda df: None)
            if r.pins or r.error
        }
        selected = [n for n in selected if n in live]
        print(f"-- pin-sites: {len(selected)} queries route through pin()")

    report: dict[str, dict] = {}
    failures = 0
    with tempfile.TemporaryDirectory(prefix="reliable_pins_") as pin_dir, scoped_conf(
        spark,
        {} if args.pin_mode is None
        else {PIN_MODE_KEY: args.pin_mode, PIN_DIR_KEY: pin_dir},
    ):
        checks = {n: _compare(n) for n in all_queries()}
        for r in sweep(spark, selected, sf_dir, lambda res: res, checks):
            res = r.value
            if r.error is not None:
                print(f"XX {r.name}: EXECUTION FAILED: {r.error}")
                report[r.name] = _row(False, False, False, None, None, r.error[:500])
                failures += 1
                continue
            print(
                f"{'OK' if res.ok else 'XX'} {r.name}: "
                f"{'OK' if res.ok else 'MISMATCH'} "
                f"spark={res.spark_rows} duck={res.duck_rows} ({r.wall_s:.1f}s)"
            )
            for d in res.details:
                print(f"     {d}")
            report[r.name] = _row(
                res.spark_rows == res.duck_rows,
                res.schema_ok,
                res.ok,
                res.spark_rows,
                res.duck_rows,
                None if res.ok else "; ".join(res.details)[:500] or "mismatch",
            )
            failures += 0 if res.ok else 1
    print(f"\n{len(selected) - failures}/{len(selected)} passed")
    if args.json:
        report["_meta"] = {
            "sf_dir": sf_dir,
            "n_queries": len(selected),
            "n_pass": len(selected) - failures,
            "generated_by": " ".join(["tools/check_parity.py", *argv]),
            "pin_mode": args.pin_mode,
            "pin_sites_only": args.pin_sites,
        }
        with open(args.json, "w") as fh:
            json.dump(report, fh, indent=2, sort_keys=True)
            fh.write("\n")
        print(f"wrote {args.json}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
