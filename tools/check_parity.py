"""Dev parity runner:
`python tools/check_parity.py [--json OUT] [sf_dir] [name ...]`.

Runs every registered query (or the named subset) against its DuckDB
oracle and prints a pass/fail line each. With ``--json OUT`` it also
writes a parity JSON (name -> rows/schema/hash match + row counts +
err), which is how the per-round ADVERSARIAL_PARITY.json
is produced:

    python tools/make_adversarial_sf.py /tmp/adversarial_sf
    python tools/check_parity.py --json ADVERSARIAL_PARITY.json \
        /tmp/adversarial_sf

``--pin-mode reliable [--pin-dir DIR]`` runs the sweep with the
configurable pin durability tier flipped to reliable checkpoints
(operators/pin.py), and ``--pin-sites`` restricts the sweep to the
queries that actually route through pin() (discovered live via the
pin observer, not a hand-kept list) — together they regenerate the
per-round RELIABLE_PARITY.json (r13, verdict item 2):

    python tools/check_parity.py --json RELIABLE_PARITY.json \
        --pin-mode reliable --pin-sites /root/testdata/sf0.001
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wiki_data_pipeline_spark.plans.registry import all_oracles, all_queries
from wiki_data_pipeline_spark.session import get_spark
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


def _flag_value(args: list[str], flag: str) -> tuple[str | None, list[str]]:
    if flag not in args:
        return None, args
    i = args.index(flag)
    if i + 1 >= len(args):
        raise SystemExit(f"{flag} needs a value")
    return args[i + 1], args[:i] + args[i + 2 :]


def main() -> int:
    args = sys.argv[1:]
    json_out, args = _flag_value(args, "--json")
    pin_mode, args = _flag_value(args, "--pin-mode")
    pin_dir, args = _flag_value(args, "--pin-dir")
    pin_sites = "--pin-sites" in args
    if pin_sites:
        args.remove("--pin-sites")
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.001"
    names = args[1:] if args and os.path.isdir(args[0]) else args

    spark = get_spark("parity-check")
    queries = all_queries()
    oracles = all_oracles()
    selected = names or list(queries)
    if pin_sites:
        # discovery runs under the DEFAULT pin tier (cheap local
        # checkpoints); only the measured sweep below pays for the
        # reliable tier's DFS writes
        from wiki_data_pipeline_spark.testing import pin_using_queries

        build_errors: dict[str, str] = {}
        live = pin_using_queries(
            spark, sf_dir, selected, strict=False, errors=build_errors
        )
        selected = [n for n in selected if n in live]
        print(f"-- pin-sites: {len(selected)} queries route through pin()")
        for n, err in build_errors.items():
            # conservatively swept (included): the main loop below
            # records the honest err row instead of discovery dying
            print(f"-- pin-sites: {n} failed to build during discovery: {err}")
    if pin_mode is not None:
        from wiki_data_pipeline_spark.operators.pin import (
            PIN_DIR_KEY,
            PIN_MODE_KEY,
        )

        if pin_mode == "reliable" and pin_dir is None:
            import tempfile

            pin_dir = tempfile.mkdtemp(prefix="reliable_pins_")
        spark.conf.set(PIN_MODE_KEY, pin_mode)
        if pin_dir is not None:
            spark.conf.set(PIN_DIR_KEY, pin_dir)

    report: dict[str, dict] = {}
    failures = 0
    for name in selected:
        if name not in queries:
            print(f"?? {name}: not registered")
            failures += 1
            continue
        t0 = time.time()
        if name not in oracles:
            try:
                n = queries[name](spark, sf_dir).count()
                print(f"-- {name}: rows-only, {n} rows ({time.time()-t0:.1f}s)")
                report[name] = _row(None, None, None, n, None, "no_oracle")
            except Exception as e:  # noqa: BLE001
                print(f"XX {name}: EXECUTION FAILED: {e}")
                report[name] = _row(
                    False, False, False, None, None,
                    f"{type(e).__name__}: {e}"[:500],
                )
                failures += 1
            continue
        try:
            res = compare_query(spark, name, sf_dir)
        except Exception as e:  # noqa: BLE001
            print(f"XX {name}: EXECUTION FAILED: {type(e).__name__}: {e}")
            report[name] = _row(
                False, False, False, None, None,
                f"{type(e).__name__}: {e}"[:500],
            )
            failures += 1
            continue
        status = "OK" if res.ok else "MISMATCH"
        print(
            f"{'OK' if res.ok else 'XX'} {name}: {status} "
            f"spark={res.spark_rows} duck={res.duck_rows} ({time.time()-t0:.1f}s)"
        )
        for d in res.details:
            print(f"     {d}")
        report[name] = _row(
            res.spark_rows == res.duck_rows,
            res.schema_ok,
            res.ok,
            res.spark_rows,
            res.duck_rows,
            None if res.ok else "; ".join(res.details)[:500] or "mismatch",
        )
        failures += 0 if res.ok else 1
    print(f"\n{len(selected) - failures}/{len(selected)} passed")
    if json_out:
        report["_meta"] = {
            "sf_dir": sf_dir,
            "n_queries": len(selected),
            "n_pass": len(selected) - failures,
            "generated_by": "tools/check_parity.py --json",
            "pin_mode": pin_mode,
            "pin_sites_only": pin_sites,
        }
        with open(json_out, "w") as fh:
            json.dump(report, fh, indent=2, sort_keys=True)
            fh.write("\n")
        print(f"wrote {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
