"""Property-based cross-engine fuzzing for the boundary-heavy joins
(round-7 verdict item 6, extending the winnowing property-test
pattern): the as-of joins (both directions) and the interval-overlap
join are the operators where off-by-one tie/endpoint semantics hide
from fixed fixtures — an equal-ts tie, an empty side, or a touching
interval endpoint either matches or it doesn't, and the registered
sf-fixture queries exercise only the tie mix the generator happened to
produce. Here ≥20 seeded random cases per join run through the REAL
operator (`operators/joins.py` — the same code path the registered
queries call) and are compared row-for-row against DuckDB's native
ASOF JOIN / overlap predicate on identical tables.

All cases for a join are unioned into ONE Spark job (case_id joins the
key) — 25 independent random cases, one shuffle, seconds not minutes.
"""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pytest

from wiki_data_pipeline_spark.operators.joins import (
    asof_join,
    interval_overlap_join,
)

N_CASES = 25
SEED = 0xA50F


def _gen_asof_cases(rng: random.Random):
    """Small-domain tables that force the nasty shapes: user keys from
    {0,1,2} (collisions guaranteed), ts from 0..7 (equal-ts ties
    across AND within sides), sizes 0..10 (empty sides). Right side
    deduped per (case, key, ts) — ASOF among exact duplicates is
    tie-broken arbitrarily in every engine, so duplicates would fuzz
    the engines' coin flips, not their semantics."""
    lrows, rrows = [], []
    row_id = 0
    for case in range(N_CASES):
        # case 0/1: deliberately empty right / empty left
        n_l = 0 if case == 1 else rng.randint(0, 10)
        n_r = 0 if case == 0 else rng.randint(0, 10)
        for _ in range(n_l):
            lrows.append((case, rng.randint(0, 2), rng.randint(0, 7), row_id))
            row_id += 1
        seen = set()
        for _ in range(n_r):
            k, ts = rng.randint(0, 2), rng.randint(0, 7)
            if (case, k, ts) in seen:
                continue
            seen.add((case, k, ts))
            rrows.append((case, k, ts, float(rng.randint(1, 99))))
    l_pdf = pd.DataFrame(lrows, columns=["case_id", "k", "ts", "row_id"])
    r_pdf = pd.DataFrame(rrows, columns=["case_id", "k", "ts", "v"])
    return l_pdf, r_pdf


def _spark_asof(spark, l_pdf, r_pdf, direction):
    left = spark.createDataFrame(
        l_pdf, "case_id BIGINT, k BIGINT, ts BIGINT, row_id BIGINT"
    )
    right = spark.createDataFrame(
        r_pdf, "case_id BIGINT, k BIGINT, ts BIGINT, v DOUBLE"
    )
    out = asof_join(
        left,
        right,
        on=["case_id", "k"],
        ts="ts",
        value_col="v",
        direction=direction,
    )
    return sorted(
        (r.row_id, r.v) for r in out.select("row_id", "v").collect()
    )


def _duck_asof(l_pdf, r_pdf, op):
    con = duckdb.connect()
    con.register("l", l_pdf)
    con.register("r", r_pdf)
    rows = con.execute(
        f"""
        SELECT l.row_id, r.v
        FROM l ASOF LEFT JOIN r
          ON l.case_id = r.case_id AND l.k = r.k AND l.ts {op} r.ts
        """
    ).fetchall()
    con.close()
    return sorted((rid, v) for rid, v in rows)


@pytest.mark.parametrize(
    "direction,op",
    [("backward", ">="), ("forward", "<=")],
)
def test_asof_join_fuzz_vs_duckdb(spark, direction, op):
    rng = random.Random(SEED if direction == "backward" else SEED + 1)
    l_pdf, r_pdf = _gen_asof_cases(rng)
    assert len(l_pdf) > 50  # the generator actually produced work
    got = _spark_asof(spark, l_pdf, r_pdf, direction)
    want = _duck_asof(l_pdf, r_pdf, op)
    assert got == want


def test_asof_join_pinned_tie_semantics(spark):
    """Deterministic micro-cases pinning the exact boundaries the fuzz
    relies on: equal-ts ties MATCH both directions; strictly-later
    (backward) / strictly-earlier (forward) right rows do NOT."""
    left = spark.createDataFrame(
        [(1, 5, 10)], "k BIGINT, ts BIGINT, row_id BIGINT"
    )
    right = spark.createDataFrame(
        [(1, 5, 50.0), (1, 6, 60.0), (1, 4, 40.0)],
        "k BIGINT, ts BIGINT, v DOUBLE",
    )
    back = asof_join(left, right, "k", "ts", "v", "backward").collect()
    assert back[0].v == 50.0  # the tie, not the earlier 40
    fwd = asof_join(left, right, "k", "ts", "v", "forward").collect()
    assert fwd[0].v == 50.0  # the tie, not the later 60
    # no preceding row at all -> null (left-outer)
    lonely = spark.createDataFrame(
        [(9, 0, 1)], "k BIGINT, ts BIGINT, row_id BIGINT"
    )
    assert (
        asof_join(lonely, right, "k", "ts", "v", "backward").collect()[0].v
        is None
    )
    with pytest.raises(ValueError, match="direction"):
        asof_join(left, right, "k", "ts", "v", "sideways")
    with pytest.raises(ValueError, match="project"):
        asof_join(right, right, "k", "ts", "v", "backward")


def test_interval_overlap_fuzz_vs_duckdb(spark):
    """Random closed intervals (start<=end drawn from 0..9 — touching
    endpoints guaranteed) on both sides, per case; the Spark operator's
    (pair, overlap-length) set must equal DuckDB's."""
    rng = random.Random(SEED + 2)
    lrows, rrows = [], []
    for case in range(N_CASES):
        n_l = 0 if case == 1 else rng.randint(0, 8)
        n_r = 0 if case == 0 else rng.randint(0, 4)
        for i in range(n_l):
            a, b = sorted((rng.randint(0, 9), rng.randint(0, 9)))
            lrows.append((case, case * 100 + i, a, b))
        for j in range(n_r):
            a, b = sorted((rng.randint(0, 9), rng.randint(0, 9)))
            rrows.append((case, case * 100 + j, a, b))
    l_pdf = pd.DataFrame(lrows, columns=["case_id", "lid", "s", "e"])
    r_pdf = pd.DataFrame(rrows, columns=["rcase_id", "rid", "ws", "we"])

    left = spark.createDataFrame(
        l_pdf, "case_id BIGINT, lid BIGINT, s BIGINT, e BIGINT"
    )
    right = spark.createDataFrame(
        r_pdf, "rcase_id BIGINT, rid BIGINT, ws BIGINT, we BIGINT"
    )
    from pyspark.sql import functions as F

    out = (
        interval_overlap_join(left, right, "s", "e", "ws", "we")
        .filter(F.col("case_id") == F.col("rcase_id"))
        .select(
            "lid",
            "rid",
            (
                F.least("e", "we") - F.greatest("s", "ws")
            ).alias("overlap"),
        )
    )
    got = sorted((r.lid, r.rid, r.overlap) for r in out.collect())

    con = duckdb.connect()
    con.register("l", l_pdf)
    con.register("r", r_pdf)
    want = sorted(
        tuple(t)
        for t in con.execute(
            """
            SELECT lid, rid, least(e, we) - greatest(s, ws) AS overlap
            FROM l JOIN r ON case_id = rcase_id
              AND s <= we AND e >= ws
            """
        ).fetchall()
    )
    con.close()
    assert len(want) > 20  # generator produced real overlap structure
    assert got == want


def test_bucketed_range_join_fuzz_vs_duckdb(spark):
    """Fuzz the bucketized point-in-interval composition against the
    naive theta join it must equal: random points/intervals from a
    small domain (bucket-edge coincidences guaranteed — values
    divisible by the width land EXACTLY on bucket boundaries, the
    off-by-one spot the equi-join-on-bucket rewrite can hide), all
    four endpoint-openness combos, several bucket widths, negative
    values included (floor-division semantics)."""
    from pyspark.sql import functions as F

    rng = random.Random(SEED + 3)
    for width, start_open, end_open in [
        (3, True, False),   # the attribution shape: start < ts <= end
        (5, False, False),  # closed both
        (2, True, True),    # open both
        (7, False, True),
    ]:
        prow, irow = [], []
        for case in range(N_CASES):
            n_p = 0 if case == 0 else rng.randint(0, 8)
            n_i = 0 if case == 1 else rng.randint(0, 5)
            for i in range(n_p):
                # lo=-10: negatives exercise floor (not truncate-to-0)
                prow.append(
                    (case, case * 100 + i, rng.randint(0, 2),
                     rng.randint(-10, 20))
                )
            for j in range(n_i):
                a, b = sorted(
                    (rng.randint(-10, 20), rng.randint(-10, 20))
                )
                irow.append((case, case * 100 + j, rng.randint(0, 2), a, b))
        p_pdf = pd.DataFrame(
            prow, columns=["case_id", "pid", "k", "ts"]
        )
        i_pdf = pd.DataFrame(
            irow, columns=["icase_id", "iid", "ik", "s", "e"]
        )
        from wiki_data_pipeline_spark.operators.joins import (
            bucketed_range_join,
        )

        points = spark.createDataFrame(
            p_pdf, "case_id BIGINT, pid BIGINT, k BIGINT, ts BIGINT"
        )
        intervals = spark.createDataFrame(
            i_pdf, "icase_id BIGINT, iid BIGINT, ik BIGINT, s BIGINT, e BIGINT"
        ).withColumnRenamed("icase_id", "case_id_r").withColumnRenamed(
            "ik", "k_r"
        )
        out = bucketed_range_join(
            points,
            intervals.withColumnRenamed("case_id_r", "case_id")
            .withColumnRenamed("k_r", "k"),
            on=["case_id", "k"],
            ts="ts",
            start="s",
            end="e",
            bucket_width=width,
            start_open=start_open,
            end_open=end_open,
        )
        got = sorted((r.pid, r.iid) for r in out.select("pid", "iid").collect())

        lo_op = ">" if start_open else ">="
        hi_op = "<" if end_open else "<="
        con = duckdb.connect()
        con.register("p", p_pdf)
        con.register("iv", i_pdf)
        want = sorted(
            tuple(t)
            for t in con.execute(
                f"""
                SELECT pid, iid FROM p JOIN iv
                  ON case_id = icase_id AND k = ik
                 AND ts {lo_op} s AND ts {hi_op} e
                """
            ).fetchall()
        )
        con.close()
        assert len(want) > 10, (width, len(want))
        assert got == want, (width, start_open, end_open)


def test_sessionize_gap_boundary_fuzz_vs_duckdb(spark):
    """Gap-boundary fuzz for the shared sessionization operator
    (operators/sessions.py with_session_seq — every sessionizing query
    rides it): gaps drawn from a boundary-heavy set {..., 1799, 1800,
    1801, ...} so both sides of the strictly-greater rule occur (a gap
    of exactly 1800 s must NOT split; 1801 must), plus zero-gap
    equal-ts ties resolved by the event_id tiebreak. Session numbering
    compared row-for-row against DuckDB's windowed mirror."""
    from wiki_data_pipeline_spark.operators.sessions import (
        with_session_seq,
    )

    rng = random.Random(SEED + 4)
    GAPS = [0, 1, 2, 10, 1799, 1800, 1801, 3600]
    rows, eid, used_gaps = [], 0, set()
    for case in range(N_CASES):
        for user in (0, 1):
            t = rng.randint(0, 100)
            for _ in range(rng.randint(0, 8)):
                rows.append((case * 10 + user, t, eid))
                eid += 1
                g = rng.choice(GAPS)
                used_gaps.add(g)
                t += g
    assert {1799, 1800, 1801, 0} <= used_gaps  # boundary actually hit
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_id"])
    df = spark.createDataFrame(
        pdf, "user_id BIGINT, ts BIGINT, event_id BIGINT"
    )
    got = sorted(
        (r.event_id, r.session_seq)
        for r in with_session_seq(df)
        .select("event_id", "session_seq")
        .collect()
    )
    con = duckdb.connect()
    con.register("e", pdf)
    want = sorted(
        tuple(t)
        for t in con.execute(
            """
            WITH g AS (
              SELECT event_id, user_id, ts,
                CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w > 1800
                THEN 1 ELSE 0 END AS is_new
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT event_id,
              CAST(sum(is_new) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              ) AS BIGINT) AS session_seq
            FROM g
            """
        ).fetchall()
    )
    con.close()
    assert len(got) > 100
    assert got == want


def test_cogrouped_asof_survives_output_pruning(spark, sf_dir):
    """count() regression pin (r14, caught by the driver-contract
    verify): when a parent prunes the cogrouped-map's output columns
    (count() needs none), Spark's column pruning used to strip the
    RIGHT cogroup child down to its grouping key because both children
    carried identical attribute exprIds (same parent events frame) —
    the pandas function then received v=['bucket'] and KeyError'd.
    join_cogrouped_asof now mints fresh exprIds on the view side; this
    pins that count() — a plan shape no parity/noop run exercises —
    both runs and agrees with the collected row count."""
    from wiki_data_pipeline_spark.plans.registry import all_queries

    df = all_queries()["join_cogrouped_asof"](spark, sf_dir)
    n = df.count()  # used to raise PythonException(KeyError: 'ts')
    assert n == len(df.collect())
    assert n > 0
