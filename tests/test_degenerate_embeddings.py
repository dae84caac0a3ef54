"""Degenerate-embedding robustness, cross-engine (the failure class
Spark 4's ANSI mode turns into a JOB CRASH: a plain ``/`` throws
DIVIDE_BY_ZERO even for doubles, so ONE all-zero or constant vector —
dead/padding embeddings, routine in real corpora — would kill every
cosine query and the scalar quantizer; DuckDB instead NULLs x/0, and
its NULL-skipping least() would quietly emit code 255 for constant
vectors. Neither engine had self-consistent semantics until guarded).

Pins, against live DuckDB mirrors:
- functions/vectors.py cosine() (the ONE definition behind all 13
  similarity call sites): zero-norm → NULL in both engines, threshold
  filters drop the row identically, finite scores byte-agree;
- the REAL registered `emb_scalar_quantize` query (driven end-to-end
  against a degenerate parquet corpus + its registered oracle SQL):
  constant vector → codes all 0 / MSE exactly 0; zero vector likewise;
  normal vectors round-trip with small MSE.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from wiki_data_pipeline_spark.functions.vectors import as_double, cosine

def test_cosine_zero_norm_nulls_match_duckdb(spark):
    pdf = pd.DataFrame(
        {
            "pair_id": [0, 1, 2, 3],
            "a": [[1.0, 2.0], [0.0, 0.0], [1.0, 0.0], [0.0, 0.0]],
            "b": [[2.0, 1.0], [1.0, 1.0], [0.0, 0.0], [0.0, 0.0]],
        }
    )
    sdf = spark.createDataFrame(
        pdf, "pair_id BIGINT, a ARRAY<DOUBLE>, b ARRAY<DOUBLE>"
    )
    got = {
        r.pair_id: r.score
        for r in sdf.select(
            "pair_id", F.round(cosine(as_double("a"), as_double("b")), 6).alias("score")
        ).collect()
    }
    con = duckdb.connect()
    con.register("t", pdf)
    want = dict(
        con.execute(
            """
            SELECT pair_id,
              round(list_dot_product(a, b)
                / (sqrt(list_dot_product(a, a)) * sqrt(list_dot_product(b, b))),
                6) AS score
            FROM t
            """
        ).fetchall()
    )
    con.close()
    assert got[0] == pytest.approx(0.8) and want[0] == pytest.approx(0.8)
    for pid in (1, 2, 3):  # any zero-norm side → NULL in BOTH engines
        assert got[pid] is None and want[pid] is None
    # threshold filters drop NULL rows identically (no crash, no keep)
    kept = sdf.filter(
        cosine(as_double("a"), as_double("b")) >= F.lit(0.5)
    ).count()
    assert kept == 1


@pytest.fixture()
def degenerate_sf(tmp_path):
    """A tiny sf-dir whose embeddings table contains the degenerate
    shapes: constant vector, all-zero vector, single-element vector,
    plus normal rows — same schema as the driver fixture."""
    rows = [
        (0, [0.5, -1.5, 2.0, 0.25], 0),
        (1, [1.0, 0.0, -2.0, 3.5], 1),
        (2, [7.25, 7.25, 7.25, 7.25], 0),   # constant, nonzero
        (3, [0.0, 0.0, 0.0, 0.0], 1),        # all-zero (dead embedding)
        (4, [42.0], 0),                      # single element (constant)
    ]
    table = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [r[1] for r in rows], pa.list_(pa.float32())
            ),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    pq.write_table(table, str(tmp_path / "embeddings.parquet"))
    return str(tmp_path)


def test_scalar_quantize_degenerate_cross_engine(spark, degenerate_sf):
    import __spark_entry__ as mod

    fn = mod.queries()["emb_scalar_quantize"]
    sql = mod.oracle_sql()["emb_scalar_quantize"]
    got = {
        r.vec_id: (r.vmin, r.vmax, r.codes_csv, r.recon_mse)
        for r in fn(spark, degenerate_sf).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{degenerate_sf}/embeddings.parquet')"
    )
    want = {r[0]: tuple(r[1:]) for r in con.execute(sql).fetchall()}
    con.close()

    assert set(got) == set(want) == {0, 1, 2, 3, 4}
    for vid in got:
        g, w = got[vid], want[vid]
        assert g[:3] == w[:3], vid          # vmin/vmax/codes exact
        assert g[3] == pytest.approx(w[3], abs=1e-12), vid
    # degenerate semantics: constant/zero vectors → all codes 0, MSE 0
    for vid, dim in [(2, 4), (3, 4), (4, 1)]:
        vmin, vmax, codes_csv, mse = got[vid]
        assert vmin == vmax
        assert codes_csv == ",".join(["0"] * dim)
        assert mse == 0.0
    # normal vectors: finite small MSE, codes within [0, 255]
    for vid in (0, 1):
        _, _, codes_csv, mse = got[vid]
        assert all(0 <= int(c) <= 255 for c in codes_csv.split(","))
        assert mse is not None and math.isfinite(mse) and mse > 0


def test_scalar_quantize_fixture_parity_unchanged(spark, sf_dir):
    """The guard must be invisible on the real fixture (no constant
    vectors there): spot-check the registered query still matches its
    oracle on sf0.001."""
    import __spark_entry__ as mod

    fn = mod.queries()["emb_scalar_quantize"]
    sql = mod.oracle_sql()["emb_scalar_quantize"]
    got = {
        r.vec_id: (r.vmin, r.vmax, r.codes_csv)
        for r in fn(spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    want = {r[0]: tuple(r[1:4]) for r in con.execute(sql).fetchall()}
    con.close()
    assert got == {k: v[:3] for k, v in want.items()}


def test_vec_is_finite_gate(spark):
    """The garbage-embedding gate (r12): NaN, +/-Inf, and
    NULL-component vectors all read non-finite; ordinary vectors
    (including zero and constant — degenerate but FINITE) pass. The
    NULL-component shape is pinned here rather than in the adversarial
    fixture because DuckDB's list_inner_product hard-errors on NULL
    elements across the whole similarity family."""
    from pyspark.sql import functions as F

    from wiki_data_pipeline_spark.functions.vectors import vec_is_finite

    rows = [
        (1, [1.0, 2.0, 3.0], True),
        (2, [0.0, 0.0, 0.0], True),          # zero: degenerate, finite
        (3, [7.25, 7.25, 7.25], True),       # constant: finite
        (4, [float("nan"), 1.0, 1.0], False),
        (5, [float("inf"), 1.0, 1.0], False),
        (6, [float("-inf"), 1.0, 1.0], False),
        (7, [None, 1.0, 1.0], False),        # NULL component
        (8, None, None),                     # NULL vector -> NULL (filter drops)
        (9, [], False),                      # empty: zero-dim garbage (r13)
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v, _ in rows], "vec_id long, embedding array<double>"
    )
    got = {
        r.vec_id: r.ok
        for r in df.select(
            "vec_id", vec_is_finite("embedding").alias("ok")
        ).collect()
    }
    assert got == {i: expect for i, _v, expect in rows}
    kept = {
        r.vec_id
        for r in df.filter(vec_is_finite("embedding")).collect()
    }
    assert kept == {1, 2, 3}


def test_finite_gate_sql_mirror_matches(spark):
    """_FINITE_EMB_SQL (the DuckDB mirror) classifies the same shapes
    identically — NaN/Inf rows excluded, degenerate-but-finite kept,
    and (r13, ADVICE) the EMPTY vector excluded on both engines: Spark
    forall([]) is vacuously True while list_aggregate([], 'min') is
    NULL, so each gate needs (and now has) an explicit length term.
    (NULL-component lists are outside the mirror's contract: DuckDB's
    vector functions reject them before any gate could run.)"""
    import duckdb as _duck

    from wiki_data_pipeline_spark.plans.llm_ops import _FINITE_EMB_SQL

    con = _duck.connect()
    got = {
        r[0]: r[1]
        for r in con.execute(
            f"""
            SELECT vec_id, {_FINITE_EMB_SQL} AS ok FROM (
              SELECT 1 AS vec_id, [1.0, 2.0, 3.0] AS embedding
              UNION ALL SELECT 2, [0.0, 0.0, 0.0]
              UNION ALL SELECT 4, ['nan'::DOUBLE, 1.0, 1.0]
              UNION ALL SELECT 5, ['inf'::DOUBLE, 1.0, 1.0]
              UNION ALL SELECT 6, ['-inf'::DOUBLE, 1.0, 1.0]
              UNION ALL SELECT 9, []::DOUBLE[]
            )
            """
        ).fetchall()
    }
    con.close()
    # the filter semantics match Spark's: True kept, False/NULL dropped
    assert got[1] and got[2]
    assert not got[4] and not got[5] and not got[6]
    assert not got[9]
