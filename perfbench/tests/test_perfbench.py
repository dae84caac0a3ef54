"""Unit tests for the benchmark's own code. Only the wrapper test starts
Spark (a local[1] session), because some program modules build UDFs
when they are imported.

    python3 -m pytest perfbench/tests -q      (from the repo root)
"""

from __future__ import annotations

import filecmp
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import datagen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


# --- self-time arithmetic ----------------------------------------------


def test_covered_merges_overlaps_and_clips():
    assert spans.covered(0, 10, []) == 0
    assert spans.covered(0, 10, [(1, 3), (2, 5)]) == 4
    assert spans.covered(0, 10, [(-5, 1), (9, 20)]) == 2
    assert spans.covered(0, 10, [(1, 2), (4, 6), (5, 7)]) == 4
    assert spans.covered(0, 10, [(12, 15)]) == 0


def _span(tr, sid, parent, name, start, end, jobs=0):
    tr.spans.append({"id": sid, "parent": parent, "name": name, "start": start, "end": end, "jobs": jobs})


def test_self_time_is_span_minus_children():
    tr = spans.Tracer("t")
    _span(tr, 0, None, "plans.build", 0.0, 10.0, jobs=1)
    _span(tr, 1, 0, "io.read_table", 1.0, 2.0, jobs=1)
    _span(tr, 2, 0, "operators.pin", 3.0, 7.0, jobs=2)
    _span(tr, 3, 2, "io.read_table", 4.0, 5.0, jobs=1)
    s = tr.summary()
    assert s["plans.build"]["wall_s"] == 10.0
    assert s["plans.build"]["self_s"] == 5.0
    assert s["operators.pin"]["self_s"] == 3.0
    assert s["io.read_table"] == {"calls": 2, "wall_s": 2.0, "self_s": 2.0, "jobs": 2, "jobs_total": 2}
    assert s["plans.build"]["jobs_total"] == 5
    assert s["operators.pin"]["jobs_total"] == 3
    assert [x["id"] for x in tr.descendants({2})] == [2, 3]


def test_span_nesting_without_spark():
    tr = spans.Tracer("t")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert {s["run"] for s in tr.spans} == {"t"}


# --- generator determinism ---------------------------------------------


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    if filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)[1:] != ([], []):
        return False
    return all(_same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_corpus_is_byte_identical_per_seed(tmp_path):
    args = dict(n_docs=500, n_files=3, n_deltas=2, delta_share=0.1)
    a = datagen.make_corpus(str(tmp_path / "a"), 7, **args)
    datagen.make_corpus(str(tmp_path / "b"), 7, **args)
    datagen.make_corpus(str(tmp_path / "c"), 8, **args)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))
    docs = datagen.read_docs(a["base_files"])
    deltas = datagen.read_docs(a["delta_files"])
    assert sorted(docs) == list(range(500))
    assert min(deltas) > max(docs)
    assert any(t is None for t in docs.values()) and any(t == "" for t in docs.values())


def test_tables_are_byte_identical_per_seed(tmp_path):
    rows = datagen.make_tables(str(tmp_path / "a"), 3)
    datagen.make_tables(str(tmp_path / "b"), 3)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert rows["lineitem"] == datagen.TABLE_ROWS["lineitem"]
    assert len(os.listdir(tmp_path / "a")) == 10


def test_validity_matches_pipeline_rule():
    assert not datagen.is_valid(None)
    assert not datagen.is_valid("")
    assert not datagen.is_valid("   ")
    assert datagen.is_valid(" a ")


# --- wrapper install and restore ---------------------------------------


def test_wrappers_cover_every_binding_and_restore(tmp_path):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", str(tmp_path / "wh"))
        .getOrCreate()
    )
    try:
        _check_wrappers()
    finally:
        spark.stop()


def _check_wrappers():
    from wiki_data_pipeline_spark import io
    from wiki_data_pipeline_spark.operators import pin
    from wiki_data_pipeline_spark.plans import llm_ops, star_schema
    from wiki_data_pipeline_spark.streaming.checkpoint import HighWatermarkCheckpoint

    originals = (io.read_table, pin.pin, HighWatermarkCheckpoint.load)
    tr, patcher = spans.Tracer("t"), spans.Patcher(run.PACKAGE)
    run.install_tracing(tr, patcher)
    try:
        assert star_schema.read_table is io.read_table is not originals[0]
        assert star_schema.read_table.__wrapped_by_tracer__ is originals[0]
        if hasattr(llm_ops, "pin"):
            assert llm_ops.pin.__wrapped_by_tracer__ is originals[1]
        assert HighWatermarkCheckpoint.load is not originals[2]
        assert run.leftover_wrappers()
    finally:
        patcher.restore()
    assert run.leftover_wrappers() == []
    assert (io.read_table, pin.pin, HighWatermarkCheckpoint.load) == originals
    assert star_schema.read_table is originals[0]
