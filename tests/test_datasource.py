"""Custom Python Data Source: the K1 per-record-JSON layout read back
as a partition-planned, filter-pushing connector (S1/S8/S9/F1
re-expressed — see sources/paged_json.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from wiki_data_pipeline_spark.io import read_table
from wiki_data_pipeline_spark.sinks.per_record_json import (
    write_per_record_json_with_watermark,
)
from wiki_data_pipeline_spark.sources.paged_json import read_paged_json, register

_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint, batch int"


def _stage(spark, sf_dir, tmp_path) -> tuple[str, int, int]:
    out = str(tmp_path / "paged")
    docs = read_table(spark, sf_dir, "documents").limit(300)
    n = write_per_record_json_with_watermark(docs, out, order_col="doc_id", batch_size=100)[0]
    n_batches = len([d for d in os.listdir(out) if d.startswith("batch_")])
    return out, n, n_batches


def test_paged_json_roundtrip_and_partition_planning(spark, sf_dir, tmp_path):
    out, n, n_batches = _stage(spark, sf_dir, tmp_path)
    assert n == 300 and n_batches == 3

    register(spark)
    df = read_paged_json(spark, out, _SCHEMA)

    # one Spark partition per batch directory (S1: page ≡ task)
    assert df.rdd.getNumPartitions() == n_batches
    assert df.count() == n

    # full-fidelity roundtrip against the original rows
    docs = read_table(spark, sf_dir, "documents").limit(300)
    back = df.select("doc_id", "text", "lang", "source", "n_chars")
    assert back.exceptAll(docs).count() == 0
    assert docs.exceptAll(back).count() == 0

    # the virtual batch column follows the sink's layout
    got = {r["batch"] for r in df.select("batch").distinct().collect()}
    assert got == {0, 1, 2}


def test_paged_json_filter_pushdown_prunes_partitions(spark, sf_dir, tmp_path):
    out, _, n_batches = _stage(spark, sf_dir, tmp_path)
    register(spark)

    # equality on the virtual batch column prunes to ONE planned
    # partition — the pruned pages are never listed or parsed (F1:
    # predicate inside the request)
    one = read_paged_json(spark, out, _SCHEMA).filter(F.col("batch") == 1)
    assert one.rdd.getNumPartitions() == 1
    assert one.count() == 100
    assert one.agg(F.min("doc_id"), F.max("doc_id")).first() == (100, 199)

    # range predicates prune too
    rng = read_paged_json(spark, out, _SCHEMA).filter(F.col("batch") >= 1)
    assert rng.rdd.getNumPartitions() == n_batches - 1
    assert rng.count() == 200

    # non-batch predicates are NOT consumed — Spark evaluates them
    # post-scan and results stay correct
    mixed = read_paged_json(spark, out, _SCHEMA).filter(
        (F.col("batch") == 1) & (F.col("doc_id") % 2 == 0)
    )
    assert mixed.count() == 50

    # prefix option restricts the listing (S9 blob-prefix scan)
    none = spark.read.format("paged_json").schema(_SCHEMA).option(
        "prefix", "nope_"
    ).load(out)
    assert none.count() == 0


def test_paged_json_writer_roundtrip(spark, sf_dir, tmp_path):
    """Writer half: df.write.format('paged_json') lands the K1 layout
    with id-derived idempotent paths, a commit-protocol _SUCCESS stamp,
    and reads back losslessly through the reader half."""
    out = str(tmp_path / "written")
    register(spark)
    docs = read_table(spark, sf_dir, "documents").limit(250).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    (
        docs.write.format("paged_json")
        .option("path", out)
        .option("batch_size", "100")
        .mode("append")
        .save()
    )
    # commit stamped the total row count
    assert open(os.path.join(out, "_SUCCESS"), encoding="utf-8").read() == "250"
    # layout: id-derived batch dirs and article names
    assert os.path.exists(os.path.join(out, "batch_000", "article_000000.json"))
    assert os.path.exists(os.path.join(out, "batch_002", "article_000249.json"))

    back = read_paged_json(spark, out, _SCHEMA).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    assert back.count() == 250
    assert back.exceptAll(docs).count() == 0

    # rewriting the same rows is a no-op layout-wise (idempotent paths)
    docs.write.format("paged_json").option("path", out).option(
        "batch_size", "100"
    ).mode("append").save()
    assert read_paged_json(spark, out, _SCHEMA).count() == 250


def _corrupt_stage(spark, sf_dir, tmp_path) -> str:
    """A staged layout with three rotted files in batch_001: invalid
    JSON syntax, a non-object top level, and non-UTF-8 bytes (the blob
    classes reference src/azure_manager.py:126-136 absorbs by returning
    None instead of raising)."""
    out, _, _ = _stage(spark, sf_dir, tmp_path)
    b1 = os.path.join(out, "batch_001")
    with open(os.path.join(b1, "article_100100.json"), "w") as f:
        f.write('{"doc_id": 100100, "text": "truncated')
    with open(os.path.join(b1, "article_100101.json"), "w") as f:
        f.write("[1, 2, 3]")
    with open(os.path.join(b1, "article_100102.json"), "wb") as f:
        f.write(b"\xff\xfe{not json}")
    return out


def test_paged_json_malformed_modes(spark, sf_dir, tmp_path):
    out = _corrupt_stage(spark, sf_dir, tmp_path)
    register(spark)

    # PERMISSIVE (default): corrupt files become all-null rows; with a
    # declared corrupt-record column the raw text is preserved there,
    # and it stays null for well-formed rows.
    schema_cc = _SCHEMA + ", _corrupt_record string"
    df = read_paged_json(spark, out, schema_cc)
    assert df.count() == 303
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert bad.count() == 3
    assert bad.filter(F.col("doc_id").isNull()).count() == 3
    raws = {r["_corrupt_record"] for r in bad.collect()}
    assert '[1, 2, 3]' in raws
    assert any(r.startswith('{"doc_id": 100100') for r in raws)
    # without the corrupt column the rows still surface (as nulls)
    plain = read_paged_json(spark, out, _SCHEMA)
    assert plain.count() == 303
    assert plain.filter(F.col("doc_id").isNull()).count() == 3

    # DROPMALFORMED: rotted files are skipped, good rows intact
    dropped = (
        spark.read.format("paged_json")
        .schema(_SCHEMA)
        .option("mode", "DROPMALFORMED")
        .load(out)
    )
    assert dropped.count() == 300
    assert dropped.filter(F.col("doc_id").isNull()).count() == 0

    # FAILFAST: the scan raises, naming the offending file
    strict = (
        spark.read.format("paged_json")
        .schema(_SCHEMA)
        .option("mode", "FAILFAST")
        .load(out)
    )
    with pytest.raises(Exception) as ei:
        strict.count()
    assert "malformed record" in str(ei.value)

    # unknown mode rejected at plan time
    with pytest.raises(Exception, match="unknown mode"):
        spark.read.format("paged_json").schema(_SCHEMA).option(
            "mode", "LENIENT"
        ).load(out).count()
