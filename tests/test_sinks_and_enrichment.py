"""Per-record JSON sink (K1 layout, consecutive indices, idempotence)
and rate-limited enrichment (ST5-ST8: retry/backoff, pacing floor,
dead-letter on exhaustion)."""

from __future__ import annotations

import glob
import json
import os
import time

import pytest
from pyspark.sql import functions as F

from wiki_data_pipeline_spark.io import read_table
from wiki_data_pipeline_spark.operators.enrichment import fetch_enrich
from wiki_data_pipeline_spark.sinks.per_record_json import (
    write_per_record_json_with_watermark,
)


def _stubs(spark, sf_dir, n=None):
    docs = read_table(spark, sf_dir, "documents")
    if n is not None:
        docs = docs.filter(F.col("doc_id") < n)
    return docs.select(
        "doc_id", F.concat(F.lit("Doc "), F.col("doc_id").cast("string")).alias("title")
    )


def test_per_record_json_layout(spark, sf_dir, tmp_path):
    out = str(tmp_path / "out")
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    n = write_per_record_json_with_watermark(docs, out, order_col="doc_id", batch_size=100)[0]
    assert n == docs.count()

    files = sorted(glob.glob(os.path.join(out, "batch_*", "article_*.json")))
    assert len(files) == n
    # reference layout: batch_{b:03d}/article_{i:06d}.json, 100 per dir
    assert files[0].endswith("batch_000/article_000000.json")
    assert os.path.basename(os.path.dirname(files[150])) == "batch_001"
    # consecutive global indices
    idxs = [int(os.path.basename(f)[8:14]) for f in files]
    assert idxs == list(range(n))
    # pretty JSON, parseable, ordered by doc_id
    with open(files[0], encoding="utf-8") as f:
        rec = json.load(f)
    assert rec["doc_id"] == 0 and "\n" in open(files[0]).read()

    # idempotent overwrite (ST3): rerun → same file count, same content
    n2 = write_per_record_json_with_watermark(docs, out, order_col="doc_id", batch_size=100)[0]
    assert n2 == n
    assert len(glob.glob(os.path.join(out, "batch_*", "article_*.json"))) == n


def test_per_record_json_indices_over_many_partitions(spark, tmp_path):
    """The offset math across partitions: 2,000 rows in 4 input
    partitions with doc_ids in shuffled order, enough rows per
    partition that the range bounds come from a random sample. The
    indices must run exactly 0..1999 and file ``i`` must hold the
    ``i``-th smallest doc_id."""
    import random

    ids = random.Random(11).sample(range(1_000_000), 2000)
    rdd = spark.sparkContext.parallelize([(i, f"Doc {i}") for i in ids], 4)
    df = spark.createDataFrame(rdd, "doc_id bigint, title string")
    out = str(tmp_path / "out")
    n, mx = write_per_record_json_with_watermark(
        df, out, order_col="doc_id", batch_size=500
    )
    assert (n, mx) == (2000, max(ids))
    by_index = {}
    for f in glob.glob(os.path.join(out, "batch_*", "article_*.json")):
        with open(f, encoding="utf-8") as fh:
            by_index[int(os.path.basename(f)[8:14])] = json.load(fh)["doc_id"]
    assert sorted(by_index) == list(range(2000))
    assert [by_index[i] for i in range(2000)] == sorted(ids)


def _shipped_writer(tmp_path):
    from wiki_data_pipeline_spark.sinks.per_record_json import _make_writer

    out = str(tmp_path / "out")

    def check_output():
        with open(os.path.join(out, "batch_001", "article_000013.json")) as f:
            assert json.load(f) == {"doc_id": 13, "title": "Doc 13"}

    call = "list(fn([(Row(doc_id=13, title='Doc 13'), 13)]))"
    return _make_writer(out, 10, 0, "doc_id"), call, "[(1, 13)]", check_output


def _shipped_fetcher(tmp_path):
    import hashlib

    from wiki_data_pipeline_spark.operators.enrichment import _make_fetcher

    call = (
        "[b.to_pylist() for b in fn([pa.RecordBatch.from_pydict({"
        "'doc_id': pa.array([13], pa.int64()), 'title': ['Doc 13'],"
        " 'error': pa.array([None], pa.string())})])]"
    )
    content = f"content[{hashlib.md5(b'13:Doc 13').hexdigest()}]"
    row = {
        "doc_id": 13, "title": "Doc 13", "api_content": content,
        "attempts": 1, "error": None,
    }
    fetch = _make_fetcher(["doc_id", "title"], None, 3, 0.01, 1.0, 0, None)
    return fetch, call, repr([[row]]), lambda: None


@pytest.mark.parametrize(
    "shipped", [_shipped_writer, _shipped_fetcher], ids=["writer", "fetcher"]
)
def test_partition_writer_pickles_by_value(tmp_path, shipped):
    """Both runners ship ``_make_writer``'s closure, and ``fetch_records``
    ships ``_make_fetcher``'s, to Python workers, which cannot import
    this package: each pickled closure must load and run in a process
    with no repo on ``sys.path``, install the zip re-read guard there,
    and never pull ``wiki_data_pipeline_spark`` into ``sys.modules``."""
    import subprocess
    import sys

    from pyspark import cloudpickle

    fn, call, expected, check_output = shipped(tmp_path)
    child = (
        "import pickle, sys, zipimport\n"
        "import pyarrow as pa\n"
        "from pyspark.sql import Row\n"
        "fn = pickle.loads(sys.stdin.buffer.read())\n"
        f"print({call})\n"
        "assert hasattr(zipimport.zipimporter.invalidate_caches, '__wrapped__')\n"
        "assert 'wiki_data_pipeline_spark' not in sys.modules\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, "-c", child],
        input=cloudpickle.dumps(fn),
        capture_output=True,
        cwd="/tmp",
        env=env,
        timeout=120,
    )
    assert res.returncode == 0, res.stderr.decode()[-2000:]
    assert res.stdout.decode().strip() == expected
    check_output()


def test_enrichment_happy_path(spark, sf_dir):
    enriched = fetch_enrich(_stubs(spark, sf_dir, n=50)).collect()
    assert len(enriched) == 50
    assert all(r.error is None and r.content.startswith("content[") for r in enriched)
    assert all(r.attempts == 1 for r in enriched)


def test_enrichment_retry_and_recovery(spark, sf_dir):
    enriched = fetch_enrich(
        _stubs(spark, sf_dir, n=30), fail_every=10, initial_delay=0.01
    ).collect()
    by_id = {r.doc_id: r for r in enriched}
    # every 10th doc fails once then succeeds on retry
    assert by_id[0].attempts == 2 and by_id[0].error is None
    assert by_id[1].attempts == 1


def test_enrichment_dead_letter_on_exhaustion(spark, sf_dir):
    enriched = fetch_enrich(
        _stubs(spark, sf_dir, n=10),
        fail_every=1,  # always fails on attempt 0...
        max_retries=0,  # ...and no retries → all dead-letter
        initial_delay=0.01,
    ).collect()
    assert all(r.content is None and r.error is not None for r in enriched)
    # exhaustion reports the ACTUAL number of tries (max_retries + 1),
    # not max_retries + 2 (the old post-increment off-by-one)
    assert all(r.attempts == 1 for r in enriched)


def test_enrichment_rate_limit_floor(spark, sf_dir):
    """Reference test strategy: wall-clock floor at a QPS cap
    (test_enhanced_parallel_client.py:171-174). 12 docs in 1 partition
    at 4 QPS global → ≥ ~2.2 s."""
    stubs = _stubs(spark, sf_dir, n=12).coalesce(1)
    t0 = time.monotonic()
    out = fetch_enrich(stubs, global_qps=4.0).collect()
    elapsed = time.monotonic() - t0
    assert len(out) == 12
    assert elapsed >= (12 - 1) / 4.0 * 0.8


def test_enrichment_injected_fetcher(spark, sf_dir):
    """A caller-supplied title→content fetcher (the reference's
    pluggable fetch interface, enhanced_production_mediawiki_client.py
    :397-415) is cloudpickled into the mapInPandas closure and wrapped
    by the same retry machinery: a transiently-failing fetcher recovers
    with attempts=2; content and source column come from the caller."""

    def flaky(title, _seen=set()):  # noqa: B006 - per-worker call memory
        if title not in _seen:
            _seen.add(title)
            raise TimeoutError(f"transient for {title}")
        return f"custom[{title.upper()}]"

    out = fetch_enrich(
        _stubs(spark, sf_dir, n=20).coalesce(1),
        fetcher=flaky,
        source_name="custom_api",
        initial_delay=0.005,
    ).collect()
    assert len(out) == 20
    assert all(r.error is None for r in out)
    assert all(r.content == f"custom[{r.title.upper()}]" for r in out)
    assert all(r.source == "custom_api" for r in out)
    # every title failed exactly once (first call) then succeeded
    assert all(r.attempts == 2 for r in out)


def test_enrichment_injected_fetcher_dead_letter_under_qps(spark, sf_dir):
    """An always-failing injected fetcher dead-letters every row after
    max_retries (ST4), and the injected path still honors the QPS
    floor: 8 docs × 2 tries in 1 partition at 8 QPS → ≥ ~1.9 s of
    pacing (reference wall-clock-floor strategy,
    test_enhanced_parallel_client.py:171-174)."""

    def always_fail(title):
        raise ConnectionError(f"hard failure for {title}")

    stubs = _stubs(spark, sf_dir, n=8).coalesce(1)
    t0 = time.monotonic()
    out = fetch_enrich(
        stubs,
        fetcher=always_fail,
        global_qps=8.0,
        max_retries=1,
        initial_delay=0.001,
        max_delay=0.002,
    ).collect()
    elapsed = time.monotonic() - t0
    assert len(out) == 8
    assert all(r.content is None and r.source is None for r in out)
    assert all("hard failure" in r.error for r in out)
    assert all(r.attempts == 2 for r in out)  # max_retries + 1 tries
    # 16 paced calls at 8 QPS → ≥ 15/8 s floor (0.8 noise factor)
    assert elapsed >= (8 * 2 - 1) / 8.0 * 0.8


def test_enrichment_none_returning_fetcher_dead_letters(spark, sf_dir):
    """A fetcher returning None (the common not-found client
    convention) must dead-letter, not slip through as a 'success' with
    content=None and error=None — the split every downstream consumer
    keys on is error-isNull."""

    def not_found(title):
        return None if title.endswith(("0", "5")) else f"ok[{title}]"

    out = fetch_enrich(
        _stubs(spark, sf_dir, n=20).coalesce(1),
        fetcher=not_found,
        max_retries=0,
        initial_delay=0.001,
    ).collect()
    ok = [r for r in out if r.error is None]
    bad = [r for r in out if r.error is not None]
    assert len(ok) + len(bad) == 20 and bad
    assert all(r.content is not None for r in ok)
    assert all(r.content is None and "returned None" in r.error for r in bad)


def test_enrichment_config_driven_fetcher_spec(spark, sf_dir):
    """A 'module:attr' fetcher spec (the YAML-configurable client
    selection — reference per-entry-point client choice, main.py:25 vs
    production_main.py:25) resolves to the named callable before the
    closure ships."""
    from wiki_data_pipeline_spark.operators.enrichment import (
        demo_fetcher,
        resolve_fetcher,
    )

    out = fetch_enrich(
        _stubs(spark, sf_dir, n=10),
        fetcher="wiki_data_pipeline_spark.operators.enrichment:demo_fetcher",
        source_name="demo_api",
    ).collect()
    assert all(r.content == demo_fetcher(r.title) for r in out)
    assert all(r.content.startswith("demo[") for r in out)
    assert all(r.source == "demo_api" for r in out)

    import pytest

    with pytest.raises(ValueError, match="module.path:attr"):
        resolve_fetcher("no_colon_here")
    with pytest.raises(ModuleNotFoundError):
        resolve_fetcher("not.a.real.module:fn")
    # callables and None pass through untouched
    assert resolve_fetcher(None) is None
    assert resolve_fetcher(demo_fetcher) is demo_fetcher


def test_s8_json_read_roundtrip(spark, sf_dir, tmp_path):
    """S8 blob JSON read (src/azure_manager.py:127-136): the K1 sink's
    per-record files read back with an explicit schema must reproduce
    the exact rows written — the reference's download_blob path, with
    schema-on-read made explicit (SURVEY.md §1.3)."""
    out = str(tmp_path / "rt")
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    write_per_record_json_with_watermark(docs, out, order_col="doc_id", batch_size=100)

    back = spark.read.schema("doc_id bigint, lang string, n_chars bigint").option(
        "multiLine", True
    ).json(os.path.join(out, "batch_*", "article_*.json"))
    assert back.count() == docs.count()
    assert back.exceptAll(docs).count() == 0 and docs.exceptAll(back).count() == 0


def test_a4_observe_metrics(spark, sf_dir):
    """A4 running counters (src/main.py:93-94,119,124,139): the
    processed/failed tallies become observe() metrics computed inline
    with the action — no second pass over the data."""
    from pyspark.sql import Observation

    docs = read_table(spark, sf_dir, "documents")
    obs = Observation("pipeline_counters")
    valid = F.col("text").isNotNull() & (F.length(F.trim("text")) >= 1)
    observed = docs.observe(
        obs,
        F.count("*").alias("total"),
        F.sum(valid.cast("long")).alias("processed"),
        F.sum((~valid).cast("long")).alias("failed"),
    )
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["total"] == got["processed"] + got["failed"]
    assert got["total"] == docs.count()


def test_l5_chunked_parallelism(spark, sf_dir):
    """L5 chunking (src/enhanced_production_mediawiki_client.py:368-370):
    chunk_size=100 slices become repartition(n) — every partition holds
    a bounded share of the work for the parallel fetch stage."""
    docs = read_table(spark, sf_dir, "documents")
    total = docs.count()
    n_chunks = max(1, total // 100)
    sizes = (
        docs.repartition(n_chunks)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    assert len(sizes) == n_chunks
    assert sum(r["count"] for r in sizes) == total
    assert max(r["count"] for r in sizes) <= 3 * (total // n_chunks)


def test_date_partitioned_layout_and_pruning(spark, sf_dir, tmp_path):
    """K1/L4 at scale: predicate-aligned partitionBy(date) layout —
    Hive-style directories, no small-file explosion, and a date filter
    must prune to PartitionFilters (zero I/O for other dates)."""
    import os

    from wiki_data_pipeline_spark.sinks.partitioned_layout import (
        read_pruned,
        write_date_partitioned,
    )

    out = str(tmp_path / "dated")
    events = read_table(spark, sf_dir, "events")
    write_date_partitioned(events, out, ts_col="ts", date_col="event_date")

    # Hive-style layout: one directory per distinct day
    dirs = sorted(d for d in os.listdir(out) if d.startswith("event_date="))
    n_days = events.select(F.date_trunc("day", "ts")).distinct().count()
    assert len(dirs) == n_days
    # pre-shuffle by partition col → each day holds ONE file, not
    # one per upstream task (the small-file explosion this layout avoids)
    for d in dirs:
        files = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
        assert len(files) == 1, f"{d}: {len(files)} files"

    # row fidelity through the round-trip
    assert spark.read.parquet(out).count() == events.count()

    # partition pruning: the date predicate must land in PartitionFilters,
    # and the pruned read returns exactly that day's rows
    a_day = dirs[0].split("=", 1)[1]
    pruned = read_pruned(spark, out, "event_date", a_day)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "event_date" in plan.split(
        "PartitionFilters:", 1
    )[1].split("]", 1)[0]
    expected = events.filter(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd") == a_day
    ).count()
    assert pruned.count() == expected > 0


def test_schema_evolution_merge_read(spark, sf_dir, tmp_path):
    """Schema-on-read for drifting record shapes (SURVEY.md §1: the
    reference's records are schemaless-by-convention dicts whose key
    set grew across pipeline versions — T1 vs T2). Parquet layouts
    written by different pipeline versions are read as ONE table via
    mergeSchema: old rows surface the new columns as nulls, exactly
    the dict-get-with-default the reference did per row (§2.8)."""
    out = str(tmp_path / "evolving")
    docs = read_table(spark, sf_dir, "documents")
    v1 = docs.filter(F.col("doc_id") < 100).select("doc_id", "text")
    v2 = (
        docs.filter(F.col("doc_id") >= 100)
        .select("doc_id", "text", "lang", F.col("n_chars").alias("content_length"))
    )
    v1.write.mode("overwrite").parquet(out + "/v=1")
    v2.write.mode("overwrite").parquet(out + "/v=2")

    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert {"doc_id", "text", "lang", "content_length"} <= set(merged.columns)
    assert merged.count() == docs.count()
    # old-version rows: evolved columns are null; new rows carry values
    old = merged.filter(F.col("doc_id") < 100)
    assert old.filter(F.col("lang").isNotNull()).count() == 0
    new = merged.filter(F.col("doc_id") >= 100)
    assert new.filter(F.col("content_length").isNull()).count() == 0
    # coalesce-with-default = the reference's dict.get(k, default)
    filled = merged.select(
        F.coalesce("lang", F.lit("unknown")).alias("lang")
    )
    assert filled.filter(F.col("lang") == "unknown").count() == old.count()


def test_ivf_index_build_probe_matches_inline_query(spark, sf_dir, tmp_path):
    """The persisted IVF index must return exactly what the inline
    sim_ann_ivf query computes, and the postings scan must prune to
    the probed cells (PartitionFilters on cid)."""
    from wiki_data_pipeline_spark.functions.vectors import as_double
    from wiki_data_pipeline_spark.io import read_table
    from wiki_data_pipeline_spark.operators.ann_index import (
        build_ivf_index,
        probe_ivf,
    )
    from wiki_data_pipeline_spark.plans.registry import get

    idx = str(tmp_path / "ivf")
    build_ivf_index(spark, sf_dir, idx)
    queries = (
        read_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"),
            as_double("embedding").alias("qe"),
        )
    )
    got = probe_ivf(spark, idx, queries)
    expected = get("sim_ann_ivf").fn(spark, sf_dir)
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0

    # r10: the probe is join-based (no driver-side collect of centroid
    # ids) — the probed-cell restriction must reach the postings scan
    # as DYNAMIC partition pruning injected from the broadcast probe
    # side (dynamicpruningexpression in the scan's PartitionFilters)
    import re

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert re.search(
        r"PartitionFilters: \[[^\]]*dynamicpruning", plan, re.IGNORECASE
    ), plan


def test_schema_evolution_merge_read_events(spark, sf_dir, tmp_path):
    """Data-lake schema evolution (S2 source robustness): an old
    writer's files lack a column added later; mergeSchema must unify
    the layout and null-fill the old rows, and filters on the new
    column must not error on old files."""
    from wiki_data_pipeline_spark.io import read_table

    out = str(tmp_path / "evolving")
    events = read_table(spark, sf_dir, "events")
    old = events.filter(F.col("event_id") <= 500).select(
        "event_id", "event_type", "value"
    )
    new = events.filter(F.col("event_id") > 500).select(
        "event_id", "event_type", "value",
        F.lit("v2").alias("schema_version"),
    )
    old.write.parquet(out + "/batch=0")
    new.write.parquet(out + "/batch=1")

    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(merged.columns) == {
        "event_id", "event_type", "value", "schema_version", "batch"
    }
    assert merged.count() == events.count()
    assert (
        merged.filter(F.col("schema_version").isNull()).count()
        == old.count()
    )
    assert (
        merged.filter(F.col("schema_version") == "v2").count() == new.count()
    )
