"""Rate-limited parallel enrichment (reference ST5/ST6/ST7/ST8: the
thread-pooled, retried, QPS-capped per-article content fetch —
src/enhanced_production_mediawiki_client.py:362-415 and
src/mediawiki_client.py:22-64).

Spark mapping: the reference's ThreadPoolExecutor over 100-article
chunks IS partition parallelism; the per-request machinery (token
bucket, retry with exponential backoff, dead-letter on exhaustion)
lives inside one mapInArrow closure (built by ``_make_fetcher``)
under ``fetch_records``, which carries whole record frames through;
``fetch_enrich`` is a projection over it for stub tables. Each
partition gets a local QPS budget of global_qps / num_partitions — the
distributed analog of one shared limiter (no cross-executor
coordination needed, which would never scale anyway).

The closure is fully self-contained (cloudpickle by value — workers
don't have this package importable), and the default "fetcher" is a
deterministic pure function so tests are hermetic, mirroring the
reference's test strategy of asserting rate-limit floors by
wall-clock (test_enhanced_parallel_client.py:171-174)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wiki_data_pipeline_spark.session import worker_zip_guard


def resolve_fetcher(spec):
    """Resolve a ``"module.path:attr"`` import string to the callable
    it names — the config-driven analog of the reference picking its
    client class per entry point (src/main.py:25 MediaWikiClient vs
    src/production_main.py:25 ProductionMediaWikiClient): a YAML
    config can select the fetch implementation without code changes.
    Callables pass through unchanged; on a cluster the named module
    must be shipped to executors (standard --py-files), since a
    by-reference function pickles as an import."""
    if spec is None or callable(spec):
        return spec
    import importlib

    mod, sep, attr = spec.partition(":")
    if not sep or not mod or not attr:
        raise ValueError(
            f"fetcher spec must be 'module.path:attr', got {spec!r}"
        )
    return getattr(importlib.import_module(mod), attr)


def demo_fetcher(title: str) -> str:
    """Deterministic alternate fetcher, importable by spec string
    (``wiki_data_pipeline_spark.operators.enrichment:demo_fetcher``) —
    the hermetic stand-in for a second client implementation."""
    import hashlib

    digest = hashlib.sha1(title.encode()).hexdigest()[:12]
    return f"demo[{digest}]"


def fetch_records(
    records: DataFrame,
    global_qps: float | None = None,
    max_retries: int = 3,
    initial_delay: float = 0.05,
    max_delay: float = 1.0,
    fail_every: int = 0,
    fetcher: Callable[[str], str] | str | None = None,
) -> DataFrame:
    """Fetch content for the rows of ``records``: a frame with
    ``doc_id``, ``title`` and a nullable string ``error`` column.

    Rows whose ``error`` is set are passed through unfetched; the
    others are fetched under the pacing / retry contract described in
    :func:`fetch_enrich`. Every column except ``error`` passes through
    unchanged, then come ``api_content`` and ``attempts`` (both null
    on an unfetched row) and ``error``, which a fetch that ran out of
    retries sets to its last exception message. So a row was fetched
    iff ``attempts`` is set, and failed iff ``error`` is set too.

    Arrow batches in and out (``mapInArrow``): the passed-through
    columns, text included, never go through pandas or Python
    objects."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    fetcher = resolve_fetcher(fetcher)
    part_qps = (
        global_qps / max(1, records.rdd.getNumPartitions()) if global_qps else None
    )
    keep = [c for c in records.columns if c != "error"]
    schema = StructType(
        [records.schema[c] for c in keep]
        + [
            StructField("api_content", StringType()),
            StructField("attempts", IntegerType()),
            StructField("error", StringType()),
        ]
    )
    fetch = _make_fetcher(
        keep, part_qps, max_retries, initial_delay, max_delay, fail_every, fetcher
    )
    return records.mapInArrow(fetch, schema)


def _make_fetcher(
    keep: list[str],
    part_qps: float | None,
    max_retries: int,
    initial_delay: float,
    max_delay: float,
    fail_every: int,
    fetcher: Callable[[str], str] | None,
):
    """Build ``fetch_records``' Arrow-batch mapper as a self-contained
    closure (cloudpickle by value — workers can't import this
    package): each output batch holds the input's ``keep`` columns,
    then ``api_content``, ``attempts`` and ``error``."""
    guard = worker_zip_guard()

    def _fetch(batches):
        guard()
        import hashlib
        import time as _time

        import pyarrow as pa

        last_req = [0.0]

        def _pace() -> None:
            if part_qps is None:
                return
            now = _time.monotonic()
            min_gap = 1.0 / part_qps
            wait = last_req[0] + min_gap - now
            if wait > 0:
                _time.sleep(wait)
            last_req[0] = _time.monotonic()

        def _fake_fetch(doc_id: int, title: str, attempt: int) -> str:
            # deterministic stand-in for the HTTP GET: content derived
            # from the key; transient failure on first attempt for
            # every `fail_every`-th doc
            if fail_every and doc_id % fail_every == 0 and attempt == 0:
                raise TimeoutError(f"transient fetch failure for {doc_id}")
            digest = hashlib.md5(f"{doc_id}:{title}".encode()).hexdigest()
            return f"content[{digest}]"

        if fetcher is not None:
            # injected title→content callable; attempt handling stays
            # in the retry loop below, so the injected function keeps
            # the reference's one-argument fetch signature. A None
            # return (the common not-found client convention) is an
            # ERROR, not a success: without this check the row would
            # land with content=None AND error=None, which downstream
            # error-isNull splits misclassify as a fetched record.
            def _do_fetch(doc_id: int, title: str, attempt: int) -> str:
                out = fetcher(title)
                if out is None:
                    raise LookupError(f"fetcher returned None for {title!r}")
                return out

        else:
            _do_fetch = _fake_fetch

        for batch in batches:
            out = {"api_content": [], "attempts": [], "error": []}
            for doc_id, title, err in zip(
                *(batch.column(c).to_pylist() for c in ("doc_id", "title", "error"))
            ):
                if err is not None:  # not to be fetched
                    out["api_content"].append(None)
                    out["attempts"].append(None)
                    out["error"].append(err)
                    continue
                content, attempt = None, 0
                while attempt <= max_retries:
                    _pace()
                    try:
                        content = _do_fetch(doc_id, title, attempt)
                        break
                    except Exception as exc:  # noqa: BLE001
                        err = str(exc)
                        delay = min(initial_delay * (2**attempt), max_delay)
                        _time.sleep(delay)
                        attempt += 1
                ok = content is not None
                out["api_content"].append(content if ok else None)
                # success: `attempt` failed tries preceded the winning
                # one → attempt + 1 total. exhaustion: the loop already
                # post-incremented past the last try → attempt IS the
                # total (max_retries + 1).
                out["attempts"].append(attempt + 1 if ok else attempt)
                out["error"].append(None if ok else err)
            # Spark's Arrow string type for this session (string or
            # large_string), as it sent the input's `error` column
            text = batch.schema.field("error").type
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in keep]
                + [
                    pa.array(out["api_content"], text),
                    pa.array(out["attempts"], pa.int32()),
                    pa.array(out["error"], text),
                ],
                names=keep + ["api_content", "attempts", "error"],
            )

    return _fetch


def fetch_enrich(
    stubs: DataFrame,
    global_qps: float | None = None,
    max_retries: int = 3,
    initial_delay: float = 0.05,
    max_delay: float = 1.0,
    fail_every: int = 0,
    fetcher: Callable[[str], str] | str | None = None,
    source_name: str = "fake_api",
) -> DataFrame:
    """Enrich a stub table (doc_id, title) with 'fetched' content:
    ``doc_id, title, content, source, attempts, error``.

    global_qps=None disables pacing (pure-throughput mode);
    fail_every=N makes every Nth doc fail transiently on the first
    attempt (deterministic retry-path testing); retries use the
    reference's min(initial * 2^attempt, max_delay) backoff
    (src/mediawiki_client.py:46-51); exhausted retries dead-letter the
    row with an error column instead of raising (ST4).

    ``fetcher`` mirrors the reference's pluggable fetch interface (the
    parallel client takes arbitrary article lists through one
    title→content callable, src/enhanced_production_mediawiki_client.py
    :397-415, src/mediawiki_client.py:114-171): pass any
    ``title -> content`` function and it is cloudpickled into the
    mapInArrow closure, wrapped by the same pacing / retry /
    dead-letter machinery. Exceptions it raises are treated as
    transient and retried up to ``max_retries`` times, then
    dead-lettered. Default None keeps the deterministic hermetic
    fetcher (tests, benchmarks); a ``"module:attr"`` string resolves
    via :func:`resolve_fetcher` (config-driven client selection).
    ``source_name`` labels the source column of fetched rows."""
    fetched = fetch_records(
        stubs.select(
            F.col("doc_id").cast("bigint"),
            F.col("title").cast("string"),
            F.lit(None).cast("string").alias("error"),
        ),
        global_qps, max_retries, initial_delay, max_delay, fail_every, fetcher,
    )
    return fetched.select(
        "doc_id",
        "title",
        F.col("api_content").alias("content"),
        F.when(F.col("error").isNull(), F.lit(source_name)).alias("source"),
        "attempts",
        "error",
    )
