"""Lineage pinning with a configurable durability tier.

``pin(df)`` is THE way this engine truncates lineage / freezes a
frame consumed more than once (fixpoint rounds, multi-consumer
expensive streams, nondeterministic-stage pins — see SCALE.md
"Lineage pins"). Every former ``df.localCheckpoint()`` call site
routes through here so ONE config knob selects the durability tier:

- ``spark.wiki_data_pipeline.pin.mode = local`` (default):
  ``DataFrame.localCheckpoint`` — blocks stored on executors only.
  Cheapest (no DFS write), right for fixture scale and for clusters
  with stable executors. Trade-off: an executor loss makes the
  pinned blocks unrecoverable BECAUSE the lineage was truncated —
  the job fails instead of recomputing.
- ``spark.wiki_data_pipeline.pin.mode = reliable``:
  ``DataFrame.checkpoint`` — blocks written to the SparkContext
  checkpoint directory (HDFS/object store on a real cluster). The
  right tier on preemptible/spot 100 TB clusters: a lost executor
  re-reads the checkpoint instead of failing the job. Costs a DFS
  write + read per pin. The checkpoint dir comes from
  ``spark.wiki_data_pipeline.pin.checkpointDir`` (re-applied
  whenever the configured base changes) or a prior
  ``SparkContext.setCheckpointDir``.

Both tiers return a frame whose plan is a scan of materialized
blocks, so every downstream consumer reuses ONE materialization —
the single-consumption discipline — and nondeterministic upstream
stages (reservoir seeds, range-exchange sampling) are evaluated
exactly once (the ``with_global_offsets`` soundness requirement,
operators/packing.py). The reliable tier enforces this by persisting
the frame across the checkpoint write (``Dataset.checkpoint`` alone
runs the plan once for the eager count and AGAIN for the
checkpoint-write job — an unpersisted nondeterministic upstream
would hand run 1 to the count and run 2 to the files) and by
ignoring ``eager=False`` (a lazy reliable checkpoint materializes at
the first action but writes the files from a SECOND evaluation,
reintroducing the desync the pin exists to prevent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

PIN_MODE_KEY = "spark.wiki_data_pipeline.pin.mode"
PIN_DIR_KEY = "spark.wiki_data_pipeline.pin.checkpointDir"

# Observation hook: when set, called (no args) on EVERY pin()
# invocation. Call sites import ``pin`` by name, so patching any module
# attribute can miss one — instrumenting the single shared
# implementation cannot. The registry sweep (tools/sweep.py) sets it
# around each query to count its pin() calls (``Record.pins``); the
# pin-using queries found that way are the set RELIABLE_PARITY.json
# must cover, so a new pin site can't dodge the reliable-tier sweep.
_observer = None


def _base_of(checkpoint_dir: str) -> str:
    """Strip scheme and trailing separators for base-dir comparison
    (SparkContext.setCheckpointDir appends a UUID subdirectory, and
    getCheckpointDir returns a scheme-qualified URI)."""
    base = checkpoint_dir.split("://", 1)[-1]
    if base.startswith("file:"):
        base = base[len("file:"):]
    return base.rstrip("/")


def pin(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and truncate its lineage; tier per config.

    ``eager=False`` defers materialization to the first action (used
    where the caller immediately drives the frame anyway and wants to
    avoid a separate job). The reliable tier ignores it — see module
    docstring."""
    if _observer is not None:
        _observer()
    spark = df.sparkSession
    mode = spark.conf.get(PIN_MODE_KEY, "local")
    if mode == "local":
        return df.localCheckpoint(eager=eager)
    if mode == "reliable":
        sc = spark.sparkContext
        cp_dir = spark.conf.get(PIN_DIR_KEY, None)
        cur = sc.getCheckpointDir()
        if cp_dir is not None:
            # re-apply whenever the configured base changed — a stale
            # lazily-set dir silently redirecting every later pin is
            # worse than the extra mkdir
            want = _base_of(cp_dir)
            if cur is None or not (
                _base_of(cur) == want
                or _base_of(cur).startswith(want + "/")
            ):
                sc.setCheckpointDir(cp_dir)
        elif cur is None:
            raise ValueError(
                f"{PIN_MODE_KEY}=reliable needs a checkpoint "
                "directory: call SparkContext.setCheckpointDir or "
                f"set {PIN_DIR_KEY}"
            )
        # persist across the checkpoint write: the eager count and the
        # checkpoint-write job must consume ONE evaluation of the plan
        # (nondeterministic upstreams — reservoir seeds, range-exchange
        # sampling — would otherwise desync the two). Only unpersist
        # what pin() itself persisted (r13, ADVICE): a caller that
        # deliberately cached the frame (an iterative-ML cache) keeps
        # its cache — dropping it in the finally would evict a
        # still-live cache mid-query.
        lvl = df.storageLevel
        caller_cached = lvl.useMemory or lvl.useDisk
        cached = df if caller_cached else df.persist()
        try:
            return cached.checkpoint(eager=True)
        finally:
            if not caller_cached:
                cached.unpersist()
    raise ValueError(
        f"unknown {PIN_MODE_KEY} {mode!r} (expected 'local' or 'reliable')"
    )
