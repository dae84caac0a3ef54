"""CLI entry point — the reference's ``python src/main.py --config
--limit --reset`` surface (src/main.py:230-261) for the Spark engine:

    python -m wiki_data_pipeline_spark --out /tmp/wdps_out --limit 100
    python -m wiki_data_pipeline_spark --config pipeline.yaml
    python -m wiki_data_pipeline_spark --config pipeline.yaml --limit 10
    python -m wiki_data_pipeline_spark --out /tmp/wdps_out --stream DIR

Precedence matches the reference: YAML config (``config.py``, the
src/config_manager.py analog) supplies defaults; explicit CLI flags
override per-key. Prints the run summary as one JSON line (the
reference logs the same fields, src/main.py:213-221).
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os


def main() -> int:
    p = argparse.ArgumentParser(description="wiki_data_pipeline_spark batch run")
    p.add_argument(
        "--config",
        default=None,
        help="YAML config file (sections: storage/naming/processing/"
        "enrichment/spark); CLI flags override per-key",
    )
    p.add_argument(
        "--sf-dir",
        default=None,
        help="fixture directory with documents.parquet",
    )
    p.add_argument("--out", default=None, help="output directory (JSON sink)")
    p.add_argument("--limit", type=int, default=None, help="process first N docs")
    p.add_argument(
        "--reset", action="store_true", help="drop the checkpoint and start over"
    )
    p.add_argument("--batch-size", type=int, default=None)
    p.add_argument(
        "--enrich",
        action="store_true",
        help="run the rate-limited per-article fetch stage with the "
        "config's enrichment knobs (QPS/retry/backoff)",
    )
    p.add_argument(
        "--stream",
        nargs="?",
        const="",
        default=None,
        metavar="DIR",
        help="run the STREAMING twin instead: drain the parquet source "
        "DIR (default: the config's streaming.source_dir) as file "
        "micro-batches, sink to --out; reruns process only new files "
        "(ST2). Sink naming is doc_id-derived (replay idempotence), so "
        "the naming config section does not apply",
    )
    p.add_argument(
        "--metrics",
        default=None,
        help="(streaming) append per-micro-batch progress rows to "
        "this JSONL metrics file",
    )
    args = p.parse_args()

    from wiki_data_pipeline_spark.config import load_config
    from wiki_data_pipeline_spark.pipeline import (
        run_pipeline,
        run_pipeline_streaming,
    )
    from wiki_data_pipeline_spark.session import get_spark

    cfg = load_config(args.config)
    sf_dir = (
        args.sf_dir
        or os.environ.get("SPARK_GRAFT_SF_DIR")
        or cfg.storage.sf_dir
    )
    out_dir = args.out or cfg.storage.out_dir
    if not out_dir:
        p.error("--out is required (or set storage.out_dir in the config file)")
    limit = args.limit if args.limit is not None else cfg.processing.limit
    batch_size = (
        args.batch_size if args.batch_size is not None else cfg.processing.batch_size
    )
    reset = args.reset or cfg.processing.reset
    if args.stream is not None:
        stream_source = args.stream or cfg.streaming.source_dir
        if not stream_source:
            p.error(
                "--stream requires a DIR or streaming.source_dir in the "
                "config"
            )
        # a limit (--limit or processing.limit) is a batch-queue knob
        # (L1 pushdown); the streaming twin bounds intake with
        # max_files_per_trigger instead. Erroring beats silently
        # draining everything.
        if limit is not None:
            p.error(
                "--limit / processing.limit is not supported in streaming "
                "mode (bound intake with streaming.max_files_per_trigger)"
            )

    spark = get_spark(
        app_name=cfg.spark.app_name,
        master=cfg.spark.master,
        shuffle_partitions=cfg.spark.shuffle_partitions,
        extra_conf=cfg.spark.extra_conf,
    )
    if args.stream is not None:
        import glob

        def _count_sink_files() -> int:
            return len(
                glob.glob(os.path.join(out_dir, "batch_*", "article_*.json"))
            )

        n_before = _count_sink_files()
        run_pipeline_streaming(
            spark,
            stream_source,
            out_dir,
            max_files_per_trigger=cfg.streaming.max_files_per_trigger,
            batch_size=batch_size,
            metrics_path=args.metrics or cfg.streaming.metrics_path,
            enrichment=(
                dataclasses.asdict(cfg.enrichment) if args.enrich else None
            ),
            # --reset in streaming mode = drop the offset log so the
            # next drain reprocesses the source from scratch (the
            # batch twin deletes its watermark file). Performed INSIDE
            # the single-writer lease by run_pipeline_streaming: a
            # concurrent `--stream --reset` that loses the race fails
            # fast without having deleted a live run's offset log.
            reset=reset,
        )
        n_after = _count_sink_files()
        # sink_files_new is THIS run's delta (a resume that drains
        # nothing reports 0, like the batch summary's 'processed');
        # sink_files_total is the cumulative sink population
        print(
            json.dumps(
                {
                    "mode": "streaming",
                    "sink_files_new": n_after - n_before,
                    "sink_files_total": n_after,
                    "status": "completed",
                }
            )
        )
        return 0
    summary = run_pipeline(
        spark,
        sf_dir,
        out_dir,
        limit=limit,
        reset=reset,
        batch_size=batch_size,
        file_pattern=cfg.naming.file_pattern,
        directory_pattern=cfg.naming.directory_pattern,
        enrichment=dataclasses.asdict(cfg.enrichment) if args.enrich else None,
    )
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
