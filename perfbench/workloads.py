"""The benchmark's workloads: one closed-loop client calling the
program's public functions in sequence.

A workload is a list of operations run as one *pass*: ``query`` builds,
plans and executes each of its queries once (noop sink), in an order
the seed permutes; ``ingest`` makes one fresh ``run_pipeline``
call, ``N_DELTAS`` resumes each after a new delta file, and one rerun
that finds nothing new. ``warmup`` is the set-up pass. Outputs are
checked outside the timed operations: each query once against its
DuckDB oracle in the set-up pass, each ``run_pipeline`` call after it
returns.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import datagen

# The query workload mixes two kinds of query. In the first, execution
# dominates the wall (a scan and aggregate, a join, a text kernel); in
# the second, construction does: eager pin() jobs and driver-run
# fixpoint rounds launch Spark jobs while the DataFrame is being built.
# dedup_semantic_keep stands in for dedup_cluster_components: both run
# the same min-label fixpoint, but the latter's DuckDB oracle takes
# about 12 s at this scale.
EXECUTION_BOUND = ["q1_pricing_summary", "q18_large_orders", "text_tfidf_keywords"]
CONSTRUCTION_BOUND = ["dedup_semantic_keep", "bpe_train_merges"]
QUERIES = EXECUTION_BOUND + CONSTRUCTION_BOUND
# The tables come from one fixed seed and the run's seed permutes the
# query order: fixpoint round counts depend on the data, and a seed-
# dependent round count would swing the construction-bound queries.
TABLE_SEED = 0

# ingest corpus: docs in the first fresh run, parquet files they span,
# resumes per pass and the share of the corpus each resume appends
N_DOCS = 5000
N_FILES = 4
N_DELTAS = 3
DELTA_SHARE = 0.1
# every 50th valid doc fails its first fetch, so the retry path runs
ENRICHMENT = {"global_qps": None, "fail_every": 50, "initial_delay": 0.001, "max_retries": 3}


class Op:
    """One timed operation: name, wall seconds, and whether it failed."""

    def __init__(self, name: str, seconds: float, failed: bool) -> None:
        self.name, self.seconds, self.failed = name, seconds, failed


class QueryWorkload:
    kind = "query"

    def __init__(self, names: list[str], work: str, tracer) -> None:
        self.names = names
        self.sf_dir = os.path.join(work, "tables")
        self.tr = tracer
        self.exec_deltas: list[dict] = []

    def prepare(self) -> dict:
        rows = datagen.make_tables(self.sf_dir, TABLE_SEED)
        size = sum(os.path.getsize(p) for p in glob.glob(os.path.join(self.sf_dir, "*.parquet")))
        return {"table_seed": TABLE_SEED, "table_rows": rows, "input_bytes": size, "queries": self.names}

    def _query(self, spark, name: str) -> Op:
        from wiki_data_pipeline_spark.plans.registry import get

        fn = get(name).fn
        t0 = time.perf_counter()
        failed = False
        try:
            with self.tr.span("query", label=name):
                with self.tr.span("plans.build"):
                    df = fn(spark, self.sf_dir)
                with self.tr.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
                with self.tr.executor_delta(spark, self.exec_deltas), self.tr.span("spark.exec"):
                    df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001
            print(f"perfbench: {name} raised {type(exc).__name__}: {exc}"[:400], flush=True)
            failed = True
        return Op(name, time.perf_counter() - t0, failed)

    def run_pass(self, spark, order: list[str]) -> list[Op]:
        return [self._query(spark, n) for n in order]

    def warmup(self, spark) -> list[Op]:
        """The set-up pass: build and collect every query once and check
        it against its DuckDB oracle. It runs the same operators on the
        same tables as a measured pass, so it also warms the JVM. The
        first measured pass still runs about 20% slower than later ones,
        but a noop warm-up pass as well would push a run past its time
        budget."""
        return self._oracle_pass(spark)

    def _oracle_pass(self, spark) -> list[Op]:
        from wiki_data_pipeline_spark.testing import compare_query

        ops = []
        for name in self.names:
            t0 = time.perf_counter()
            try:
                res = compare_query(spark, name, self.sf_dir)
                ok, detail = res.ok, res.details[:2]
            except Exception as exc:  # noqa: BLE001
                ok, detail = False, [f"{type(exc).__name__}: {exc}"[:300]]
            if not ok:
                print(f"perfbench: oracle mismatch in {name}: {detail}", flush=True)
            ops.append(Op(f"oracle:{name}", time.perf_counter() - t0, not ok))
        return ops


class IngestWorkload:
    kind = "ingest"
    names = ["ingest"]

    def __init__(self, work: str, seed: int, tracer) -> None:
        self.work = work
        self.seed = seed
        self.tr = tracer
        self.input_dir = os.path.join(work, "input")
        self.docs_dir = os.path.join(self.input_dir, "documents.parquet")
        self.out_dir = os.path.join(work, "out")
        self.exec_deltas: list[dict] = []
        self.pass_stats: list[dict] = []
        self.dead_letter_rows = 0  # rows in the dead-letter output after the latest run

    def prepare(self) -> dict:
        self.layout = datagen.make_corpus(
            os.path.join(self.work, "corpus"), self.seed, N_DOCS, N_FILES, N_DELTAS, DELTA_SHARE
        )
        self.base_texts = datagen.read_docs(self.layout["base_files"])
        self.delta_texts = [datagen.read_docs([p]) for p in self.layout["delta_files"]]
        texts = dict(self.base_texts)
        for d in self.delta_texts:
            texts.update(d)
        files = self.layout["base_files"] + self.layout["delta_files"]
        invalid = sum(not datagen.is_valid(t) for t in texts.values())
        return {
            "docs": self.layout["n_docs"],
            "delta_docs": self.layout["n_delta"],
            "deltas_per_pass": N_DELTAS,
            "files": len(files),
            "input_bytes": sum(os.path.getsize(p) for p in files),
            "invalid_share": round(invalid / len(texts), 4),
            "enrichment": ENRICHMENT,
        }

    def _reset_input(self) -> None:
        shutil.rmtree(self.docs_dir, ignore_errors=True)
        os.makedirs(self.docs_dir)
        for p in self.layout["base_files"]:
            shutil.copy(p, self.docs_dir)

    def _run(self, spark, out_dir: str) -> tuple[dict | None, float]:
        from wiki_data_pipeline_spark.pipeline import run_pipeline

        t0 = time.perf_counter()
        try:
            with self.tr.span("ingest"), self.tr.executor_delta(spark, self.exec_deltas):
                summary = run_pipeline(spark, self.input_dir, out_dir, enrichment=dict(ENRICHMENT))
        except Exception as exc:  # noqa: BLE001
            print(f"perfbench: run_pipeline raised {type(exc).__name__}: {exc}"[:400], flush=True)
            summary = None
        return summary, time.perf_counter() - t0

    def warmup(self, spark) -> list[Op]:
        self._reset_input()
        out = os.path.join(self.work, "warmup-out")
        summary, secs = self._run(spark, out)
        shutil.rmtree(out, ignore_errors=True)
        return [Op("fresh", secs, summary is None)]

    def run_pass(self, spark, order=None) -> list[Op]:
        self._reset_input()
        shutil.rmtree(self.out_dir, ignore_errors=True)
        ops = []
        seen: dict[int, str | None] = {}
        steps = [("fresh", self.base_texts)]
        steps += [(f"resume{k}", d) for k, d in enumerate(self.delta_texts)]
        steps += [("rerun", {})]
        for k, (name, new) in enumerate(steps):
            if name.startswith("resume"):
                shutil.copy(self.layout["delta_files"][k - 1], os.path.join(self.docs_dir, f"delta-{k:05d}.parquet"))
            summary, secs = self._run(spark, self.out_dir)
            seen.update(new)
            problems = ["run_pipeline raised"] if summary is None else self._check_run(summary, new, seen)
            if name == "rerun":
                problems += self._check_files(seen)
            for p in problems:
                print(f"perfbench: ingest {name}: {p}", flush=True)
            ops.append(Op(name, secs, bool(problems)))
        return ops

    def _check_run(self, summary: dict, new: dict, seen: dict) -> list[str]:
        """One run disposes exactly the docs that are new to it."""
        import pyarrow.parquet as pq

        out = []
        valid = sum(datagen.is_valid(t) for t in new.values())
        if summary["processed"] != valid or summary["failed"] != len(new) - valid:
            out.append(
                f"processed {summary['processed']} failed {summary['failed']}, "
                f"expected {valid} and {len(new) - valid}"
            )
        if summary["watermark"] != max(seen):
            out.append(f"watermark {summary['watermark']} != max doc_id {max(seen)}")
        dlq = glob.glob(os.path.join(self.out_dir, "_dead_letter", "since=*", "*.parquet"))
        got = sorted(i for p in dlq for i in pq.read_table(p, columns=["doc_id"]).column("doc_id").to_pylist())
        want = sorted(i for i, t in seen.items() if not datagen.is_valid(t))
        if got != want:
            out.append(f"dead-letter rows {len(got)} != invalid docs {len(want)}")
        self.dead_letter_rows = len(got)
        return out

    def _check_files(self, seen: dict) -> list[str]:
        """Every JSON file parses, carries its doc's text, and the file
        indices run consecutively across the fresh run and the resumes.
        Records the pass's output sizes in ``pass_stats``."""
        files = glob.glob(os.path.join(self.out_dir, "batch_*", "article_*.json"))
        valid_ids = sorted(i for i, t in seen.items() if datagen.is_valid(t))
        idx = sorted(int(os.path.basename(p)[8:-5]) for p in files)
        out = []
        if idx != list(range(len(valid_ids))):
            out.append(f"{len(files)} JSON files, indices not 0..{len(valid_ids) - 1}")
        ids, attempts, wrong = [], 0, 0
        for p in files:
            with open(p, encoding="utf-8") as fh:
                rec = json.load(fh)
            ids.append(rec["doc_id"])
            attempts += rec["attempts"]
            wrong += rec["content"] != seen.get(rec["doc_id"])
        if wrong:
            out.append(f"{wrong} JSON files do not carry their source text")
        if sorted(ids) != valid_ids:
            out.append("JSON doc_ids differ from the valid generated docs")
        self.pass_stats.append(
            {
                "files": len(files),
                "bytes": sum(os.path.getsize(p) for p in files),
                "enriched_rows": len(ids),
                "attempts": attempts,
                "dead_letter_rows": self.dead_letter_rows,
            }
        )
        return out


def make(workload: str, work: str, seed: int, tracer):
    if workload == "ingest":
        return IngestWorkload(work, seed, tracer)
    return QueryWorkload(QUERIES, work, tracer)
