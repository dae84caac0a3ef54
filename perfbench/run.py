"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload query --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It generates the workload's inputs
from the seed under ``.perfbench/``, starts Spark on ``local[<nproc>]``,
sets up (imports, ``get_spark`` and the warm-up), runs passes for
``--seconds`` seconds, checks the outputs outside the timed calls, and
prints a provenance line followed by one JSON result line. ``--trace 1`` wraps the program's
layer functions in spans and reports the per-layer metrics instead of
the end-to-end ones. The metric names and units come from
``BENCHMARK.json``. Exit status: 0 when every check passed, 1 when an
operation failed or gave a wrong answer, 2 when the program is missing.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import pkgutil
import platform
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import spans
import workloads

PACKAGE = "wiki_data_pipeline_spark"
WORKLOADS = ("query", "ingest")


def git_commit(root: str) -> str:
    """HEAD's commit, or "unknown" outside a git checkout."""
    env = {**os.environ, "GIT_DIR": os.path.join(root, ".git")}
    res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, env=env, capture_output=True, text=True)
    return res.stdout.strip() if res.returncode == 0 else "unknown"


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def isolate(work: str, cpus: int) -> dict:
    """Keep Spark, the JVM and Python temp files inside ``work``; run on
    ``local[cpus]``. Returns the environment values this replaced."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    inherited = {k: os.environ.get(k) for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_PROFILE")}
    os.environ.pop("SPARK_GRAFT_PROFILE", None)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    tempfile.tempdir = tmp
    return inherited


def start_spark(work: str):
    from wiki_data_pipeline_spark import session

    return session.get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def install_tracing(tracer: spans.Tracer, patcher: spans.Patcher) -> None:
    """Wrap each layer's public functions at every binding. Needs a
    running SparkContext: some modules build UDFs when imported."""
    from pyspark.sql.readwriter import DataFrameWriter

    import wiki_data_pipeline_spark as wdps
    from wiki_data_pipeline_spark import io, pipeline
    from wiki_data_pipeline_spark.operators import enrichment, pin, spread
    from wiki_data_pipeline_spark.plans.registry import all_queries
    from wiki_data_pipeline_spark.sinks import per_record_json
    from wiki_data_pipeline_spark.streaming.checkpoint import HighWatermarkCheckpoint as Ckpt

    # import every module first: a module imported later would bind the
    # wrapper by name and keep it after restore
    all_queries()
    for mod in pkgutil.walk_packages(wdps.__path__, PACKAGE + "."):
        importlib.import_module(mod.name)
    for name, fn in (
        ("io.read_table", io.read_table),
        ("operators.pin", pin.pin),
        ("operators.spread", spread.spread),
        ("operators.enrichment", enrichment.fetch_enrich),
        ("sinks.per_record_json", per_record_json.write_per_record_json_with_watermark),
        ("pipeline.run", pipeline.run_pipeline),
    ):
        patcher.function(fn, tracer.wrap(name, fn))
    for attr, name in (
        ("acquire", "streaming.checkpoint.lease"),
        ("release", "streaming.checkpoint.lease"),
        ("load", "streaming.checkpoint.load"),
        ("commit_values", "streaming.checkpoint.commit"),
    ):
        patcher.method(Ckpt, attr, tracer.wrap(name, getattr(Ckpt, attr)))
    # the dead-letter write is inline in the pipeline: time it at the writer
    write_parquet = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        if "_dead_letter" not in str(path):
            return write_parquet(self, path, *args, **kwargs)
        with tracer.span("pipeline.dead_letter"):
            return write_parquet(self, path, *args, **kwargs)

    parquet.__wrapped_by_tracer__ = write_parquet
    patcher.method(DataFrameWriter, "parquet", parquet)


def leftover_wrappers() -> list[str]:
    """Bindings in the program, or pyspark's writer, still holding a wrapper."""
    from pyspark.sql.readwriter import DataFrameWriter

    owners = [m for n, m in list(sys.modules.items()) if m is not None and n.split(".")[0] == PACKAGE]
    owners += [v for m in list(owners) for v in vars(m).values() if isinstance(v, type)]
    owners.append(DataFrameWriter)
    return sorted(
        f"{getattr(owner, '__name__', owner)}.{attr}"
        for owner in owners
        for attr, val in list(vars(owner).items())
        if hasattr(val, "__wrapped_by_tracer__")
    )


def layer_metrics(tracer, wl, passes, deltas, setup_spans, cores) -> dict[str, float]:
    """Per-layer metrics per pass, from the spans and executor deltas of
    the measured passes."""
    n = len(passes)
    summ = tracer.summary(tracer.descendants({s["id"] for s in passes}))

    def per_pass(name: str, key: str) -> float:
        return summ.get(name, {}).get(key, 0) / n

    exec_span = "pipeline.run" if wl.kind == "ingest" else "spark.exec"
    ex = {k: sum(d[k] for d in deltas) / n for k in spans.EXECUTOR_KEYS}
    exec_s = per_pass(exec_span, "wall_s")
    stats = getattr(wl, "pass_stats", [])[-n:]

    def stat(key: str) -> float:
        return sum(s[key] for s in stats) / n if stats else 0

    bytes_written = stat("bytes")
    rows, attempts = stat("enriched_rows"), stat("attempts")
    get_spark = [s["end"] - s["start"] for s in setup_spans if s["name"] == "session.get_spark"]
    return {
        "session.get_spark_s": statistics.median(get_spark) if get_spark else 0.0,
        "io.read_table.calls": per_pass("io.read_table", "calls"),
        "io.read_table_s": per_pass("io.read_table", "self_s"),
        "io.read_table.jobs": per_pass("io.read_table", "jobs_total"),
        "plans.build_s": per_pass("plans.build", "self_s"),
        "plans.build_jobs": per_pass("plans.build", "jobs_total"),
        "operators.pin.calls": per_pass("operators.pin", "calls"),
        "operators.pin_s": per_pass("operators.pin", "self_s"),
        "operators.spread.calls": per_pass("operators.spread", "calls"),
        "operators.spread_s": per_pass("operators.spread", "self_s"),
        "spark.plan_s": per_pass("spark.plan", "wall_s"),
        "spark.exec_s": exec_s,
        "spark.exec_jobs": per_pass(exec_span, "jobs_total"),
        "spark.tasks": ex["tasks"],
        "spark.task_s": ex["task_s"],
        "spark.core_busy": ex["task_s"] / (exec_s * cores) if exec_s else 0.0,
        "spark.input_bytes": ex["input_bytes"],
        "spark.shuffle_read_bytes": ex["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": ex["shuffle_write_bytes"],
        "spark.failed_tasks": ex["failed_tasks"],
        "streaming.checkpoint.lease_s": per_pass("streaming.checkpoint.lease", "self_s"),
        "streaming.checkpoint.load_s": per_pass("streaming.checkpoint.load", "self_s"),
        "streaming.checkpoint.commit_s": per_pass("streaming.checkpoint.commit", "self_s"),
        "sinks.per_record_json_s": per_pass("sinks.per_record_json", "self_s"),
        "sinks.per_record_json.files": stat("files"),
        "sinks.bytes_written": bytes_written,
        "sinks.bytes_per_input_byte": bytes_written / ex["input_bytes"] if ex["input_bytes"] else 0.0,
        "pipeline.run_s": per_pass("pipeline.run", "self_s"),
        "pipeline.dead_letter_s": per_pass("pipeline.dead_letter", "wall_s"),
        "pipeline.dead_letter.rows": stat("dead_letter_rows"),
        "operators.enrichment.rows": rows,
        "operators.enrichment.attempts": attempts,
        "operators.enrichment.useful_ratio": rows / attempts if attempts else 0.0,
    }


def query_splits(tracer, passes) -> dict[str, dict]:
    """Per query, the median over the measured passes of its build,
    plan and execute walls, the Spark jobs launched while it was built,
    and its ``pin()`` and ``spread()`` calls."""
    by: dict[str, list[dict]] = {}
    for q in tracer.descendants({s["id"] for s in passes}):
        if q["name"] == "query":
            summ = tracer.summary(tracer.descendants({q["id"]}))
            by.setdefault(q["label"], []).append(
                {
                    "build_s": summ["plans.build"]["wall_s"],
                    "plan_s": summ["spark.plan"]["wall_s"],
                    "exec_s": summ["spark.exec"]["wall_s"],
                    "build_jobs": summ["plans.build"]["jobs_total"],
                    "pin_calls": summ.get("operators.pin", {}).get("calls", 0),
                    "spread_calls": summ.get("operators.spread", {}).get("calls", 0),
                }
            )
    return {name: {k: statistics.median(r[k] for r in rows) for k in rows[0]} for name, rows in by.items()}


@contextlib.contextmanager
def spark_session(work: str, tracer):
    """``get_spark()`` under a span; stops the session and the JVM on exit."""
    with tracer.span("session.get_spark"):
        spark = start_spark(work)
    try:
        yield spark
    finally:
        stop_spark(spark)


def measure(wl, spark, tracer, seed: int, seconds: float):
    """Whole passes until ``seconds`` have elapsed, at least one. Returns
    the passes' operations, their spans and their executor deltas."""
    rng = random.Random(seed)
    passes, pass_spans = [], []
    n_before = len(wl.exec_deltas)
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < seconds:
        order = list(wl.names)
        rng.shuffle(order)
        with tracer.span("pass") as rec:
            passes.append(wl.run_pass(spark, order))
        pass_spans.append(rec)
    return passes, pass_spans, wl.exec_deltas[n_before:]


def run(args, root: str, work: str, cpus: int, inherited: dict, bench: dict) -> int:
    tracer = spans.Tracer(f"{args.workload}-s{args.seed}") if args.trace else spans.NullTracer()
    patcher = spans.Patcher(PACKAGE)
    wl = workloads.make(args.workload, work, args.seed, tracer)
    inputs = wl.prepare()

    # set-up: import the program, start Spark, warm up
    t_setup = time.perf_counter()
    from wiki_data_pipeline_spark.plans.registry import all_queries

    all_queries()
    t_spark = time.perf_counter()
    with spark_session(work, tracer) as spark:
        t_warmup = time.perf_counter()
        if args.trace:
            install_tracing(tracer, patcher)
        warmup_ops = wl.warmup(spark)
        attempted_ops = list(warmup_ops)
        setup_s = time.perf_counter() - t_setup
        setup_spans = list(tracer.spans) if args.trace else []

        passes, pass_spans, deltas = measure(wl, spark, tracer, args.seed, args.seconds)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)
        engine = {
            "master": spark.sparkContext.master,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
        }
        per_layer, by_query = {}, {}
        if args.trace:
            patcher.restore()
            left = leftover_wrappers()
            if left:
                print(f"perfbench: wrappers left after restore: {left}", flush=True)
                attempted_ops.append(workloads.Op("restore", 0.0, True))
            per_layer = layer_metrics(tracer, wl, pass_spans, deltas, setup_spans, cpus)
            by_query = query_splits(tracer, pass_spans)
            os.makedirs(os.path.join(root, ".perfbench"), exist_ok=True)
            tracer.dump(os.path.join(root, ".perfbench", f"spans-{args.workload}-s{args.seed}.json"))

    measured = [op for ops in passes for op in ops]
    attempted_ops += measured
    failed = sum(op.failed for op in attempted_ops)
    pass_s = statistics.median(sum(op.seconds for op in ops) for ops in passes)
    values = {
        "setup_s": setup_s,
        "memory.peak_rss_mb": peak_rss_mb,
        "pass_s": pass_s,
        "trace.pass_s": pass_s,
        **per_layer,
    }
    provenance = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cpus,
        **engine,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "inherited_env": inherited,
        "git_commit": git_commit(root),
        "pyspark": __import__("pyspark").__version__,
        "python": platform.python_version(),
        "inputs": inputs,
        "peak_rss_mb": peak_rss_mb,
        "setup": {
            "import_s": t_spark - t_setup,
            "get_spark_s": t_warmup - t_spark,
            "warmup_pass_s": t_setup + setup_s - t_warmup,
            "warmup_ops": [[op.name, op.seconds] for op in warmup_ops],
        },
        "samples": {
            "passes": len(passes),
            "pass_s": [sum(op.seconds for op in ops) for ops in passes],
            "ops": len(measured),
            "by_op": {
                name: statistics.median(op.seconds for op in measured if op.name == name)
                for name in dict.fromkeys(op.name for op in measured)
            },
        },
        **({"by_query": by_query} if by_query else {}),
    }
    print(json.dumps({"perfbench": provenance}), flush=True)
    listed = bench["per_layer"] if args.trace else bench["end_to_end"]
    result = {
        "correct": failed == 0,
        "attempted": len(attempted_ops),
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed},
    }
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found; run from the root of a checkout", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    sys.path.insert(0, root)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".perfbench", f"work-{os.getpid()}")
    inherited = isolate(work, cpus)
    try:
        return run(args, root, work, cpus, inherited, bench)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
