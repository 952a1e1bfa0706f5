"""Repository benchmark: one workload, one seed, one result line.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload index_daily --seed 1 --seconds 10 --trace 0

``--trace 0`` times the workload and prints every end-to-end metric;
``--trace 1`` runs the same workload with spans, job groups and the
Spark event log on, and prints every per-layer metric instead.  The
last line of standard output is the result object; the full record
(inputs, environment, every raw sample, every span) is written under
``.perfbench/results/``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("index_daily", "corpus_ingest")

#: Spans of the timed region reported per layer (``.s``, ``.jobs``,
#: ``.exec_ms``, ``.shuffle_bytes``).  Every traced run prints all of
#: them, as the benchmark format asks; a span that recorded no call
#: reads 0.  Those among the workload's own spans (its module's
#: ``SPANS``) are named as absent in the summary and the record.
RUN_SPANS = [
    "parquet.scan_or_empty",
    "index.load_count",
    "pipeline.process",
    "pipeline.insert_latest_changes",
    "pipeline.update_export_flag",
    "pipeline.insert_external_ids",
    "fetcher.export_batch",
    "fetcher.external_ids_batch",
    "index.materialize",
    "report.format_gh_step_summary",
    "parquet.write_index",
    "consumer.lookup",
    "bucket_store.read_bucket_index",
    "corpus_pipeline.ingest_corpus_batch",
    "ingest.stats_consume",
    "bucket_store.fold_bucket_index",
    "materialize.release_pins",
    "bucket_store.lookup_bucket_ids",
]
#: Set-up spans reported per layer as ``setup.<span>.*``: the cold daily
#: cycle and the initial corpus preparation.
SETUP_SPANS = [
    "pipeline.insert_latest_changes",
    "pipeline.insert_external_ids",
    "index.materialize",
    "report.format_gh_step_summary",
    "corpus_pipeline.corpus_pipeline_stats",
    "corpus.stats_consume",
]
#: Counters a workload records (name -> unit); 0 where not exercised.
COUNTERS = {
    "parquet.row_groups": "count",
    "consumer.input_bytes_per_lookup": "bytes",
    "pipeline.worklist_ids": "count",
    "fetcher.feed_calls": "count",
    "materialize.checkpoint_bytes": "bytes",
    "ingest.kept_ratio": "ratio",
    "bucket_store.touched_buckets": "count",
    "bucket_store.bytes_written_per_kept_doc": "bytes",
}


class Context:
    """State one workload run shares with the harness."""

    def __init__(self, args, spark, tracer, work):
        self.seed = args.seed
        self.seconds = args.seconds
        self.tiny = args.size == "tiny"
        self.corrupt = args.corrupt
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = {"step_s": [], "read_ms": []}
        self.timed_s = 0.0
        self.setup_s = 0.0
        self.bytes_per_row = 0.0
        self.inputs: dict = {}
        self.counters: dict[str, float] = {}

    def op(self, ok: bool, what: str) -> None:
        """Count one operation; a wrong output is a failed operation."""
        self.attempted += 1
        if not ok:
            self.failures.append(what)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--size",
        choices=("full", "tiny"),
        default="full",
        help="tiny: small inputs for the self-test",
    )
    p.add_argument(
        "--corrupt",
        action="store_true",
        help="self-test: damage the published artifact or store before "
        "each check, which must then count as a failed operation",
    )
    return p.parse_args(argv)


def _vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        )
        return (out.stderr or out.stdout).splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        return "unknown"


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "tmdb_index_spark")):
        print(
            f"perfbench: package tmdb_index_spark not found under {ROOT}",
            file=sys.stderr,
        )
        return 2
    t_start = time.perf_counter()

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(base, "results")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(results, exist_ok=True)

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)

    from tmdb_index_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
        + os.path.join(work, "tmp"),
        "spark.ui.showConsoleProgress": "false",
    }
    evlog = os.path.join(work, "eventlog")
    if args.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": evlog,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    jvm = spark.sparkContext._gateway.proc
    try:
        return _measure(args, spark, t_start, work, results)
    finally:
        gateway = spark.sparkContext._gateway
        spark.stop()
        # the JVM exits when its stdin closes; wait for it before leaving
        gateway.shutdown()
        jvm.stdin.close()
        jvm.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, spark, t_start, work, results) -> int:
    import importlib

    import pyspark

    from perfbench.tracing import (
        Tracer,
        fold_event_log,
        layer_metrics,
        span_table,
    )

    cpus = os.environ["SPARK_GRAFT_CPUS"]
    evlog = os.path.join(work, "eventlog")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_start

    tracer = Tracer(spark, bool(args.trace))
    ctx = Context(args, spark, tracer, work)
    module = importlib.import_module(f"perfbench.{args.workload}")
    try:
        module.run(ctx)
    finally:
        tracer.unwrap_all()
    ctx.setup_s += session_s

    jvm_pid = spark.sparkContext._gateway.proc.pid
    peak_rss_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0
    spark.stop()

    steps, reads = ctx.samples["step_s"], ctx.samples["read_ms"]
    e2e = {
        "setup_s": (ctx.setup_s, "s"),
        "step_s": (statistics.median(steps), "s"),
        "read_p50_ms": (statistics.median(reads), "ms"),
        "bytes_per_row": (ctx.bytes_per_row, "bytes"),
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": args.size,
        "corrupt": args.corrupt,
        "git_commit": _git_commit(),
        "nproc": os.cpu_count(),
        "spark_graft_cpus": cpus,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "java": _java_version(),
        "inputs": ctx.inputs,
        "session_start_s": session_s,
        "peak_rss_mb": peak_rss_mb,
        "attempted": ctx.attempted,
        "failed": len(ctx.failures),
        "failed_ratio": len(ctx.failures) / max(ctx.attempted, 1),
        "failures": ctx.failures[:50],
        "samples": ctx.samples,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "counters": ctx.counters,
    }

    if args.trace:
        folded = fold_event_log(evlog)
        layers = layer_metrics(tracer, folded, RUN_SPANS, "run")
        for name, (v, u) in layer_metrics(tracer, folded, SETUP_SPANS, "setup").items():
            layers[f"setup.{name}"] = (v, u)
        counters = ctx.counters
        lookups = tracer.calls.get("run:consumer.lookup", 0)
        if lookups:
            g = folded["groups"].get("run:consumer.lookup", {})
            counters["consumer.input_bytes_per_lookup"] = (
                g.get("input_bytes", 0) / lookups
            )
        for name, unit in COUNTERS.items():
            layers[name] = (counters.get(name, 0), unit)
        run_exec = sum(
            g.get("exec_ms", 0)
            for k, g in folded["groups"].items()
            if k.startswith("run:")
        )
        cores = int(cpus)
        layers["spark.exec_util"] = (
            run_exec / (ctx.timed_s * 1000.0 * cores) if ctx.timed_s else 0.0,
            "ratio",
        )
        un = folded["unattributed"]
        layers["tracing.unattributed_jobs"] = (
            int(sum(v.get("jobs", 0) for v in un.values())),
            "count",
        )
        layers["tracing.unattributed_exec_ms"] = (
            int(sum(v.get("exec_ms", 0) for v in un.values())),
            "ms",
        )
        layers["tracing.span_coverage"] = (
            tracer.top_level_s / ctx.timed_s if ctx.timed_s else 0.0,
            "ratio",
        )
        layers["setup.session_start_s"] = (session_s, "s")
        layers["process.peak_rss_mb"] = (peak_rss_mb, "MB")
        record["per_layer"] = {
            k: {"value": v, "unit": u} for k, (v, u) in layers.items()
        }
        record["spans"] = span_table(tracer, folded)
        record["unattributed"] = un
        absent = [s for s in module.SPANS if f"run:{s}" not in tracer.calls]
        record["absent_spans"] = absent
        shown = layers
    else:
        shown = e2e

    stamp = time.strftime("%Y%m%dT%H%M%S")
    out_path = os.path.join(
        results, f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}.json"
    )
    with open(out_path, "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, default=str)

    print(
        f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
        f"attempted={ctx.attempted} failed={len(ctx.failures)} "
        f"failed_ratio={record['failed_ratio']:.4f} "
        f"record={os.path.relpath(out_path, ROOT)}"
    )
    for name, (v, u) in e2e.items():
        print(f"  {name} = {v:.6g} {u}")
    if args.trace and absent:
        print(f"  absent (0 calls, printed as 0): {', '.join(absent)}")
    print(
        json.dumps(
            {
                "correct": not ctx.failures,
                "attempted": ctx.attempted,
                "failed": len(ctx.failures),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
