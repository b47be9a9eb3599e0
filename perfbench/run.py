"""Benchmark of record for pdf_parse_vector_db_spark.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 22 --trace 0

Run from the root of a checkout. Workloads:

  serve   closed loop of 2 search clients on a manifest-committed
          warehouse; ingests and a compaction run in set-up
          (perfbench/serve.py)
  batch   passes over registry queries, scans and iterative operators
          (perfbench/batch.py)

Each run builds its inputs from ``--seed`` (perfbench/gen.py), sets up,
measures for ``--seconds``, checks every output, and prints one JSON
object as the last stdout line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run first
measures an untraced window and then a traced one (each operation in its
own Spark job group, read back from the status store after it returns),
each half as long, and the metrics are the per-layer ones. Spans are
written to ``.perfbench_out/``. perfbench/README.md lists every metric.

All scratch data lives under ``.perfbench_work/`` in the checkout and is
removed at exit. The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: end-to-end metrics (printed with --trace 0): name -> unit
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
}


def per_layer_units() -> dict[str, str]:
    """Per-layer metrics (printed with --trace 1): name -> unit. Every
    workload prints all of them; one that does not apply reads 0."""
    from batch import QUERIES

    units = {
        "api.search_p50_ms": "ms",
        "api.search_jobs": "count",
        "api.search_driver_ms": "ms",
        "api.cache_hit_ratio": "ratio",
        "api.ingest_p50_ms": "ms",
        "api.ingest_jobs": "count",
        "api.ingest_driver_ms": "ms",
        "api.ingest_docs_per_s": "1/s",
        "operators.embedder.query_embed_ms": "ms",
        "sources.manifest.head_version_ms": "ms",
        "sources.manifest.commits_per_ingest": "count",
        "sources.manifest.compact_ms": "ms",
        "sources.manifest.bytes_on_disk": "bytes",
        "sources.manifest.stored_bytes_per_input_byte": "ratio",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.gc_s": "s",
        "spark.spill_bytes": "bytes",
        "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s",
        "spark.shuffle_read_bytes": "bytes",
        "spark.shuffle_write_bytes": "bytes",
        "spark.executor_util": "ratio",
        "spark.stage_wait_s": "s",
        "spark.driver_heap_mb": "MB",
        "trace.overhead_ms": "ms",
        "trace.status_read_ms": "ms",
        "trace.window_jobs": "count",
    }
    for q in QUERIES:
        units[f"plans.{q}.build_s"] = "s"
        units[f"plans.{q}.collect_s"] = "s"
        units[f"plans.{q}.jobs"] = "count"
        units[f"plans.{q}.shuffle_bytes"] = "bytes"
    return units


@dataclass
class Context:
    """What a workload gets: the session, its tracer, a scratch directory
    and the run's arguments."""

    spark: object
    tracer: object
    work: str
    seed: int
    seconds: float
    cores: int


def isolate(work: str, cores: int) -> None:
    """Keep every file Spark, Python and the JVM write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    import tempfile

    tempfile.tempdir = tmp
    os.environ.update({
        "TMPDIR": tmp,
        # every JVM, the launcher's too: no hsperfdata file in the system temp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": "2g",
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
            "pyspark-shell",
        ]),
    })


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a stuck JVM is killed
            proc.kill()
            proc.wait(timeout=30)


def heap_used_mb(spark) -> float:
    """Live driver heap after a full GC (tools/session_heap_audit.py idiom)."""
    gc.collect()
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    rt.gc()
    return float(rt.totalMemory() - rt.freeMemory()) / 1e6


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "pdf_parse_vector_db_spark"))):
        print(f"perfbench: no pdf_parse_vector_db_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import batch
    import serve

    workloads = {"serve": serve.serve, "batch": batch.batch}
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    isolate(work, cores)
    spark = None
    try:
        from pdf_parse_vector_db_spark.session import get_spark
        from tracing import Tracer

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        t_session = time.perf_counter() - t_start
        ctx = Context(spark, Tracer(spark, bool(args.trace)), work, args.seed,
                      args.seconds, cores)
        res = workloads[args.workload](ctx)
        out = res["_outcomes"]
        for e in out.errors:
            print(f"perfbench: FAILED {e}", file=sys.stderr)
        if args.trace:
            jobs = ctx.tracer.check_ledger()
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            ctx.tracer.write(os.path.join(
                ROOT, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.jsonl"))
            layers = res["_layers"]
            traced = [s for s in ctx.tracer.spans if "jobs" in s]
            layers["trace.status_read_ms"] = ctx.tracer.read_s * 1e3 / max(1, len(traced))
            layers["trace.window_jobs"] = float(jobs)
            layers["spark.driver_heap_mb"] = heap_used_mb(spark)
            units = per_layer_units()
            metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in units.items()}
        else:
            metrics = {k: {"value": float(res[k]), "unit": u} for k, u in END_TO_END.items()}
        by_name: dict[str, list[float]] = {}
        for sp in ctx.tracer.spans:
            if sp["parent"] is None:
                by_name.setdefault(sp["name"].split(".")[0], []).append(sp["wall_ms"] / 1e3)
        print("perfbench: time by phase " + " ".join(
            f"{k}={len(v)}x/{sum(v):.1f}s" for k, v in by_name.items()), file=sys.stderr)
        tail = res["_tail"]
        print(
            f"perfbench: {args.workload} seed={args.seed} n={res['_n']} "
            f"p50={res['op_p50_ms']:.1f}ms ops_per_s={res['ops_per_s']:.3f} "
            + (f"p{tail[0]}={tail[1]:.1f}ms " if tail else "")
            + f"attempted={out.attempted} failed={out.failed} "
            f"failed_frac={out.failed_frac:.4f} session={t_session:.1f}s "
            f"wall={time.perf_counter() - t_start:.1f}s",
            file=sys.stderr,
        )
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: stopped at {time.perf_counter() - t_start:.1f}s", file=sys.stderr)
    correct = out.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
