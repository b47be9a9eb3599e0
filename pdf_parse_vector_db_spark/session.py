"""SparkSession factory.

The reference keeps one module-global Milvus client alive across requests
(extract_and_search.py:133-138 lazily reconnects per request); our analog is
one long-lived SparkSession with scale-appropriate defaults.

Defaults are chosen for the 100 TB posture but parameterized so local test
runs stay fast:
  - AQE on (runtime shuffle coalescing, broadcast conversion, skew-join).
  - Arrow on (every Python boundary in this engine is a pandas_udf /
    applyInPandas — Arrow batching is the difference between 10x and 1000x
    slower than JVM, see extract_and_embed.py:80-82's 1-call-per-chunk
    anti-pattern we refuse to replicate).
  - shuffle partitions sized to cores locally; on a real cluster this should
    be ~2-3x total cores or left to AQE's coalescing from a high initial.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

#: Long-session heap bounds (round-6 verdict #5). Even with the UI
#: disabled, AppStatusListener retains the last 1000 executions' SQL plan
#: graphs and 1000 jobs/stages for the status API — on plan-heavy
#: workloads that is the dominant driver-heap accumulator over a
#: 100k-query service lifetime (measured: tools/session_heap_audit.py).
#: Bounding retention keeps the status store O(1) in query count; the
#: numbers still cover any realistic debugging window.
STATUS_RETENTION: dict[str, str] = {
    "spark.sql.ui.retainedExecutions": "50",
    "spark.ui.retainedJobs": "200",
    "spark.ui.retainedStages": "200",
    "spark.ui.retainedTasks": "2000",
    "spark.ui.retainedDeadExecutors": "10",
    "spark.appStateStore.asyncTracking.enable": "true",
}


#: conf key for the round-11 scale-safety switch (see
#: install_reliable_checkpoint_switch / SCALING.md "Lineage cuts")
RELIABLE_CHECKPOINT_DIR_CONF = "spark.pdfParseVectorDb.reliableCheckpointDir"


def install_reliable_checkpoint_switch() -> None:
    """Conf-gated RELIABLE checkpointing behind every existing
    ``DataFrame.localCheckpoint`` call site (round-11 verdict item, guide
    §5/§7.3 posture note).

    The engine's iterative operators cut lineage with ``localCheckpoint``
    — correct and cheapest for the bench contract, but executor-LOCAL
    checkpoint blocks are non-replicated: on a real cluster, losing an
    executor after the cut fails the job instead of recomputing. Setting
    ``spark.pdfParseVectorDb.reliableCheckpointDir`` (e.g. an HDFS/S3
    path) at session build reroutes every lineage cut through
    ``DataFrame.checkpoint`` into that directory — same plans, same
    results (pinned by tests/test_components.py), node-loss-safe. Unset
    (the default, and the bench posture), behavior is byte-identical to
    stock ``localCheckpoint``. The shim keeps its signature; in reliable
    mode ``storageLevel`` is ignored (the blocks go to the directory).

    One shim instead of 60+ call-site edits: the cut is POLICY, not
    per-operator logic, so it is installed once at the session factory.
    The shim dispatches per DataFrame via the session conf, so two
    sessions with different settings coexist."""
    # Spark 4 splits DataFrame into an abstract base (pyspark.sql.dataframe)
    # and the concrete classic implementation whose own localCheckpoint
    # would shadow a base-class patch — shim the concrete class.
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pragma: no cover — Spark 3.x layout
        from pyspark.sql import DataFrame

    if getattr(DataFrame, "_pdfparse_reliable_ckpt_shim", False):
        return
    orig = DataFrame.localCheckpoint

    def _local_checkpoint(self, eager: bool = True, storageLevel=None):
        sess = self.sparkSession
        cdir = sess.conf.get(RELIABLE_CHECKPOINT_DIR_CONF, None)
        if not cdir:
            return orig(self, eager=eager, storageLevel=storageLevel)
        sc = sess.sparkContext
        # setCheckpointDir makes a fresh <cdir>/<uuid> each call, and
        # getCheckpointDir returns that subdirectory, not cdir: remember
        # which conf value produced the current dir and set it only when
        # either has changed
        if getattr(sc, "_pdfparse_ckpt", None) != (cdir, sc.getCheckpointDir()):
            sc.setCheckpointDir(cdir)
            sc._pdfparse_ckpt = (cdir, sc.getCheckpointDir())
        return self.checkpoint(eager=eager)

    _local_checkpoint.__doc__ = orig.__doc__
    DataFrame.localCheckpoint = _local_checkpoint
    DataFrame._pdfparse_reliable_ckpt_shim = True


def get_spark(
    app_name: str = "pdf_parse_vector_db_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime semi-join reduction: when one join side carries a selective
        # filter, inject a bloom filter of its keys into the other side's
        # scan (might_contain) — at 100 TB this prunes most of a fact scan
        # before the shuffle; thresholds are left at defaults so it only
        # fires where the planner's size estimates justify it
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # FAIR scheduling (round 6): the reference is a concurrent HTTP
        # service — under the default FIFO scheduler one long analytic job
        # head-of-line blocks every interactive search submitted after it.
        # FAIR round-robins tasks across concurrently running jobs, and
        # per-request pools (scoped_pool) keep ingest storms from starving
        # the search path. Single-threaded workloads (bench, the oracle
        # gate) submit one job at a time, where FAIR ≡ FIFO — plans and
        # results are unaffected.
        .config(
            "spark.scheduler.mode", os.environ.get("SPARK_GRAFT_SCHEDULER", "FAIR")
        )
    )
    for k, v in STATUS_RETENTION.items():
        builder = builder.config(k, v)
    install_reliable_checkpoint_switch()
    if os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT_DIR"):
        builder = builder.config(
            RELIABLE_CHECKPOINT_DIR_CONF,
            os.environ["SPARK_GRAFT_RELIABLE_CHECKPOINT_DIR"],
        )
    return builder.getOrCreate()


@contextmanager
def scoped_pool(spark: SparkSession, pool: str):
    """Tag every job submitted by THIS thread into a named FAIR pool for
    the duration of the block, restoring the previous tag on exit.

    PySpark pins each Python thread to its own JVM thread
    (PYSPARK_PIN_THREAD, default since Spark 3.2), so
    ``setLocalProperty("spark.scheduler.pool", ...)`` is request-thread
    local: concurrent service requests in different threads land in their
    own pools without interfering. Pools are created on first use with
    default settings (weight 1, FIFO within the pool) — fair BETWEEN
    pools is exactly the isolation a serving workload needs, with no
    allocation-file deployment step."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.scheduler.pool")
    sc.setLocalProperty("spark.scheduler.pool", pool)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.scheduler.pool", prev)
