"""Serving-throughput audit: search QPS vs concurrent client threads.

The reference deployment is a Flask service taking concurrent requests;
this measures what the engine sustains in that shape — one long-lived
FAIR-scheduled SparkSession, N client threads looping the facade's
search path over a warehouse ingested through the facade's write path.

Prints ONE JSON line:
  {"metric": "search_qps", "per_threads": {"1": qps, "2": qps, ...},
   "searches_per_thread": N, "scaleup_8v1": x, ...,
   "ingest_p50_ms": {"raw": ms, "manifested": ms}}

``ingest_p50_ms`` is the median latency of the 6 ingests that build each
warehouse, one after another (raw parquet root and manifested table).

Interpretation: each search is scheduling-floor-bound (~0.3 s of driver
round-trips on local mode), so single-thread QPS is low and flat;
concurrency should RAISE aggregate QPS until executor cores saturate —
a scaleup_8v1 well above 1 is the evidence that the session multiplexes
requests instead of serializing them.

Usage:  python tools/concurrency_audit.py [searches_per_thread]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

DOC = (
    "The appellant filed a motion for review. " * 30
    + "\n\n"
    + "The court finds in favor of the appellant and the appeal is allowed. " * 20
)


def main() -> None:
    import tempfile

    from pdf_parse_vector_db_spark.api import SparkVectorService
    from pdf_parse_vector_db_spark.session import get_spark

    n_per_thread = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    spark = get_spark("concurrency_audit")
    spark.sparkContext.setLogLevel("ERROR")

    with tempfile.TemporaryDirectory() as tmp:
        svc = SparkVectorService(spark, os.path.join(tmp, "warehouse"))
        ingest_ms = {"raw": _ingest_p50_ms(svc, "case")}
        svc.search_similar_cases("warm.pdf", DOC, court_level=2)  # prime codegen

        per_threads: dict[str, float] = {}
        for n_threads in (1, 2, 4, 8):
            errors: list[BaseException] = []

            def client(tid, n_threads=n_threads):
                # every request text is unique across the whole audit, so
                # these numbers measure the ENGINE path — the response
                # cache (which would otherwise serve repeats at memory
                # speed) reports separately as cached_qps below
                try:
                    for j in range(n_per_thread):
                        svc.search_similar_cases(
                            f"q{j}.pdf", DOC + f" p{n_threads}-{tid}-{j}", 2
                        )
                except BaseException as exc:  # noqa: BLE001
                    errors.append(exc)

            threads = [
                threading.Thread(target=client, args=(tid,))
                for tid in range(n_threads)
            ]
            t0 = time.perf_counter()
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            wall = time.perf_counter() - t0
            if errors:
                raise errors[0]
            per_threads[str(n_threads)] = round(n_threads * n_per_thread / wall, 2)

        # the repeated-query path: version-keyed cache, no Spark job
        svc.search_similar_cases("hot.pdf", DOC + " hot", 2)
        t0 = time.perf_counter()
        for _ in range(200):
            svc.search_similar_cases("hot.pdf", DOC + " hot", 2)
        cached_qps = round(200 / (time.perf_counter() - t0), 1)

        # manifested mode pays a manifest head read per search (the
        # round-7 cross-process cache-invalidation fix; on a local table an
        # os.path.exists probe, no JVM call) + a deepcopy per cache hit —
        # measure both so the fix's serving cost is a number, not a guess
        man = SparkVectorService(
            spark, os.path.join(tmp, "man_wh"), manifested=True
        )
        ingest_ms["manifested"] = _ingest_p50_ms(man, "mcase")
        man.search_similar_cases("mwarm.pdf", DOC, court_level=2)
        t0 = time.perf_counter()
        for j in range(2 * n_per_thread):
            man.search_similar_cases(f"mq{j}.pdf", DOC + f" m{j}", 2)
        manifested_qps = round(2 * n_per_thread / (time.perf_counter() - t0), 2)
        man.search_similar_cases("mhot.pdf", DOC + " hot", 2)
        t0 = time.perf_counter()
        for _ in range(200):
            man.search_similar_cases("mhot.pdf", DOC + " hot", 2)
        manifested_cached_qps = round(200 / (time.perf_counter() - t0), 1)

        # the OPTIMIZE payoff: 6 ingests = 6 commit legs per scan until
        # maybe_compact folds them into one
        from pdf_parse_vector_db_spark.sources import manifest as M

        M.maybe_compact(
            spark, os.path.join(tmp, "man_wh"), max_live_commits=1,
            partition_by=("court_level",),
        )
        man.search_similar_cases("cwarm.pdf", DOC + " cw", 2)
        t0 = time.perf_counter()
        for j in range(2 * n_per_thread):
            man.search_similar_cases(f"cq{j}.pdf", DOC + f" c{j}", 2)
        manifested_compacted_qps = round(
            2 * n_per_thread / (time.perf_counter() - t0), 2
        )

    churn = _consistent_read_churn(spark, n_per_thread)
    print(
        json.dumps(
            {
                "metric": "search_qps",
                "per_threads": per_threads,
                "searches_per_thread": n_per_thread,
                "scaleup_8v1": round(per_threads["8"] / per_threads["1"], 2),
                "cached_qps": cached_qps,
                "manifested_qps": manifested_qps,
                "manifested_compacted_qps": manifested_compacted_qps,
                "manifested_cached_qps": manifested_cached_qps,
                "ivf_consistent_reads": churn,
                "ingest_p50_ms": ingest_ms,
            }
        )
    )


def _ingest_p50_ms(svc, prefix: str, n: int = 6) -> float:
    """Ingest `n` documents `{prefix}_{i}.pdf` at court level 3, one after
    another; the median wall time of one ingest, in ms. The first ingest
    of a warehouse is included: it creates the table."""
    walls = []
    for i in range(n):
        t0 = time.perf_counter()
        svc.ingest_legal_document(f"{prefix}_{i}.pdf", DOC + f" v{i}", court_level=3)
        walls.append((time.perf_counter() - t0) * 1e3)
    return round(statistics.median(walls), 1)


def _consistent_read_churn(spark, n_reads: int) -> dict:
    """Cost of the consistent-read protocol on the IVF index, quiet vs a
    live compactor republishing every cell in a paced loop — how much a
    reader pays for validate-and-retry when maintenance actually churns."""
    import tempfile

    from pyspark.sql import functions as F

    from pdf_parse_vector_db_spark.operators import ivf_index
    from pdf_parse_vector_db_spark.plans.similarity import _IVF_NPROBE, _ivf_seeds

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").filter(
        F.col("vec_id") < 300
    )
    seeds = _ivf_seeds(emb)
    out = {}
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/index"
        ivf_index.build_ivf_index(emb, seeds, path)
        q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
        cids = ivf_index.probe_cells(seeds, q, _IVF_NPROBE)

        def reads():
            t0 = time.perf_counter()
            for _ in range(n_reads):
                ivf_index.search_ivf_index_consistent(
                    spark, path, q, cids, max_retries=60
                )
            return round(n_reads / (time.perf_counter() - t0), 2)

        out["quiet_qps"] = reads()
        stop = threading.Event()

        def compactor():
            while not stop.is_set():
                ivf_index.compact_ivf_index(spark, path, max_files_per_cell=0)
                time.sleep(0.25)

        t = threading.Thread(target=compactor)
        t.start()
        try:
            out["churn_qps"] = reads()
        finally:
            stop.set()
            t.join(120)
        out["churn_penalty"] = round(out["quiet_qps"] / max(out["churn_qps"], 1e-9), 2)
    return out


if __name__ == "__main__":
    main()
