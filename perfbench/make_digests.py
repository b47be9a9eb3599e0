"""Regenerate expected_digests.json for the batch workload.

    python3 perfbench/make_digests.py [--check]

Stages the fixed batch corpus (batch.CORPUS_SEED) under
``.perfbench_work/`` and runs each query's DuckDB oracle
(``__spark_entry__.oracle_sql()``) over it; the digest of the oracle's
rows is the expected one (``"source": "oracle"``). A query without an
oracle, or whose oracle fails, stops the script: no digest is taken from
Spark's own output.

``--check`` also runs every query on Spark and reports whether its
digest matches; the file is written only when all of them do.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import batch  # noqa: E402
import run  # noqa: E402
from stats import row_digest  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--check", action="store_true")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from tools.compare_oracle import duckdb_connection

    work = os.path.join(ROOT, ".perfbench_work", f"digests-{os.getpid()}")
    run.isolate(work, len(os.sched_getaffinity(0)))
    corpus = os.path.join(work, "corpus")
    batch.stage_corpus(corpus)
    spark = None
    try:
        con = duckdb_connection(corpus)
        oracles = entry.oracle_sql()
        out = {}
        for q in batch.QUERIES:
            if q not in oracles:
                print(f"{q}: no DuckDB oracle", file=sys.stderr)
                return 1
            t0 = time.perf_counter()
            res = con.execute(oracles[q])
            rows, cols = [tuple(r) for r in res.fetchall()], [d[0] for d in res.description]
            out[q] = {"digest": row_digest(rows, cols), "rows": len(rows), "source": "oracle"}
            print(f"{q}: oracle ({time.perf_counter() - t0:.1f}s)", file=sys.stderr)

        if args.check:
            from pdf_parse_vector_db_spark.session import get_spark

            spark = get_spark("perfbench-digests")
            spark.sparkContext.setLogLevel("ERROR")
            fns = entry.queries()
            bad = 0
            for q in batch.QUERIES:
                df = fns[q](spark, corpus)
                rows = df.collect()
                ok = row_digest(rows, df.columns) == out[q]["digest"]
                bad += not ok
                print(f"{q}: spark {'OK' if ok else 'MISMATCH'} ({len(rows)} rows)", file=sys.stderr)
            if bad:
                return 1
        with open(batch.DIGESTS, "w") as f:
            json.dump({"corpus": dict(batch.CORPUS, seed=batch.CORPUS_SEED), "queries": out},
                      f, indent=2, sort_keys=True)
            f.write("\n")
        return 0
    finally:
        if spark is not None:
            run.stop(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
