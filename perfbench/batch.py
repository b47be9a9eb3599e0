"""Batch workload over the ``__spark_entry__.queries()`` registry.

One pass runs each query in ``QUERIES`` once, as ``fn(spark,
corpus).collect()``, in a seeded order. Set-up is two passes, the first
one cold; the window then runs passes until it closes. The reported pass wall is the
sum of the per-query medians. Every result is checked against the digest
stored in ``expected_digests.json``.

The queries come in two kinds, both in one workload so that a run stays
inside the time budget:

* executor-bound scans, shuffles and UDFs (``SCAN``): most of their wall
  is executor time after the plan is built;
* driver-round-trip-bound iterative operators (``ITERATIVE``): their
  ``fn()`` runs many small eager jobs (lineage cuts, convergence loops).

The corpus is generated from ``CORPUS_SEED``, not from the run seed, so
that one stored digest per query checks every run; the run seed orders
the queries in each pass.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np

import gen
from stats import Outcomes, row_digest
from tracing import spark_layers, traced_twice

SCAN = ("ingest_chunks", "knn_join", "ivf_knn")
ITERATIVE = ("dup_components", "label_propagation")
QUERIES = SCAN + ITERATIVE
CORPUS_SEED = 20261016
#: write_corpus arguments the stored digests were made with
CORPUS = {"n_doc": 500, "n_emb": 500, "n_orders": 15_000, "n_parts": 2_000}

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_digests.json")


def stage_corpus(path: str) -> None:
    gen.write_corpus(path, CORPUS_SEED, **CORPUS)


def expected() -> dict:
    with open(DIGESTS) as f:
        data = json.load(f)
    if data["corpus"] != dict(CORPUS, seed=CORPUS_SEED):
        raise RuntimeError("expected_digests.json was made for another corpus")
    return data["queries"]


def batch(ctx) -> dict:
    import __spark_entry__ as entry

    corpus = os.path.join(ctx.work, "corpus")
    stage_corpus(corpus)
    want = expected()
    fns = entry.queries()
    rng = np.random.default_rng([ctx.seed, 13])
    out = Outcomes()

    def run(name: str) -> dict | None:
        """One query, timed; returns its span when the output checks out."""
        try:
            with ctx.tracer.op(f"plans.{name}", rid=name) as span:
                t0 = time.perf_counter()
                df = fns[name](ctx.spark, corpus)
                build = time.perf_counter() - t0
                rows = df.collect()
        except Exception as exc:  # noqa: BLE001 - a failed query
            out.record(False, f"{name}: {str(exc).splitlines()[0][:200]}")
            return None
        span["build_s"] = build
        span["collect_s"] = span["wall_ms"] / 1e3 - build
        got = row_digest(rows, df.columns)
        ok = got == want[name]["digest"]
        out.record(ok, f"{name}: digest {got} != expected {want[name]['digest']} ({len(rows)} rows)")
        return span if ok else None

    # set-up: a cold pass, then a warm-up pass, which still runs 20-40%
    # slower than later ones
    t0 = time.perf_counter()
    for _ in range(2):
        for name in rng.permutation(QUERIES):
            run(str(name))
    setup_s = time.perf_counter() - t0

    def window(seconds: float) -> tuple[dict, float]:
        """Passes until the window closes; the first pass always completes,
        so every query has a sample."""
        samples: dict[str, list[dict]] = {q: [] for q in QUERIES}
        t0 = time.perf_counter()
        deadline = t0 + seconds
        passes = 0
        while passes == 0 or time.perf_counter() < deadline:
            for name in rng.permutation(QUERIES):
                if passes and time.perf_counter() >= deadline:
                    break
                span = run(str(name))
                if span is not None:
                    samples[str(name)].append(span)
            passes += 1
        return samples, time.perf_counter() - t0

    (samples, wall), base = traced_twice(ctx.tracer, window, ctx.seconds)

    def pass_ms(samples) -> float:
        """Sum of per-query medians over the queries with a checked sample."""
        return sum(statistics.median(s["wall_ms"] for s in v) for v in samples.values() if v)

    result = {
        "setup_s": setup_s,
        "op_p50_ms": pass_ms(samples),
        "ops_per_s": len(QUERIES) / pass_ms(samples) * 1e3,
        "_n": min(len(v) for v in samples.values()),
        "_tail": None,
        "_outcomes": out,
    }
    if base is not None:
        m = {}
        for q, ss in samples.items():
            if not ss:
                continue
            m[f"plans.{q}.build_s"] = statistics.median(s["build_s"] for s in ss)
            m[f"plans.{q}.collect_s"] = statistics.median(s["collect_s"] for s in ss)
            m[f"plans.{q}.jobs"] = statistics.mean(s["jobs"] for s in ss)
            m[f"plans.{q}.shuffle_bytes"] = statistics.mean(s["shuffle_write_bytes"] for s in ss)
        m.update(spark_layers([s for v in samples.values() for s in v], wall, ctx.cores))
        m["trace.overhead_ms"] = result["op_p50_ms"] - pass_ms(base[0])
        result["_layers"] = m
    return result
