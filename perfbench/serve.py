"""Serving workload over ``api.SparkVectorService``.

Set-up chunks and embeds the generated corpus with
``plans.ingest.build_chunks`` (null embeddings dropped, as
``ingest_legal_document`` does), commits it through
``sources.manifest.commit_append`` into a ``manifested=True`` service
partitioned by court level, and ingests ``INGESTS`` unseen documents
through ``ingest_legal_document``, each a manifest commit, at the
service's default compaction threshold (16 live commits), so none of
them compacts. The compaction the service runs every 16 ingests is then
run once on its own (``maybe_compact``), so ingest and compaction are
timed apart, and ``WARM_SEARCHES`` searches warm the service up. Then,
until the window closes, a closed loop runs
``READ_CLIENTS`` client threads calling ``search_similar_cases`` on the
exact tier: court levels 0-3, a fixed 20%
re-sending a recent text (what the response cache serves). Writes stay
out of the window: with a writer beside the readers, the search median
depended on how many ingests and compactions a window overlapped, and
its quartile spread over ten seeds was 21% on a 4-core host, against
7.8% without the writer.

Checks: the compaction commits one new version; every response has the
README golden shape; after the window a seeded sample of the window's
texts is searched again on a fresh service and compared with a NumPy
brute force over the committed rows; every acknowledged ingest is in the
compacted table with its chunk count, and the fresh service finds two
sampled ones by their own text.
"""

from __future__ import annotations

import itertools
import math
import os
import statistics
import threading
import time

import numpy as np

import gen
from stats import Outcomes, percentile, tail_percentile
from tracing import spark_layers, traced_twice

READ_CLIENTS = 2
N_DOC = 1000
#: documents set-up ingests through the service, one after another
INGESTS = 4
#: searches set-up runs through the closed loop before the window. On a
#: cold service the search median fell by about 30% over the first 75
#: searches; a window that held them measured how far warm-up had got
WARM_SEARCHES = 60
#: window texts searched again and checked against a NumPy brute force
EXACT_SAMPLE = 5
SETUP_REPEATS = 3
#: traced runs time the embed step and the head read on this many of the
#: window's requests, after the window
PROBES = 40


# -- output checks -----------------------------------------------------------

_TOP = {"status", "query", "results", "result_count", "appellant_statistics"}
_HIT = {"case_decision", "file_id", "file_name", "score"}
_STATS = {"invalid_decisions", "total_valid_decisions", "win_count", "win_percentage"}


def check_shape(resp: dict, req: dict) -> str:
    """The README golden response shape; returns '' or what is wrong."""
    if set(resp) != _TOP or resp["status"] != "success":
        return f"top-level keys {sorted(resp)}"
    q = resp["query"]
    lvl = req["court_level"]
    if q != {"file_name": req["file_name"], "input_court_level": lvl,
             "target_court_level": lvl + 1}:
        return f"query echo {q}"
    hits = resp["results"]
    if not 1 <= len(hits) <= 5 or resp["result_count"] != len(hits):
        return f"{len(hits)} results, result_count {resp['result_count']}"
    if any(set(h) != _HIT for h in hits):
        return "hit keys"
    scores = [h["score"] for h in hits]
    if scores != sorted(scores) or len({h["file_id"] for h in hits}) != len(hits):
        return "hits not ascending or not one per file"
    st = resp["appellant_statistics"]
    if set(st) != _STATS:
        return "statistics keys"
    valid, wins = st["total_valid_decisions"], st["win_count"]
    pct = round(wins / valid * 100.0, 2) if valid else 0.0
    if st["invalid_decisions"] + valid != len(hits) or not 0 <= wins <= valid \
            or abs(st["win_percentage"] - pct) > 1e-9:
        return f"statistics {st}"
    return ""


def top_files(rows, qvec, target: int, fetch_k: int = 100, k: int = 5):
    """The exact tier's answer by brute force over ``rows`` (a dict of
    NumPy arrays): (dist, chunk_id) over-fetch, best chunk per file, top
    k by (dist, chunk_id). Returns [(file_id, dist)]."""
    m = rows["court_level"] == target
    chunk, files = rows["chunk_id"][m], rows["file_id"][m]
    d = np.sqrt(((rows["embedding"][m] - np.asarray(qvec)) ** 2).sum(axis=1))
    best: dict = {}
    for i in np.lexsort((chunk, d))[:fetch_k]:
        best.setdefault(files[i], (d[i], chunk[i]))
    return [(f, dc[0]) for f, dc in sorted(best.items(), key=lambda kv: kv[1])[:k]]


def check_exact(rows, req: dict, resp: dict, qvec) -> str:
    want = top_files(rows, qvec, req["court_level"] + 1)
    got = {h["file_id"]: h["score"] for h in resp["results"]}
    if len(got) != len(want):
        return f"{len(got)} hits, brute force has {len(want)}"
    kth = want[-1][1]
    for f, d in want:
        if f in got:
            if abs(got[f] - round(d, 4)) > 1.5e-4:
                return f"score {got[f]} for {f[:8]}, brute force {d:.6f}"
        elif abs(d - kth) > 1e-9:  # a tie at the cut may go either way
            return f"file {f[:8]} (dist {d:.6f}) missing"
    return ""


def query_vector(text: str):
    from pdf_parse_vector_db_spark.operators.chunker import chunk_text
    from pdf_parse_vector_db_spark.operators.embedder import embed_text_py

    for chunk in chunk_text(text):
        v = embed_text_py(chunk)
        if v is not None:
            return v
    return None


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


# -- closed-loop driver ------------------------------------------------------

class Loop:
    """Closed loop: each client sends its next request when the previous
    one returns, until the deadline or the end of the stream. Requests
    come from one shared seeded stream, so the set sent depends only on
    the seed and on how many fit in the window."""

    def __init__(self, stream):
        self._it = iter(stream)
        self._lock = threading.Lock()

    def next(self):
        with self._lock:
            return next(self._it, None)

    @staticmethod
    def run(clients, seconds: float):
        """clients: callables (deadline) -> None, one thread each.
        Returns the wall from start to the last client's return."""
        errors: list[BaseException] = []
        t0 = time.perf_counter()
        deadline = t0 + seconds

        def wrap(fn):
            try:
                fn(deadline)
            except BaseException as exc:  # noqa: BLE001 - surfaced below
                errors.append(exc)

        threads = [threading.Thread(target=wrap, args=(c,)) for c in clients]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        return time.perf_counter() - t0


def _search_client(ctx, svc, loop, log, out):
    def client(deadline):
        while time.perf_counter() < deadline:
            req = loop.next()
            if req is None:
                return
            try:
                with ctx.tracer.op("api.search", rid=req["rid"]) as span:
                    resp = svc.search_similar_cases(
                        req["file_name"], req["text"], req["court_level"]
                    )
            except Exception as exc:  # noqa: BLE001 - a failed request
                out.record(False, f"search {req['rid']}: {str(exc).splitlines()[0][:200]}")
                continue
            why = check_shape(resp, req)
            out.record(not why, f"search {req['rid']}: {why}")
            if not why:
                log.append((req, span))
    return client


def _search_layers(log, svc_counts) -> dict:
    """Per-layer numbers from the traced window's search spans."""
    uncached = [s for _, s in log if s["jobs"] > 0]
    hits, misses = svc_counts
    return {
        "api.search_p50_ms": statistics.median(s["wall_ms"] for _, s in log),
        "api.search_jobs": statistics.mean(s["jobs"] for s in uncached) if uncached else 0.0,
        "api.search_driver_ms": (
            statistics.median(s["driver_ms"] for s in uncached) if uncached else 0.0),
        "api.cache_hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
    }


# -- workload ----------------------------------------------------------------

def serve(ctx) -> dict:
    from pyspark.sql import functions as F

    from pdf_parse_vector_db_spark.api import SparkVectorService
    from pdf_parse_vector_db_spark.plans.ingest import build_chunks
    from pdf_parse_vector_db_spark.sources import manifest as M

    corpus = os.path.join(ctx.work, "corpus")
    gen.write_corpus(corpus, ctx.seed, n_doc=N_DOC)
    texts = gen.read_texts(corpus)

    # set-up: commit the corpus on fresh paths (median reported), then
    # ingest unseen documents through the service, one after another
    walls = []
    for rep in range(SETUP_REPEATS):
        path = os.path.join(ctx.work, f"warehouse{rep}")
        t0 = time.perf_counter()
        with ctx.tracer.op("setup.commit"):
            M.commit_append(
                ctx.spark, path,
                build_chunks(ctx.spark, corpus).filter(F.col("embedding").isNotNull()),
                partition_by=("court_level",), stats_cols=("file_id",),
            )
        walls.append(time.perf_counter() - t0)
    svc = SparkVectorService(ctx.spark, path, manifested=True)
    out = Outcomes()
    acked: list[dict] = []
    ingests: list[dict] = []
    head0 = M.head_version(ctx.spark, path)
    t0 = time.perf_counter()
    for d in itertools.islice(gen.ingest_docs(ctx.seed, texts), INGESTS):
        try:
            with ctx.tracer.op("api.ingest", rid=d["file_name"]) as span:
                r = svc.ingest_legal_document(d["file_name"], d["text"], d["court_level"])
        except Exception as exc:  # noqa: BLE001 - a failed request
            out.record(False, f"ingest {d['file_name']}: {str(exc).splitlines()[0][:200]}")
            continue
        ok = r.get("chunks_inserted", 0) >= 1 and isinstance(r.get("case_decision"), str)
        out.record(ok, f"ingest {d['file_name']}: {r}")
        if ok:
            acked.append(dict(d, chunks=r["chunks_inserted"]))
            ingests.append(span)
    head = M.head_version(ctx.spark, path)
    heads = head - head0
    # the service's periodic compaction, forced: every live commit is
    # rewritten as one
    with ctx.tracer.op("sources.manifest.compact") as compaction:
        compacted = M.maybe_compact(
            ctx.spark, path, max_live_commits=1,
            partition_by=("court_level",), stats_cols=("file_id",),
        )
    out.record(compacted == head + 1, f"compaction: head {head} -> {compacted}")
    reqs = gen.requests(ctx.seed, texts)
    warm = Loop(itertools.islice(reqs, WARM_SEARCHES))
    Loop.run([_search_client(ctx, svc, warm, [], out) for _ in range(READ_CLIENTS)], math.inf)
    result = {"setup_s": statistics.median(walls) + time.perf_counter() - t0}

    loop = Loop(reqs)

    def window(seconds):
        log: list = []
        out = Outcomes()
        h0, m0 = svc.cache_hits, svc.cache_misses
        clients = [_search_client(ctx, svc, loop, log, out) for _ in range(READ_CLIENTS)]
        wall = Loop.run(clients, seconds)
        return log, out, wall, (svc.cache_hits - h0, svc.cache_misses - m0)

    (log, win_out, wall, counts), base = traced_twice(ctx.tracer, window, ctx.seconds)
    out.merge(win_out)
    if base is not None:
        out.merge(base[1])

    # durability and the exact tier, against the committed rows
    with ctx.tracer.op("check.snapshot"):
        _, snap = M.snapshot(ctx.spark, path)
        got = snap.select("chunk_id", "file_id", "file_name", "court_level", "embedding").collect()
    rows = {
        "chunk_id": np.array([r["chunk_id"] for r in got], dtype=np.int64),
        "file_id": np.array([r["file_id"] for r in got], dtype=object),
        "court_level": np.array([r["court_level"] for r in got], dtype=np.int64),
        "embedding": np.array([r["embedding"] for r in got], dtype=np.float64),
    }
    stored: dict[str, int] = {}
    for r in got:
        stored[r["file_name"]] = stored.get(r["file_name"], 0) + 1
    for a in acked:
        ok = stored.get(a["file_name"]) == a["chunks"]
        out.record(ok, f"durability {a['file_name']}: stored {stored.get(a['file_name'])} of {a['chunks']}")
    fresh = SparkVectorService(ctx.spark, path, manifested=True)
    rng = np.random.default_rng([ctx.seed, 3])
    for i in rng.permutation(len(acked))[:2]:
        a = acked[int(i)]
        with ctx.tracer.op("check.find_acked"):
            resp = fresh.search_similar_cases("find.pdf", a["text"], a["court_level"] - 1)
        ok = a["file_name"] in {h["file_name"] for h in resp["results"]}
        out.record(ok, f"fresh service cannot find {a['file_name']}")
    for i in rng.permutation(len(log))[:EXACT_SAMPLE]:
        req = log[int(i)][0]
        with ctx.tracer.op("check.exact"):
            resp = fresh.search_similar_cases(req["file_name"], req["text"], req["court_level"])
        why = check_shape(resp, req) or check_exact(rows, req, resp, query_vector(req["text"]))
        out.record(not why, f"exact {req['rid']}: {why}")

    lat = [s["wall_ms"] for _, s in log]
    p = tail_percentile(len(lat))
    result.update({
        "op_p50_ms": percentile(lat, 50),
        "ops_per_s": len(lat) / wall,
        "_n": len(lat),
        "_tail": (p, percentile(lat, p)) if p else None,
        "_outcomes": out,
    })
    if base is not None:
        m = _search_layers(log, counts)
        # the request's own embed step and the manifest head read every
        # manifested search pays, timed one after another on the window's
        # texts once the window has closed, so no search runs beside them
        embed, heads_ms = [], []
        for req, _ in log[:PROBES]:
            t0 = time.perf_counter()
            query_vector(req["text"])
            t1 = time.perf_counter()
            M.head_version(ctx.spark, path)
            embed.append((t1 - t0) * 1e3)
            heads_ms.append((time.perf_counter() - t1) * 1e3)
        m["operators.embedder.query_embed_ms"] = statistics.median(embed)
        m["sources.manifest.head_version_ms"] = statistics.median(heads_ms)
        m["api.ingest_p50_ms"] = statistics.median(s["wall_ms"] for s in ingests)
        m["api.ingest_jobs"] = statistics.mean(s["jobs"] for s in ingests)
        m["api.ingest_driver_ms"] = statistics.median(s["driver_ms"] for s in ingests)
        m["api.ingest_docs_per_s"] = len(ingests) / sum(s["wall_ms"] / 1e3 for s in ingests)
        m["sources.manifest.commits_per_ingest"] = heads / len(ingests)
        m["sources.manifest.compact_ms"] = compaction["wall_ms"]
        stored_bytes = _dir_bytes(path)
        input_bytes = sum(len(t.encode()) for t in texts) + sum(len(a["text"].encode()) for a in acked)
        m["sources.manifest.bytes_on_disk"] = float(stored_bytes)
        m["sources.manifest.stored_bytes_per_input_byte"] = stored_bytes / input_bytes
        m.update(spark_layers([s for _, s in log], wall, ctx.cores))
        m["trace.overhead_ms"] = m["api.search_p50_ms"] - statistics.median(
            s["wall_ms"] for _, s in base[0])
        result["_layers"] = m
    return result
