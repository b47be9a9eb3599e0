"""Service facade (api.py): the reference's three endpoints end-to-end
against a temp warehouse — ingest → search → health, plus the validation
and response-shape contracts (golden shape keys, README.md:17-65)."""

from __future__ import annotations

import pytest

from pdf_parse_vector_db_spark.api import SparkVectorService
from pdf_parse_vector_db_spark.schemas import DECISIONS

DOC = (
    "The appellant filed a motion for review. " * 30
    + "\n\n"
    + "The court finds in favor of the appellant and the appeal is allowed. " * 20
)
QUERY = "The appellant filed a motion seeking review of the decision. " * 25


@pytest.fixture()
def svc(spark, tmp_path):
    return SparkVectorService(spark, str(tmp_path / "warehouse"))


def test_ingest_returns_counts_and_decision(svc):
    out = svc.ingest_legal_document("case_a.pdf", DOC, court_level=2)
    assert out["chunks_inserted"] >= 1
    assert out["case_decision"] in DECISIONS


def test_reingest_reports_this_calls_rows(spark, tmp_path):
    """A second ingest of one file name answers the rows THAT call
    inserted, as the reference answers len(rows) (extract_and_embed.py:
    118-123), not every row the level holds for the file; both copies
    are stored, in raw and in manifested mode."""
    from pyspark.sql import functions as F

    from pdf_parse_vector_db_spark.operators.chunker import chunk_text

    for manifested in (False, True):
        svc = SparkVectorService(
            spark, str(tmp_path / f"wh_{manifested}"), manifested=manifested
        )
        first = svc.ingest_legal_document("case_r.pdf", DOC, court_level=3)
        second = svc.ingest_legal_document("case_r.pdf", DOC, court_level=3)
        assert first == second == {
            "chunks_inserted": len(chunk_text(DOC)),
            "case_decision": "appellant_won",
        }, manifested
        stored = svc._chunks().filter(F.col("file_name") == "case_r.pdf").count()
        assert stored == 2 * first["chunks_inserted"], manifested
        svc.close()


def test_ingest_rows_match_the_spark_plan_bit_for_bit(spark, tmp_path):
    """The rows an ingest builds on the driver are, column for column and
    embedding float for float, the rows the Spark plan of the bulk path
    (chunk_documents + hashing_embedder, the same select) builds for the
    document, in raw and manifested mode, with the same stored schema
    (court_level reads back as int from its partition directory). The
    document has chunker edge (a), an over-budget first paragraph whose
    empty chunk 0 is dropped and leaves a gap, and edge (b), a single
    over-budget paragraph kept whole."""
    import hashlib

    from pyspark.sql import functions as F

    from pdf_parse_vector_db_spark.functions.classifiers import case_decision_expr
    from pdf_parse_vector_db_spark.operators.chunker import chunk_documents
    from pdf_parse_vector_db_spark.operators.embedder import hashing_embedder
    from pdf_parse_vector_db_spark.schemas import CHUNK_MAX_TOKENS

    over = CHUNK_MAX_TOKENS + 50
    text = "\n\n".join(
        [
            " ".join(f"a{i}" for i in range(over)),  # edge (a)
            "A short paragraph: appeal dismissed.",
            "Another short paragraph. " * 8,
            " ".join(f"b{i}" for i in range(2 * over)),  # edge (b)
            "The tail paragraph.",
        ]
    )
    name, level = "multi.pdf", 2
    doc_id = int(hashlib.sha256(name.encode()).hexdigest()[:12], 16)
    docs = spark.createDataFrame(
        [(doc_id, text, level)], "doc_id long, text string, court_level int"
    ).withColumn("case_decision", case_decision_expr(F.col("text")))
    plan = (
        chunk_documents(docs, keep_cols=("court_level", "case_decision"))
        .withColumn("file_name", F.lit(name))
        .withColumn("file_id", F.sha2(F.lit(name), 256))
        .withColumn("chunk_id", F.col("doc_id") * 1000 + F.col("chunk_idx"))
        .withColumn("embedding", hashing_embedder()(F.col("chunk_text")))
        .filter(F.col("embedding").isNotNull())
        .select(
            "chunk_id",
            "doc_id",
            "chunk_idx",
            F.col("chunk_text").alias("text"),
            "embedding",
            "file_name",
            "file_id",
            F.col("court_level").cast("tinyint").alias("court_level"),
            "case_decision",
        )
    )
    want_path = str(tmp_path / "want")
    plan.write.partitionBy("court_level").parquet(want_path)
    want_df = spark.read.parquet(want_path)

    def cells(df) -> list[dict]:
        """Every row in chunk_id order, embeddings as float.hex strings."""
        rows = [r.asDict() for r in df.orderBy("chunk_id").collect()]
        for row in rows:
            row["embedding"] = [x.hex() for x in row["embedding"]]
        return rows

    want = cells(want_df)
    assert [r["chunk_idx"] for r in want] == [1, 2, 3, 4]  # edge (a)'s chunk 0 is gone
    assert len(want[2]["text"].split()) == 2 * over  # edge (b) is one chunk
    for manifested in (False, True):
        svc = SparkVectorService(
            spark, str(tmp_path / f"wh_{manifested}"), manifested=manifested
        )
        out = svc.ingest_legal_document(name, text, court_level=level)
        assert out == {"chunks_inserted": 4, "case_decision": "appellant_lost"}
        got = svc._chunks()
        assert got.schema == want_df.schema, manifested
        assert dict(got.dtypes)["court_level"] == "int"
        assert cells(got) == want, manifested
        svc.close()


def test_ingest_validation_mirrors_reference(svc):
    with pytest.raises(ValueError, match="PDF"):
        svc.ingest_legal_document("notes.txt", DOC, court_level=2)
    with pytest.raises(ValueError, match="integer"):
        svc.ingest_legal_document("a.pdf", DOC, court_level="high")
    with pytest.raises(ValueError, match="No text"):
        svc.ingest_legal_document("a.pdf", "   ", court_level=2)


def test_search_returns_golden_shape(svc):
    # ingest at level 3 == query level 2 + 1 (the reference searches one
    # level above the input court)
    for i in range(3):
        svc.ingest_legal_document(f"case_{i}.pdf", DOC + f" variant {i}", court_level=3)
    resp = svc.search_similar_cases("query.pdf", QUERY, court_level=2)
    assert resp["status"] == "success"
    assert resp["query"]["file_name"] == "query.pdf"
    assert resp["query"]["input_court_level"] == 2
    assert resp["query"]["target_court_level"] == 3
    assert 1 <= resp["result_count"] <= 5
    assert len(resp["results"]) == resp["result_count"]
    # per-file dedup: every hit is a distinct file
    ids = [r["file_id"] for r in resp["results"]]
    assert len(ids) == len(set(ids))
    # ascending score order
    scores = [r["score"] for r in resp["results"]]
    assert scores == sorted(scores)
    # golden stats keys (README.md:19-24)
    stats = resp["appellant_statistics"]
    assert set(stats) == {
        "invalid_decisions",
        "total_valid_decisions",
        "win_count",
        "win_percentage",
    }
    assert stats["total_valid_decisions"] == 3 and stats["win_count"] == 3


def test_search_empty_level_returns_no_results(svc):
    svc.ingest_legal_document("case_x.pdf", DOC, court_level=1)
    resp = svc.search_similar_cases("query.pdf", QUERY, court_level=3)
    assert resp["result_count"] == 0


def test_health_counts_chunks(svc):
    assert svc.health() == {"status": "healthy", "chunks_indexed": 0}
    svc.ingest_legal_document("case_h.pdf", DOC, court_level=2)
    h = svc.health()
    assert h["status"] == "healthy" and h["chunks_indexed"] >= 1


def test_cached_response_is_mutation_proof(svc):
    """A caller annotating a returned response must not poison later
    cache hits (ADVICE r6: the cache stored/returned one mutable dict)."""
    svc.ingest_legal_document("case_m.pdf", DOC, court_level=3)
    r1 = svc.search_similar_cases("query.pdf", QUERY, court_level=2)
    r1["status"] = "mangled"
    r1["results"].append({"injected": True})
    r2 = svc.search_similar_cases("query.pdf", QUERY, court_level=2)
    assert svc.cache_hits >= 1  # second call was served from cache
    assert r2["status"] == "success"
    assert all("injected" not in r for r in r2["results"])


def test_manifested_cache_sees_foreign_commits(spark, tmp_path):
    """Manifested mode exists for multi-process writers, so the search
    cache must key on the manifest head, not the in-process counter: a
    commit from ANOTHER service instance invalidates our cached entry."""
    path = str(tmp_path / "wh")
    ours = SparkVectorService(spark, path, manifested=True)
    theirs = SparkVectorService(spark, path, manifested=True)
    ours.ingest_legal_document("case_0.pdf", DOC, court_level=3)
    r1 = ours.search_similar_cases("query.pdf", QUERY, court_level=2)
    # a foreign process commits; our local counter never moves
    theirs.ingest_legal_document("case_1.pdf", DOC + " variant b", court_level=3)
    r2 = ours.search_similar_cases("query.pdf", QUERY, court_level=2)
    assert r2["result_count"] == r1["result_count"] + 1  # not the stale hit


def test_manifested_auto_compact_bounds_commit_legs(spark, tmp_path):
    """A long-lived manifested service must not accrete one scan leg per
    ingest: past the threshold, ingest folds the live commits into one
    (measured 2.2x search-wall payoff in tools/concurrency_audit.py)."""
    from pdf_parse_vector_db_spark.sources import manifest as M

    path = str(tmp_path / "wh")
    svc = SparkVectorService(spark, path, manifested=True, auto_compact_commits=3)
    for i in range(5):
        svc.ingest_legal_document(f"case_{i}.pdf", DOC + f" v{i}", court_level=3)
    head = M.head_version(spark, path)
    live = M._read_manifest(spark, path, head)["commits"]
    assert len(live) <= 3  # compaction triggered along the way
    # nothing lost: all five files' chunks are present
    _, df = M.snapshot(spark, path)
    assert df.select("file_name").distinct().count() == 5
    # searches see the compacted table (cache version tracked the replace)
    resp = svc.search_similar_cases("q.pdf", QUERY, court_level=2)
    assert resp["result_count"] == 5


def test_forget_file_erases_and_restore_undoes(spark, tmp_path):
    """Maintenance surface (manifested mode): forget_file row-deletes one
    document's chunks through the zone-map-pruned DELETE (searches and
    health reflect it immediately — the cache keys on the manifest
    head), and restore() rolls the warehouse back to a pre-delete
    version, resurfacing the rows. Raw mode refuses both."""
    from pyspark.sql import functions as F

    from pdf_parse_vector_db_spark.sources import manifest as M

    path = str(tmp_path / "wh")
    svc = SparkVectorService(spark, path, manifested=True, auto_compact_commits=0)
    svc.ingest_legal_document("case_a.pdf", DOC, court_level=3)
    svc.ingest_legal_document("case_b.pdf", DOC + " variant b", court_level=3)
    pre_delete = M.head_version(spark, path)
    r_before = svc.search_similar_cases("query.pdf", QUERY, court_level=2)
    assert r_before["result_count"] == 2

    svc.forget_file("case_a.pdf")
    assert svc.health()["chunks_indexed"] > 0
    _, df = M.snapshot(spark, path)
    assert df.filter(F.col("file_name") == "case_a.pdf").count() == 0
    r_after = svc.search_similar_cases("query.pdf", QUERY, court_level=2)
    assert r_after["result_count"] == 1  # cache did not serve the stale hit

    svc.restore(pre_delete)
    r_restored = svc.search_similar_cases("query.pdf", QUERY, court_level=2)
    assert r_restored["result_count"] == 2

    raw = SparkVectorService(spark, str(tmp_path / "raw"), manifested=False)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        raw.forget_file("x.pdf")
    with _pytest.raises(ValueError):
        raw.restore(1)


def test_changes_since_audit_feed_and_erasure_semantics(spark, tmp_path):
    """changes_since streams ingests as row-level inserts with commit
    versions; an erasure version inside the window raises BY DESIGN (a
    change feed retaining deleted rows would defeat GDPR erasure), and
    the feed resumes cleanly from the erasure forward."""
    from pdf_parse_vector_db_spark.sources import manifest as M

    path = str(tmp_path / "wh")
    svc = SparkVectorService(spark, path, manifested=True, auto_compact_commits=0)
    svc.ingest_legal_document("case_a.pdf", DOC, court_level=3)
    v1 = M.head_version(spark, path)
    svc.ingest_legal_document("case_b.pdf", DOC + " variant b", court_level=3)
    v2 = M.head_version(spark, path)

    cursor, df = svc.changes_since(0)
    rows = df.collect()
    assert cursor == v2  # resume cursor resolved atomically with the read
    assert {r._change_type for r in rows} == {"insert"}
    assert {r._commit_version for r in rows} == {v1, v2}
    _, df_b = svc.changes_since(v1)
    only_b = df_b.collect()
    assert {r.file_name for r in only_b} == {"case_b.pdf"}
    # empty window: cursor still advances to head, df is None
    at_head, empty = svc.changes_since(cursor)
    assert at_head == v2 and empty is None

    svc.forget_file("case_a.pdf")
    v3 = M.head_version(spark, path)
    import pytest as _pytest

    with _pytest.raises(IOError, match="no change files"):
        svc.changes_since(0)  # erasure is not replayable — by design
    svc.ingest_legal_document("case_c.pdf", DOC + " variant c", court_level=3)
    after_cursor, df_c = svc.changes_since(v3)
    after = df_c.collect()
    assert after_cursor == M.head_version(spark, path)
    assert {r.file_name for r in after} == {"case_c.pdf"}

    raw = SparkVectorService(spark, str(tmp_path / "raw"), manifested=False)
    with _pytest.raises(ValueError):
        raw.changes_since(0)


def test_ann_tier_routing_golden_shape_and_recall(spark, tmp_path):
    """Round-10 routing contract (round-9 verdict missing #2): every
    index tier serves the SAME golden response shape through the shared
    dedup/top-k/stats tail, with per-file results, ascending scores, and
    ≥4/5 file overlap with the exact tier; responses cache per (query,
    version, tier); and a post-ingest search through a tier sees the new
    document (index artifacts key on the warehouse version exactly like
    cached responses)."""
    import hashlib as _h

    svc = SparkVectorService(spark, str(tmp_path / "wh"))
    for i in range(8):
        svc.ingest_legal_document(
            f"case_{i}.pdf",
            DOC + f" distinctive clause {i} " + ("lorem ipsum %d " % i) * (i + 3),
            court_level=3,
        )
    exact = svc.search_similar_cases("query.pdf", QUERY, court_level=2)
    exact_ids = [r["file_id"] for r in exact["results"]]
    assert exact["result_count"] == 5

    with pytest.raises(ValueError, match="index must be"):
        svc.search_similar_cases("query.pdf", QUERY, court_level=2, index="hnsw")

    for tier in ("ivf", "graph", "bq", "sq8"):
        resp = svc.search_similar_cases(
            "query.pdf", QUERY, court_level=2, index=tier
        )
        assert resp["status"] == "success", tier
        assert resp["query"]["target_court_level"] == 3
        assert 1 <= resp["result_count"] <= 5
        ids = [r["file_id"] for r in resp["results"]]
        assert len(ids) == len(set(ids)), tier  # per-file dedup held
        scores = [r["score"] for r in resp["results"]]
        assert scores == sorted(scores), tier
        assert len(set(ids) & set(exact_ids)) >= 4, (tier, ids, exact_ids)
        # tier responses are cached under their own key
        misses = svc.cache_misses
        again = svc.search_similar_cases(
            "query.pdf", QUERY, court_level=2, index=tier
        )
        assert svc.cache_misses == misses and again == resp, tier

    # version invalidation: a new best-match document shows up through a
    # tier search immediately after ingest (no stale index, no stale cache)
    svc.ingest_legal_document("case_best.pdf", QUERY, court_level=3)
    for tier in ("ivf", "graph", "bq", "sq8"):
        resp = svc.search_similar_cases(
            "query.pdf", QUERY, court_level=2, index=tier
        )
        assert resp["results"][0]["file_id"] == _h.sha256(
            b"case_best.pdf"
        ).hexdigest(), tier
        assert resp["results"][0]["score"] <= 0.0001, tier


def test_range_search_band_semantics(spark, tmp_path):
    """Milvus range-search parity on the facade: L2 band
    [range_filter, radius) — the OUTER bound is `radius` per Milvus'
    L2 convention — over best-per-file hits, no top-k cut; results in
    ascending distance; band edges honoured against the exact ranking."""
    svc = SparkVectorService(spark, str(tmp_path / "wh"))
    for i in range(6):
        svc.ingest_legal_document(
            f"case_{i}.pdf",
            DOC + f" distinctive clause {i} " + ("lorem ipsum %d " % i) * (i + 3),
            court_level=3,
        )
    # the full exact ranking (no band) as ground truth
    all_hits = svc.range_search(QUERY, court_level=2, radius=1e9)
    assert len(all_hits) == 6  # one best hit per file, no limit-5 cut
    scores = [h["score"] for h in all_hits]
    assert scores == sorted(scores)
    assert len({h["file_id"] for h in all_hits}) == 6

    # Bands clip on the RAW L2 distance (the metric, as Milvus does);
    # reported scores are rounded to 4 dp, so band edges are placed a
    # half-ulp (5e-5) past the rounded values. The embedder ties the five
    # variant docs at round-4 while the best file sits strictly closer —
    # so these two bands split 1 / 5 and exercise both bound directions.
    lo, hi = scores[0], scores[1]
    assert hi > lo  # the best file is strictly closer than the cohort
    eps = 5e-5
    band = svc.range_search(QUERY, court_level=2, radius=lo + eps)
    assert len(band) == 1 and band[0]["score"] == lo
    assert band[0]["chunk_id"] == all_hits[0]["chunk_id"]
    cohort = svc.range_search(
        QUERY, court_level=2, radius=hi + eps, range_filter=lo + eps
    )
    # all five tied files enter through the inner-inclusive bound; the
    # best file's CLOSEST chunk is excluded, but dedup runs after the
    # band filter, so the file may legitimately re-enter via a farther
    # chunk that lands inside the band (per-file semantics preserved)
    assert {h["file_id"] for h in cohort} >= {h["file_id"] for h in all_hits[1:]}
    assert all(h["score"] == hi for h in cohort)
    best_in_cohort = [
        h for h in cohort if h["file_id"] == all_hits[0]["file_id"]
    ]
    for h in best_in_cohort:
        assert h["chunk_id"] != all_hits[0]["chunk_id"]  # a farther chunk

    with pytest.raises(ValueError, match="radius must exceed"):
        svc.range_search(QUERY, court_level=2, radius=0.1, range_filter=0.5)
    with pytest.raises(ValueError, match="index must be"):
        svc.range_search(QUERY, court_level=2, radius=1.0, index="hnsw")
    # ANN tier routes through the same band filter (pool-bounded)
    ivf_band = svc.range_search(
        QUERY, court_level=2, radius=hi, range_filter=lo, index="ivf"
    )
    assert {h["file_id"] for h in ivf_band} <= {h["file_id"] for h in all_hits}


def test_search_iterator_pages_cover_ranking_once(spark, tmp_path):
    """Milvus search_iterator parity: successive pages of batch_size in
    ascending-distance order; concatenation equals the deduped ranking
    exactly once; exhaustion ends the generator; one Spark job total."""
    svc = SparkVectorService(spark, str(tmp_path / "wh"))
    for i in range(7):
        svc.ingest_legal_document(
            f"case_{i}.pdf",
            DOC + f" distinctive clause {i} " + ("lorem ipsum %d " % i) * (i + 3),
            court_level=3,
        )
    full = svc.range_search(QUERY, court_level=2, radius=1e9)
    pages = list(svc.search_iterator(QUERY, court_level=2, batch_size=3))
    assert [len(p) for p in pages] == [3, 3, 1]  # 7 hits in 3/3/1
    flat = [h for p in pages for h in p]
    assert [h["chunk_id"] for h in flat] == [h["chunk_id"] for h in full]
    scores = [h["score"] for h in flat]
    assert scores == sorted(scores)

    with pytest.raises(ValueError, match="batch_size"):
        svc.search_iterator(QUERY, court_level=2, batch_size=0)
    # a tier-routed iterator serves the same page shape
    it = svc.search_iterator(QUERY, court_level=2, batch_size=4, index="bq")
    first = next(it)
    assert 1 <= len(first) <= 4
    assert [h["score"] for h in first] == sorted(h["score"] for h in first)


def test_hybrid_search_rankers(spark, tmp_path):
    """pymilvus hybrid_search parity: dense + BM25 legs fused by RRF or
    WeightedRanker. A verbatim-text match must win both legs and rank
    first under either ranker; a lexical-only document (shares the
    query's rare terms, different embedding) must enter the fused list
    through its lex_rank; responses validate and cache per ranker."""
    from pdf_parse_vector_db_spark.api import SparkVectorService

    svc = SparkVectorService(spark, str(tmp_path / "wh"))
    svc.ingest_legal_document("case_exact.pdf", QUERY, court_level=3)
    # lexical-only: contains the query's distinctive terms once, inside
    # otherwise-unrelated text (embedding far, BM25 close)
    svc.ingest_legal_document(
        "case_lex.pdf",
        "appellant motion seeking review decision " * 20
        + "unrelated filler sentence. " * 10,
        court_level=3,
    )
    for i in range(4):
        svc.ingest_legal_document(
            f"case_{i}.pdf", DOC + f" clause {i} " + ("lorem %d " % i) * 30, court_level=3
        )

    import hashlib

    exact_id = hashlib.sha256(b"case_exact.pdf").hexdigest()
    lex_id = hashlib.sha256(b"case_lex.pdf").hexdigest()

    with pytest.raises(ValueError, match="ranker must be"):
        svc.hybrid_search("q.pdf", QUERY, court_level=2, ranker="cascade")

    for ranker in ("rrf", "weighted"):
        resp = svc.hybrid_search(
            "q.pdf", QUERY, court_level=2, top_k=6, ranker=ranker
        )
        assert resp["status"] == "success"
        assert resp["query"]["ranker"] == ranker
        ids = [r["file_id"] for r in resp["results"]]
        assert ids[0] == exact_id, (ranker, resp["results"])
        top = resp["results"][0]
        assert top["dense_rank"] == 1 and top["lex_rank"] == 1
        assert lex_id in ids, (ranker, ids)
        lex_hit = next(r for r in resp["results"] if r["file_id"] == lex_id)
        # the term-heavy doc is a top lexical match (the hashing embedder
        # is itself token-based, so a dense-blind lexical hit cannot be
        # constructed in this fixture — both legs see token overlap; the
        # leg-disagreement property is pinned on the fused ordering below)
        assert lex_hit["lex_rank"] is not None and lex_hit["lex_rank"] <= 3, lex_hit
        # each leg contributes a well-formed ranking: the populated ranks
        # are distinct positive positions within the leg depth
        for col in ("dense_rank", "lex_rank"):
            ranks = [r[col] for r in resp["results"] if r[col] is not None]
            assert len(ranks) == len(set(ranks)), (col, resp["results"])
            assert all(1 <= x <= 50 for x in ranks), (col, ranks)
        scores = [r["fused_score"] for r in resp["results"]]
        assert scores == sorted(scores, reverse=True)
        # per-ranker cache separation
        misses = svc.cache_misses
        again = svc.hybrid_search(
            "q.pdf", QUERY, court_level=2, top_k=6, ranker=ranker
        )
        assert svc.cache_misses == misses and again == resp


def test_grouping_search_facade(spark, tmp_path):
    """Milvus grouping-search parity: top-limit FILES by best chunk with
    group_size best chunks each — multi-chunk docs contribute up to
    group_size hits, groups rank by their best hit, hit_ranks are
    per-group contiguous, and the verbatim match is group 1."""
    from pdf_parse_vector_db_spark.api import SparkVectorService

    svc = SparkVectorService(spark, str(tmp_path / "wh"))
    # paragraph-separated docs -> several chunks per file (the chunker
    # folds paragraphs greedily, so single-paragraph text is one chunk)
    svc.ingest_legal_document("case_exact.pdf", (QUERY + "\n\n") * 3, court_level=3)
    for i in range(4):
        svc.ingest_legal_document(
            f"case_{i}.pdf",
            (DOC + f" clause {i}\n\n") * 3,
            court_level=3,
        )

    with pytest.raises(ValueError, match="limit and group_size"):
        svc.grouping_search(QUERY, court_level=2, group_size=0)

    groups = svc.grouping_search(QUERY, court_level=2, limit=3, group_size=2)
    assert len(groups) == 3
    assert [g["grp_rank"] for g in groups] == [1, 2, 3]
    import hashlib

    assert groups[0]["file_id"] == hashlib.sha256(b"case_exact.pdf").hexdigest()
    best = [g["hits"][0]["score"] for g in groups]
    assert best == sorted(best)  # groups ranked by their best hit
    for g in groups:
        assert 1 <= len(g["hits"]) <= 2
        assert [h["hit_rank"] for h in g["hits"]] == list(
            range(1, len(g["hits"]) + 1)
        )
        scores = [h["score"] for h in g["hits"]]
        assert scores == sorted(scores)
    # the repeated-text doc has >= 2 chunks tied at the top: group_size
    # must surface both, not collapse to the best-per-file single hit
    assert len(groups[0]["hits"]) == 2


def test_frame_memo_survives_foreign_compaction_and_vacuum(spark, tmp_path):
    """A memoised snapshot frame never outlives its version: after another
    instance ingests, compacts every live commit into one and vacuums the
    replaced commit dirs, our next search (new text, new head) finds the
    foreign file and reads none of the deleted files."""
    from pdf_parse_vector_db_spark.sources import manifest as M

    path = str(tmp_path / "wh")
    ours = SparkVectorService(spark, path, manifested=True, auto_compact_commits=0)
    theirs = SparkVectorService(spark, path, manifested=True, auto_compact_commits=0)
    for i in range(3):
        ours.ingest_legal_document(f"case_{i}.pdf", DOC + f" variant {i}", court_level=3)
    first = ours.search_similar_cases("query.pdf", QUERY, court_level=2)
    assert first["result_count"] == 3
    assert any(v == M.head_version(spark, path) for v, _ in ours._frames)

    theirs.ingest_legal_document("case_new.pdf", QUERY, court_level=3)
    M.maybe_compact(spark, path, max_live_commits=1, partition_by=("court_level",),
                    stats_cols=("file_id",))
    assert M.vacuum(spark, path, keep_versions=1, min_age_s=0) > 0

    resp = ours.search_similar_cases("query.pdf", QUERY + " again", court_level=2)
    assert resp["result_count"] == 4
    assert resp["results"][0]["file_name"] == "case_new.pdf"
    assert {v for v, _ in ours._frames} == {M.head_version(spark, path)}


def test_snapshot_read_once_per_version(spark, tmp_path, monkeypatch):
    """Uncached searches at one manifest version share one snapshot read;
    an ingest publishes a new version and costs exactly one more."""
    from pdf_parse_vector_db_spark.sources import manifest as M

    path = str(tmp_path / "wh")
    svc = SparkVectorService(spark, path, manifested=True, auto_compact_commits=0)
    for i in range(2):
        svc.ingest_legal_document(f"case_{i}.pdf", DOC + f" variant {i}", court_level=3)
    calls = []
    real = M.snapshot

    def counting(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(M, "snapshot", counting)
    svc._frames.clear()
    misses = svc.cache_misses
    for i in range(4):
        svc.search_similar_cases("query.pdf", QUERY + f" {i}", court_level=2)
    assert svc.cache_misses == misses + 4
    assert len(calls) == 1
    svc.ingest_legal_document("case_2.pdf", DOC + " variant 2", court_level=3)
    for i in range(4):
        r = svc.search_similar_cases("query.pdf", QUERY + f" {i}", court_level=2)
        assert r["result_count"] == 3
    assert len(calls) == 2


def test_commit_between_reads_keeps_old_key(spark, tmp_path, monkeypatch):
    """One head read per request: a foreign commit landing right after a
    search read the head must not put the new version's rows into what is
    stored under the old version's key — neither the cached response nor
    the tier index artifact."""
    from pdf_parse_vector_db_spark.sources import manifest as M

    path = str(tmp_path / "wh")
    ours = SparkVectorService(spark, path, manifested=True, auto_compact_commits=0)
    theirs = SparkVectorService(spark, path, manifested=True, auto_compact_commits=0)
    for i in range(3):
        ours.ingest_legal_document(f"case_{i}.pdf", DOC + f" variant {i}", court_level=3)
    real = M.head_version
    pending = ["case_x.pdf", "case_y.pdf"]

    def racing_head(spark_, table):
        v = real(spark_, table)
        if pending:
            # a foreign commit lands between the search's head read and
            # everything it reads after it
            name = pending.pop(0)
            monkeypatch.setattr(M, "head_version", real)
            theirs.ingest_legal_document(name, QUERY, court_level=3)
            monkeypatch.setattr(M, "head_version", racing_head)
        return v

    v0 = real(spark, path)
    monkeypatch.setattr(M, "head_version", racing_head)
    # exact reads v0 while case_x lands; bq reads v0 + 1 while case_y lands
    originals = {f"case_{i}.pdf" for i in range(3)}
    for tier, want in (("exact", originals), ("bq", originals | {"case_x.pdf"})):
        resp = ours.search_similar_cases("query.pdf", QUERY, court_level=2, index=tier)
        assert {h["file_name"] for h in resp["results"]} == want, tier
    stored = [out for key, out in ours._cache.items() if key[4] == v0]
    assert len(stored) == 1 and stored[0]["result_count"] == 3
    idx = spark.read.parquet(ours._index_cache[("bq", v0 + 1, 3)])
    assert "case_y.pdf" not in {r.file_name for r in idx.select("file_name").collect()}
    monkeypatch.setattr(M, "head_version", real)
    resp = ours.search_similar_cases("query.pdf", QUERY, court_level=2)
    assert resp["result_count"] == 5


def test_negative_top_k_is_a_validation_error(svc):
    """A negative top_k is a 400-class ValueError on every entry point that
    takes one, raised before any Spark work; top_k=0 stays the empty
    success response."""
    svc.ingest_legal_document("case_n.pdf", DOC, court_level=3)
    with pytest.raises(ValueError, match="top_k"):
        svc.search_similar_cases("query.pdf", QUERY, court_level=2, top_k=-1)
    with pytest.raises(ValueError, match="top_k"):
        svc.hybrid_search("query.pdf", QUERY, court_level=2, top_k=-1)
    resp = svc.search_similar_cases("query.pdf", QUERY, court_level=2, top_k=0)
    assert resp["status"] == "success"
    assert resp["result_count"] == 0 and resp["results"] == []
    assert resp["appellant_statistics"] == {
        "invalid_decisions": 0,
        "total_valid_decisions": 0,
        "win_count": 0,
        "win_percentage": 0.0,
    }


def _jobs_of(spark, fn) -> tuple:
    """fn() run in a Spark job group of its own: (fn's result, the ids of
    the Spark jobs it ran)."""
    import uuid

    sc = spark.sparkContext
    group = f"one-request-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one service request")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, [int(j) for j in sc.statusTracker().getJobIdsForGroup(group)]


def _search_jobs(spark, svc, text: str) -> tuple[dict, list[int]]:
    """An uncached exact search run in a job group of its own: (response,
    the ids of the Spark jobs it ran)."""
    return _jobs_of(
        spark, lambda: svc.search_similar_cases("query.pdf", text, court_level=2)
    )


def test_ingest_job_count_does_not_grow_with_commits(spark, tmp_path):
    """An ingest reads nothing back: with compaction off, the 2nd and the
    12th ingest into one manifested service run the same few Spark jobs,
    however many commits the level already holds."""
    svc = SparkVectorService(
        spark, str(tmp_path / "wh"), manifested=True, auto_compact_commits=0
    )
    jobs = []
    for i in range(12):
        _, ran = _jobs_of(
            spark,
            lambda: svc.ingest_legal_document(
                f"case_{i}.pdf", DOC + f" variant {i}", court_level=3
            ),
        )
        jobs.append(len(ran))
    assert jobs[1] == jobs[11] <= 4, jobs
    svc.close()


def test_uncached_search_below_the_gate_runs_no_spark_job(spark, tmp_path):
    """Under the driver-matrix gate the exact candidate stage runs in NumPy
    over the level's matrix, pulled once per version by the first search:
    a later uncached search runs no Spark job, and answers what the SQL
    statement answers."""
    from pdf_parse_vector_db_spark.sources import manifest as M

    path = str(tmp_path / "wh")
    svc = SparkVectorService(spark, path, manifested=True, auto_compact_commits=0)
    for i in range(3):
        svc.ingest_legal_document(f"case_{i}.pdf", DOC + f" variant {i}", court_level=3)
    v = M.head_version(spark, path)
    assert svc._mats == {}  # an ingest builds no matrix
    svc.search_similar_cases("query.pdf", QUERY, court_level=2)  # pull the matrix
    assert svc._mats[(v, 3)] is not None
    resp, jobs = _search_jobs(spark, svc, QUERY + " again")
    assert resp["result_count"] == 3
    assert jobs == []
    qvec, q = svc._embed(QUERY + " again")
    assert svc._candidates("exact", v, 3, qvec, q) == svc._exact(v, 3, q).collect()
    svc.close()


def test_uncached_search_is_one_single_stage_job(spark, tmp_path, monkeypatch):
    """Above the driver-matrix gate (bound 0 here) the Spark plan of a
    search ends at the candidate stage (scan → L2 → top-fetch_k): an
    uncached exact search runs one job of one stage, and its plan holds
    no window or aggregate — the per-file dedup, top-k and statistics run
    on the driver over the collected candidates. The gate's decision is
    memoised: the level is pulled once, not per request."""
    from pdf_parse_vector_db_spark.operators import driver
    from pdf_parse_vector_db_spark.sources import manifest as M

    monkeypatch.setattr(driver, "DRIVER_PULL_MAX_BYTES", 0)
    path = str(tmp_path / "wh")
    svc = SparkVectorService(spark, path, manifested=True, auto_compact_commits=0)
    for i in range(3):
        svc.ingest_legal_document(f"case_{i}.pdf", DOC + f" variant {i}", court_level=3)
    svc.search_similar_cases("query.pdf", QUERY, court_level=2)  # memoise the frame
    assert svc._mats == {(M.head_version(spark, path), 3): None}
    resp, jobs = _search_jobs(spark, svc, QUERY + " again")
    assert resp["result_count"] == 3
    jsc = spark.sparkContext._jsc.sc()
    (job,) = jobs
    data = jsc.statusStore().job(job)
    assert data.numCompletedStages() == 1 and data.numSkippedStages() == 0
    sql = spark._jsparkSession.sharedState().statusStore()
    execs = sql.executionsList()
    plans = [
        execs.apply(i).physicalPlanDescription()
        for i in range(execs.size())
        if execs.apply(i).jobs().contains(job)
    ]
    assert len(plans) == 1 and "TakeOrderedAndProject" in plans[0]
    for node in ("Window", "Aggregate"):
        assert node not in plans[0], node
    # the level is read from the frame the first search cached: the plan
    # scans it in memory, and parquet appears only in the cached
    # relation's own build plan, printed beneath it
    executed = plans[0].split("InMemoryRelation")[0]
    assert "InMemoryTableScan" in executed
    assert "Scan parquet" not in executed, executed
    svc.close()


def test_wrong_length_embedding_keeps_the_level_on_sql(spark, tmp_path, monkeypatch):
    """A level holding an embedding that is not `dim` elements (here a
    foreign commit_append of a short one) stays on the SQL statement:
    Spark gives that row a NULL dist and orders it first, which the
    driver matrix cannot. The response is the SQL path's, byte for
    byte."""
    import json

    from pyspark.sql import functions as F

    from pdf_parse_vector_db_spark.operators import driver
    from pdf_parse_vector_db_spark.sources import manifest as M

    path = str(tmp_path / "wh")
    svc = SparkVectorService(spark, path, manifested=True, auto_compact_commits=0)
    for i in range(3):
        svc.ingest_legal_document(f"case_{i}.pdf", DOC + f" variant {i}", court_level=3)
    short = (
        svc._chunks()
        .filter(F.col("file_name") == "case_0.pdf")
        .limit(1)
        .withColumn("chunk_id", F.col("chunk_id") + 999)
        .withColumn("embedding", F.slice("embedding", 1, svc.dim - 1))
        .withColumn("file_name", F.lit("foreign.pdf"))
        .withColumn("file_id", F.sha2(F.lit("foreign.pdf"), 256))
    )
    M.commit_append(spark, path, short, partition_by=("court_level",),
                    stats_cols=("file_id",))
    v = M.head_version(spark, path)
    got = svc.search_similar_cases("query.pdf", QUERY, court_level=2)
    assert svc._mats == {(v, 3): None}
    assert got["result_count"] == 4
    assert "score" not in got["results"][0]  # the NULL dist sorts first
    monkeypatch.setattr(driver, "DRIVER_PULL_MAX_BYTES", 0)
    with SparkVectorService(spark, path, manifested=True) as sql_side:
        want = sql_side.search_similar_cases("query.pdf", QUERY, court_level=2)
    assert json.dumps(got) == json.dumps(want)
    svc.close()


def test_level_frame_cache_lifecycle(spark, tmp_path):
    """The memoised level frame is persisted while memoised, and the next
    version's frame evicts it: unpersisted, its view dropped. Over
    ingest → search cycles the cache holds at most one frame per level
    searched. A statement analysed over a frame that is evicted before it
    runs still returns what a fresh service answers at that version. The
    driver matrix lives and goes with its frame, and close() releases
    every frame, view and matrix the service holds."""
    import json

    from pyspark import StorageLevel

    from pdf_parse_vector_db_spark.operators import knn
    from pdf_parse_vector_db_spark.sources import manifest as M

    def views() -> set:
        return {t.name for t in spark.catalog.listTables() if t.name.startswith("svc_")}

    persisted = spark.sparkContext._jsc.getPersistentRDDs
    base, base_views = persisted().size(), views()
    path = str(tmp_path / "wh")
    svc = SparkVectorService(spark, path, manifested=True, auto_compact_commits=0)
    for i in range(2):
        svc.ingest_legal_document(f"case_{i}.pdf", DOC + f" variant {i}", court_level=3)
    svc.search_similar_cases("query.pdf", QUERY, court_level=2)
    v = M.head_version(spark, path)
    frame, view = svc._frames[(v, 3)]
    assert frame.storageLevel != StorageLevel.NONE
    assert spark.catalog.tableExists(view)
    assert set(svc._mats) == {(v, 3)} and svc._mats[(v, 3)] is not None

    held_text = QUERY + " held"
    version, target = svc._request(held_text, 2, "exact")
    held = svc._exact(version, target, svc._embed(held_text)[1])
    with SparkVectorService(spark, path, manifested=True) as fresh:
        want = fresh.search_similar_cases("query.pdf", held_text, court_level=2)
    svc.ingest_legal_document("case_2.pdf", QUERY, court_level=3)
    svc.search_similar_cases("query.pdf", QUERY + " next", court_level=2)
    assert set(svc._frames) == set(svc._mats) == {(v + 1, 3)}
    assert frame.storageLevel == StorageLevel.NONE
    assert not spark.catalog.tableExists(view)
    got = knn.search_response_rows(held.collect(), "query.pdf", 2, 5)
    assert json.dumps(got) == json.dumps(want)

    for i in range(5):
        svc.ingest_legal_document(f"cycle_{i}.pdf", DOC + f" cycle {i}", court_level=3)
        resp = svc.search_similar_cases("query.pdf", QUERY + f" cycle {i}", court_level=2)
        assert resp["result_count"] == min(5, 4 + i)
        assert persisted().size() <= base + 1

    svc.close()
    assert persisted().size() == base
    assert views() == base_views
    assert svc._frames == {} and svc._mats == {}


def test_sql_l2_fold_matches_l2_distance(spark):
    """The candidate statement's SQL fold computes the same doubles, bit
    for bit, as l2_distance on stored float32 vectors, and so the same
    4-dp scores."""
    import numpy as np
    from pyspark.sql import functions as F

    from pdf_parse_vector_db_spark.functions.vector import (
        l2_distance,
        l2_distance_sql,
    )

    rng = np.random.default_rng(20261018)
    vecs = rng.standard_normal((300, 64)).astype(np.float32)
    vecs[::7] *= 1e-3  # small distances stress the rounding of the sum
    qvec = [float(x) for x in rng.standard_normal(64).astype(np.float32)]
    q = "array(" + ", ".join(f"{x!r}D" for x in qvec) + ")"
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "id int, embedding array<float>",
    )
    got = df.selectExpr("id", f"{l2_distance_sql('embedding', q)} AS d").withColumn(
        "s", F.round("d", 4)
    )
    want = (
        df.withColumn("__q", F.expr(q))
        .select("id", l2_distance(F.col("embedding"), F.col("__q")).alias("d"))
        .withColumn("s", F.round("d", 4))
    )
    a = {r.id: (r.d.hex(), r.s) for r in got.collect()}
    b = {r.id: (r.d.hex(), r.s) for r in want.collect()}
    assert len(a) == 300 and a == b


def test_driver_matrix_fold_matches_l2_distance(spark):
    """The driver matrix computes the same doubles, bit for bit, as
    l2_distance on stored float32 vectors, and its candidates are the
    SQL statement's rows: the (dist, chunk_id) top-fetch_k, ties at the
    cut included, with Spark's 4-dp score."""
    import numpy as np
    from pyspark.sql import functions as F

    from pdf_parse_vector_db_spark.api import _candidate_sql, _LevelMatrix
    from pdf_parse_vector_db_spark.functions.vector import l2_distance

    rng = np.random.default_rng(20261019)
    vecs = rng.standard_normal((300, 64)).astype(np.float32)
    vecs[::7] *= 1e-3  # small distances stress the rounding of the sum
    qvec = [float(x) for x in rng.standard_normal(64).astype(np.float32)]
    rank = np.argsort(np.linalg.norm(vecs.astype(np.float64) - qvec, axis=1))
    vecs[rank[110:120]] = vecs[rank[95]]  # equal distances across the cut
    q = "array(" + ", ".join(f"{x!r}D" for x in qvec) + ")"
    ids = rng.permutation(10_000)[:300]
    df = spark.createDataFrame(
        [
            (int(c), f"f{i % 40}", f"f{i % 40}.pdf", None if i % 9 else "won",
             [float(x) for x in v])
            for i, (c, v) in enumerate(zip(ids, vecs))
        ],
        "chunk_id long, file_id string, file_name string, case_decision string, "
        "embedding array<float>",
    )
    mat = _LevelMatrix.pull(df, 64)
    want = (
        df.withColumn("__q", F.expr(q))
        .select("chunk_id", l2_distance(F.col("embedding"), F.col("__q")).alias("d"))
        .collect()
    )
    got = dict(zip(mat.chunk_id.tolist(), mat.dist(qvec).tolist()))
    assert len(got) == 300
    assert {r.chunk_id: r.d.hex() for r in want} == {c: d.hex() for c, d in got.items()}
    df.createOrReplaceTempView("matrix_fold_level")
    try:
        rows = spark.sql(_candidate_sql("matrix_fold_level", q)).collect()
    finally:
        spark.catalog.dropTempView("matrix_fold_level")
    cut = sorted(got.values())[99]
    assert sum(d == cut for d in got.values()) > 1  # ties straddle the cut
    assert [r.asDict() for r in mat.candidates(qvec)] == [r.asDict() for r in rows]


def test_concurrent_searches_pull_the_matrix_once(spark, tmp_path, monkeypatch):
    """Requests racing on a fresh version share one matrix: eight threads
    (more than the cores) searching one level at once pull it exactly
    once, and each answers what the SQL statement answers."""
    import sys
    import threading

    from pdf_parse_vector_db_spark import api
    from pdf_parse_vector_db_spark.sources import manifest as M

    path = str(tmp_path / "wh")
    svc = SparkVectorService(spark, path, manifested=True, auto_compact_commits=0)
    for i in range(3):
        svc.ingest_legal_document(f"case_{i}.pdf", DOC + f" variant {i}", court_level=3)
    v = M.head_version(spark, path)
    pulls = []
    real = api._LevelMatrix.pull

    def counting(df, dim):
        pulls.append(dim)
        return real(df, dim)

    monkeypatch.setattr(api._LevelMatrix, "pull", staticmethod(counting))
    texts = [QUERY + f" thread {i}" for i in range(8)]
    got: dict = {}
    start = threading.Barrier(len(texts))

    def client(text):
        start.wait(30)
        qvec, q = svc._embed(text)
        got[text] = svc._candidates("exact", v, 3, qvec, q)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=client, args=(t,)) for t in texts]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert len(pulls) == 1 and set(got) == set(texts)
    for text in texts:
        assert got[text] == svc._exact(v, 3, svc._embed(text)[1]).collect(), text
    svc.close()


def test_search_from_the_driver_matrix_makes_no_gateway_call(
    spark, tmp_path, monkeypatch, gateway_calls
):
    """Below the driver-matrix gate, once the first search at a version
    has pulled the matrix, an uncached exact search makes no py4j call:
    the manifest head is an os.path.exists probe and the FAIR pool is
    tagged only around code that can submit a job. A response-cache hit
    makes none either. The pull itself runs in the "search" pool, entered
    once."""
    import contextlib

    from pdf_parse_vector_db_spark import api

    path = str(tmp_path / "wh")
    svc = SparkVectorService(spark, path, manifested=True, auto_compact_commits=0)
    for i in range(3):
        svc.ingest_legal_document(f"case_{i}.pdf", DOC + f" variant {i}", court_level=3)
    pools = []
    real = api.scoped_pool

    @contextlib.contextmanager
    def recording(session, pool):
        pools.append(pool)
        with real(session, pool):
            yield

    monkeypatch.setattr(api, "scoped_pool", recording)
    svc.search_similar_cases("query.pdf", QUERY, court_level=2)  # pulls the matrix
    assert pools == ["search"]

    def search():
        return svc.search_similar_cases("query.pdf", QUERY + " again", court_level=2)

    resp, calls = gateway_calls(search)
    assert calls == 0 and resp["result_count"] == 3
    assert (svc.cache_hits, svc.cache_misses) == (0, 2)
    hit, calls = gateway_calls(search)
    assert calls == 0 and hit == resp and svc.cache_hits == 1
    pages, calls = gateway_calls(lambda: list(svc.search_iterator(QUERY, 2)))
    assert calls == 0 and sum(map(len, pages)) == 3
    groups, calls = gateway_calls(svc.grouping_search, QUERY, 2)
    assert calls == 0 and len(groups) == 3
    assert pools == ["search"]
    svc.close()
