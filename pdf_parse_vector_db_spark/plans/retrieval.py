"""Hybrid lexical + vector retrieval (SURVEY §2.10 extension; X3/X4 family).

The reference is a pure vector-search service: every read goes through
Milvus `search` (extract_and_embed.py:60-71, /api/v1/search-similar-cases).
Production retrieval stacks in 2025+ are hybrid — a lexical BM25 leg and a
dense-vector leg fused by Reciprocal Rank Fusion — because each leg covers
the other's blind spot (exact identifiers / rare terms vs paraphrase).
This module adds that missing half Spark-first:

- ``bm25_topk``   — Okapi BM25 (k1=1.2, b=0.75, Lucene's ln(1 + …) idf)
                    top-10 over ``documents`` for a fixed 4-term query.
- ``hybrid_rrf``  — RRF fusion (k=60) of the BM25 ranking with the
                    cosine ranking of the aligned ``embeddings`` row
                    (vec_id ≡ doc_id in the fixtures).

Scale shape (100 TB): the token explode is scan-bound and the query-term
filter is applied BEFORE any exchange, so the only wide stages carry
(doc_id, term) partial counts for the handful of query terms — bytes
proportional to matching docs, never to corpus text. Corpus constants
(N, avgdl) and the per-term df table are broadcast 1-row / k-row joins.
Top-k is orderBy+limit → TakeOrderedAndProject (per-partition heaps + a
k-row driver merge), never a global sort; rank assignment happens on the
already-cut k-row result, so the window is trivially small. The fusion
join is k×k rows. Nothing here collects to the driver.

Float discipline (registry contract): scores are computed in float64 on
both engines and rounded to 6 dp; ordering uses the ROUNDED score with a
doc_id tie-break so both engines cut the same top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine_similarity
from ..sources.registry import load_table
from .registry import QuerySpec

#: Fixed retrieval query: one rare, highly discriminating term ("dup",
#: df≈5% of docs in the fixture vocabulary) plus three common terms —
#: the shape that makes BM25's idf weighting visible in the result.
QUERY_TERMS = ["dup", "vector", "merge", "spark"]

K1 = 1.2
B = 0.75
RRF_K = 60
TOP_K = 10
#: per-leg rank cutoff for fusion — beyond this depth 1/(60+r) contributes
#: <0.9% of a first-place vote and only adds fusion-join width.
LEG_DEPTH = 50
#: fixed dense-leg query: the embedding of vec_id 7 (arbitrary but pinned).
QUERY_VEC_ID = 7


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dl, term-exploded) token stream; dl = non-empty tokens."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""
        ).alias("toks"),
    )
    return toks.select(
        "doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term")
    )


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25) for every document matching ≥1 query term.

    Round-10 optimization (guide §2.3 "shuffle fewer bytes" / §2.4 "remove
    shuffles outright"): the query-term list is FIXED and tiny, so per-doc
    term frequencies come from `size(filter(toks, t -> t = term))` array
    counts inside ONE narrow projection of the tokenized scan — the old
    shape exploded the whole corpus to (doc_id, term) rows (|tokens| ≈
    200× |docs|) and re-derived that explode twice (doclen + hits legs).
    Now nothing corpus-token-sized is ever materialized or shuffled: the
    5000-row (doc_id, dl, tf…) frame feeds doclen stats, tf and df
    directly. tf/dl/df values — hence BM25 scores and the oracle hash —
    are identical by construction."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    def _tf(term: str):
        # one-arg lambda: a second parameter would make the HOF pass the
        # element index instead of the closed-over term
        return F.size(F.filter(toks, lambda t: t == F.lit(term)))

    per_doc = docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[_tf(term).alias(f"tf_{i}") for i, term in enumerate(QUERY_TERMS)],
    )
    doclen = per_doc.filter(F.col("dl") > 0)
    stats = doclen.agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n_docs")
    )
    stack_cells = ", ".join(
        f"'{term}', tf_{i}" for i, term in enumerate(QUERY_TERMS)
    )
    tf = doclen.select(
        "doc_id",
        "dl",
        F.expr(f"stack({len(QUERY_TERMS)}, {stack_cells}) AS (term, tf)"),
    ).filter(F.col("tf") > 0)
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df), on="term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                # ansi: df >= 1, so df + 0.5 > 0
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "contrib",
            F.col("idf")
            * (F.col("tf") * (K1 + 1))
            # ansi: tf >= 1 keeps the whole denominator positive
            / (
                F.col("tf")
                # ansi: avgdl = mean of positive doc lengths > 0
                + K1 * (1 - B + B * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.sum("contrib"), 6).alias("bm25")
    )


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical leg: Okapi BM25 top-10 for the fixed query."""
    return (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(TOP_K)
    )


BM25_TOPK_SQL = f"""
WITH tok AS (
  SELECT doc_id, t.term
  FROM documents, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t(term)
  WHERE t.term <> ''
),
doclen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
stats AS (SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM doclen),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ('dup', 'vector', 'merge', 'spark')
  GROUP BY 1, 2
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         round(sum(
           ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * ({K1} + 1))
           / (tf.tf + {K1} * (1 - {B} + {B} * doclen.dl / stats.avgdl))
         ), 6) AS bm25
  FROM tf
  JOIN doclen USING (doc_id)
  JOIN df USING (term)
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, bm25 FROM scored
ORDER BY bm25 DESC, doc_id
LIMIT {TOP_K}
"""


def hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF fusion of the lexical and dense legs.

    Each leg is cut to its top-``LEG_DEPTH`` by orderBy+limit (distributed
    TakeOrderedAndProject); ranks are then assigned by a window over that
    ≤50-row result — the global-sort window never sees the full corpus.
    The fusion itself is a full-outer join of two ≤50-row sides.
    """
    lex_top = (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(LEG_DEPTH)
    )
    lex = lex_top.withColumn(
        "lex_rank",
        F.row_number().over(
            Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
        ),
    ).select(F.col("doc_id").alias("id"), "lex_rank")

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = F.broadcast(
        emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
            F.col("embedding").alias("q_vec")
        )
    )
    vec_top = (
        emb.crossJoin(qvec)
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select(
            "vec_id",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("q_vec")), 6
            ).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(LEG_DEPTH)
    )
    vec = vec_top.withColumn(
        "vec_rank",
        F.row_number().over(Window.orderBy(F.desc("cos"), F.asc("vec_id"))),
    ).select(F.col("vec_id").alias("id"), "vec_rank")

    fused = (
        lex.join(vec, on="id", how="full_outer")
        .withColumn(
            "rrf",
            F.round(
                # ansi: RRF_K + rank >= RRF_K + 1 > 0 (both terms)
                F.coalesce(1.0 / (RRF_K + F.col("lex_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (RRF_K + F.col("vec_rank")), F.lit(0.0)),  # ansi: > 0
                6,
            ),
        )
        .select(F.col("id").alias("doc_id"), "lex_rank", "vec_rank", "rrf")
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(TOP_K)


HYBRID_RRF_SQL = f"""
WITH tok AS (
  SELECT doc_id, t.term
  FROM documents, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t(term)
  WHERE t.term <> ''
),
doclen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
stats AS (SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM doclen),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ('dup', 'vector', 'merge', 'spark')
  GROUP BY 1, 2
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
bm25 AS (
  SELECT tf.doc_id,
         round(sum(
           ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * ({K1} + 1))
           / (tf.tf + {K1} * (1 - {B} + {B} * doclen.dl / stats.avgdl))
         ), 6) AS bm25
  FROM tf JOIN doclen USING (doc_id) JOIN df USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id
),
lex AS (
  SELECT doc_id AS id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
  FROM bm25 QUALIFY lex_rank <= {LEG_DEPTH}
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS q_vec FROM e WHERE vec_id = {QUERY_VEC_ID}),
cos AS (
  SELECT e.vec_id, round(list_cosine_similarity(e.v, q.q_vec), 6) AS cos
  FROM e CROSS JOIN q WHERE e.vec_id <> {QUERY_VEC_ID}
),
vec AS (
  SELECT vec_id AS id, row_number() OVER (ORDER BY cos DESC, vec_id) AS vec_rank
  FROM cos QUALIFY vec_rank <= {LEG_DEPTH}
),
fused AS (
  SELECT coalesce(lex.id, vec.id) AS doc_id, lex.lex_rank, vec.vec_rank,
         round(coalesce(1.0 / ({RRF_K} + lex.lex_rank), 0.0)
               + coalesce(1.0 / ({RRF_K} + vec.vec_rank), 0.0), 6) AS rrf
  FROM lex FULL OUTER JOIN vec ON lex.id = vec.id
)
SELECT doc_id, lex_rank, vec_rank, rrf FROM fused
ORDER BY rrf DESC, doc_id
LIMIT {TOP_K}
"""


def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3/X4 diversified rerank: Maximal Marginal Relevance over the dense
    leg — every 50th vector is a query; its top-20 same-label cosine
    candidates are greedily re-cut to 5 trading relevance against
    redundancy (λ=0.7). The standard answer to near-duplicate results
    crowding a result page — directly motivated by the reference's
    per-file dedup-then-top-5 step (extract_and_search.py best-per-file),
    which is MMR's λ→1 limit with file identity as the similarity.

    Scale shape: candidate fetch is the label-pruned join + per-query
    top-20 window (same plan family as knn_topk_per_label); the greedy
    stage sees only 20 rows × dim per group. Rows-only (greedy argmax
    isn't SQL-expressible); invariants — λ=1 ≡ plain top-k, first pick =
    argmax rel, diversity vs the plain cut — in tests/test_retrieval.py."""
    from pdf_parse_vector_db_spark.operators.knn import mmr_rerank_groups

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 7).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("qlabel"),
    )
    cand = (
        q.join(emb, on=(F.col("qlabel") == F.col("label")))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "rel", F.round(cosine_similarity(F.col("qvec"), F.col("embedding")), 6)
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("vec_id"))
    top = cand.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 20)
    return mmr_rerank_groups(
        top.select("query_id", "vec_id", "embedding", "rel"), lam=0.7, k=5
    ).orderBy("query_id", "rank")


def _mmr_sql(lam: float = 0.7, k: int = 5, depth: int = 20) -> str:
    """Unrolled-greedy MMR oracle (the bpe_learn_merges device): each of
    the k selection rounds is one CTE pair — penalty update (running max
    similarity to the selected set) + argmax pick with the operator's
    exact discipline (9-dp round before argmax, min-id tie-break, 6-dp
    surfaced score). (1.0 - {lam}) is written as an expression, not a
    collapsed literal, so both engines use the identical double."""
    parts = [
        f"""q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label AS qlabel
  FROM embeddings WHERE vec_id % 50 = 7
), cand0 AS (
  SELECT q.query_id, e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS rel
  FROM q JOIN embeddings e ON e.label = q.qlabel AND e.vec_id <> q.query_id
), cand AS (
  SELECT query_id, vec_id, v, rel FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, vec_id ASC) AS rn
    FROM cand0
  ) WHERE rn <= {depth}
), s1 AS (
  SELECT query_id, vec_id, v, round({lam} * rel, 9) AS sc
  FROM cand
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY round({lam} * rel, 9) DESC, vec_id ASC) = 1
)"""
    ]
    for r in range(2, k + 1):
        prev_pool = "cand c" if r == 2 else f"m{r - 1} c"
        # the operator's running max starts at 0.0 (np.zeros), so negative
        # cosines never reduce the penalty below zero — clamp to match
        ms = (
            f"greatest(0.0, list_cosine_similarity(c.v, s.v))"
            if r == 2
            else f"greatest(c.ms, list_cosine_similarity(c.v, s.v))"
        )
        parts.append(
            f"""m{r} AS (
  SELECT c.query_id, c.vec_id, c.v, c.rel, {ms} AS ms
  FROM {prev_pool} JOIN s{r - 1} s USING (query_id)
  WHERE c.vec_id <> s.vec_id
), s{r} AS (
  SELECT query_id, vec_id, v,
         round({lam} * rel - (1.0 - {lam}) * ms, 9) AS sc
  FROM m{r}
  QUALIFY row_number() OVER (
    PARTITION BY query_id
    ORDER BY round({lam} * rel - (1.0 - {lam}) * ms, 9) DESC, vec_id ASC) = 1
)"""
        )
    selects = "\nUNION ALL\n".join(
        f"SELECT query_id, CAST({r} AS INTEGER) AS rank, vec_id, sc AS score FROM s{r}"
        for r in range(1, k + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + selects + "\nORDER BY query_id, rank"


MMR_RERANK_SQL = _mmr_sql()


TA_DEPTH = 100


def threshold_algorithm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fagin's Threshold Algorithm (Fagin, Lotem & Naor 2001, public) —
    top-k over two ranked score lists WITHOUT scanning either to the
    bottom: take each list's depth-d prefix, random-access the missing
    score for every prefix member, fuse, and certify via the threshold
    T = (d-th lexical score) + (d-th dense score): once the k-th fused
    candidate scores ≥ T, no unseen doc can beat it. The query emits the
    TA top-5 (fused = max-normalized BM25 + cosine) alongside the
    exhaustively-computed top-5 and two audit flags: `certified` (the TA
    stopping rule held at depth d) and `matches_full` (it really did
    equal the full answer — the implication TA guarantees).

    Scale shape: each leg's prefix is a TakeOrderedAndProject; the
    "random access" is a hash join of the ≤2d candidate ids against the
    score relations; only the audit's exhaustive leg touches every score
    (and exists to grade TA, exactly like the sketch-vs-exact queries).
    """
    # LAZY lineage cuts (guide §7.3): the lexical leg is referenced by the
    # max-normalizer, the prefix cut, the random-access join AND the
    # exhaustive audit leg (4 consumers), the dense leg by 3 — uncut, the
    # physical plan re-inlined the whole tokenize+BM25 pipeline per
    # reference (measured 318 Exchange nodes, ~3.1 s mostly planning).
    # Both relations are doc-/corpus-row score tables (id, score) — the
    # size a TA implementation materializes as its sorted lists anyway.
    bm = _bm25_scored(spark, sf_dir).localCheckpoint(eager=False)
    mx = bm.agg(F.max("bm25").alias("mx"))
    lexn = bm.crossJoin(F.broadcast(mx)).select(
        # ansi: BM25+ idf (log1p form) keeps bm25 > 0, so mx >= bm25 > 0
        F.col("doc_id").alias("id"), F.round(F.col("bm25") / F.col("mx"), 6).alias("s_lex")
    ).localCheckpoint(eager=False)
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = F.broadcast(
        emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
            F.col("embedding").alias("q_vec")
        )
    )
    dense = (
        emb.crossJoin(qvec)
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select(
            F.col("vec_id").alias("id"),
            F.round(cosine_similarity(F.col("embedding"), F.col("q_vec")), 6).alias(
                "s_vec"
            ),
        )
        .localCheckpoint(eager=False)  # 3 consumers: prefix, random access, audit
    )
    lex_prefix = lexn.orderBy(F.desc("s_lex"), F.asc("id")).limit(TA_DEPTH)
    vec_prefix = dense.orderBy(F.desc("s_vec"), F.asc("id")).limit(TA_DEPTH)
    # threshold from the d-th entry of each prefix
    t_lex = lex_prefix.agg(F.min("s_lex").alias("t_lex"))
    t_vec = vec_prefix.agg(F.min("s_vec").alias("t_vec"))
    cand = lex_prefix.select("id").unionAll(vec_prefix.select("id")).distinct()
    fused_prefix = (
        cand.join(lexn, "id", "left")
        .join(dense, "id", "left")
        .select(
            "id",
            F.round(
                F.coalesce(F.col("s_lex"), F.lit(0.0))
                + F.coalesce(F.col("s_vec"), F.lit(0.0)),
                6,
            ).alias("fused"),
        )
        .orderBy(F.desc("fused"), F.asc("id"))
        .limit(TOP_K)
    )
    # exhaustive ground truth over the full outer join of both score lists
    full = (
        lexn.join(dense, "id", "full_outer")
        .select(
            "id",
            F.round(
                F.coalesce(F.col("s_lex"), F.lit(0.0))
                + F.coalesce(F.col("s_vec"), F.lit(0.0)),
                6,
            ).alias("fused_full"),
        )
        .orderBy(F.desc("fused_full"), F.asc("id"))
        .limit(TOP_K)
    )
    from pyspark.sql.window import Window as W

    ta = fused_prefix.withColumn(
        "rank", F.row_number().over(W.orderBy(F.desc("fused"), F.asc("id")))
    ).localCheckpoint(eager=False)  # ≤k rows; feeds the kth agg AND the output join
    fu = full.withColumn(
        "rank", F.row_number().over(W.orderBy(F.desc("fused_full"), F.asc("id")))
    )
    kth = ta.agg(F.min("fused").alias("kth"))
    return (
        ta.join(fu.select("rank", F.col("id").alias("full_id"), "fused_full"), "rank")
        .crossJoin(F.broadcast(t_lex))
        .crossJoin(F.broadcast(t_vec))
        .crossJoin(F.broadcast(kth))
        .select(
            "rank",
            F.col("id").alias("doc_id"),
            "fused",
            (F.col("kth") >= F.round(F.col("t_lex") + F.col("t_vec"), 6)).alias(
                "certified"
            ),
            (F.col("id") == F.col("full_id")).alias("matches_full"),
        )
        .orderBy("rank")
    )


def _ta_sql() -> str:
    bm25_cte = HYBRID_RRF_SQL.split("bm25 AS (")[1].split("),\nlex AS")[0]
    return f"""
WITH tok AS (
  SELECT doc_id, t.term
  FROM documents, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t(term)
  WHERE t.term <> ''
),
doclen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
stats AS (SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM doclen),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ('dup', 'vector', 'merge', 'spark')
  GROUP BY 1, 2
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
bm25 AS ({bm25_cte}),
lexn AS (
  SELECT doc_id AS id, round(bm25 / (SELECT max(bm25) FROM bm25), 6) AS s_lex
  FROM bm25
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS q_vec FROM e WHERE vec_id = {QUERY_VEC_ID}),
dense AS (
  SELECT e.vec_id AS id, round(list_cosine_similarity(e.v, q.q_vec), 6) AS s_vec
  FROM e CROSS JOIN q WHERE e.vec_id <> {QUERY_VEC_ID}
),
lex_prefix AS (
  SELECT id, s_lex FROM lexn ORDER BY s_lex DESC, id LIMIT {TA_DEPTH}
),
vec_prefix AS (
  SELECT id, s_vec FROM dense ORDER BY s_vec DESC, id LIMIT {TA_DEPTH}
),
cand AS (SELECT DISTINCT id FROM (SELECT id FROM lex_prefix UNION ALL SELECT id FROM vec_prefix)),
fused_prefix AS (
  SELECT c.id,
         round(coalesce(l.s_lex, 0.0) + coalesce(d.s_vec, 0.0), 6) AS fused
  FROM cand c LEFT JOIN lexn l ON c.id = l.id LEFT JOIN dense d ON c.id = d.id
  ORDER BY fused DESC, c.id LIMIT {TOP_K}
),
fullj AS (
  SELECT coalesce(l.id, d.id) AS id,
         round(coalesce(l.s_lex, 0.0) + coalesce(d.s_vec, 0.0), 6) AS fused_full
  FROM lexn l FULL OUTER JOIN dense d ON l.id = d.id
  ORDER BY fused_full DESC, id LIMIT {TOP_K}
),
ta AS (SELECT id, fused, row_number() OVER (ORDER BY fused DESC, id) AS rank FROM fused_prefix),
fu AS (SELECT id AS full_id, fused_full, row_number() OVER (ORDER BY fused_full DESC, id) AS rank FROM fullj)
SELECT ta.rank, ta.id AS doc_id, ta.fused,
       (SELECT min(fused) FROM ta)
         >= round((SELECT min(s_lex) FROM lex_prefix)
                  + (SELECT min(s_vec) FROM vec_prefix), 6) AS certified,
       ta.id = fu.full_id AS matches_full
FROM ta JOIN fu USING (rank)
ORDER BY ta.rank
"""


THRESHOLD_ALGORITHM_TOPK_SQL = _ta_sql()


#: sparse-vector retrieval geometry: the query is DOCUMENT 7's stored
#: sparse vector (the sparse analog of the dense legs' vec_id-0 query
#: row); weights are ln(1+tf)·ln(N/df) — the classic TF-IDF instance of
#: the learned-sparse (SPLADE) family, whose SERVING shape (stored
#: term->weight maps, dot product via an inverted index) is what this
#: query implements. Milvus 2.4+ SPARSE_INVERTED_INDEX parity.
SPARSE_QUERY_DOC = 7


def sparse_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARSE-VECTOR top-k (round 10): dot product between STORED sparse
    document vectors and a sparse query vector, executed as an
    inverted-index posting join — the Milvus SPARSE_FLOAT_VECTOR /
    SPARSE_INVERTED_INDEX read path (and the serving shape of SPLADE-
    style learned-sparse retrieval).

    Scale shape: the corpus token stream is semi-joined against the
    query's term set (a broadcast ≤|query terms| list) BEFORE any wide
    exchange — only posting rows for query terms shuffle, bytes
    proportional to those postings and never to corpus text (the
    inverted-index property). The dot product accumulates INTEGER
    MICROS (each term contribution rounds to a BIGINT before the sum),
    so the aggregation is order-independent — bit-identical across
    engines and across any shuffle schedule, with no float-summation
    drift. Output: top-10 docs by score with the overlap width."""
    tok = _doc_tokens(spark, sf_dir)
    qterms = F.broadcast(
        tok.filter(F.col("doc_id") == SPARSE_QUERY_DOC).select("term").distinct()
    )
    hits = tok.join(qterms, "term", "left_semi")
    tf = hits.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # n_docs = docs with >=1 token. Counting size(toks) > 0 on the raw scan
    # is value-identical to the old tok.select(doc_id).distinct().count()
    # but skips a full corpus explode + distinct exchange for this one
    # scalar (round-10 optimization, guide §2.4)
    docs_raw = load_table(spark, sf_dir, "documents", spread=True)
    n_docs = docs_raw.filter(
        F.size(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""
            )
        )
        > 0
    ).count()
    w = (
        tf.join(F.broadcast(df), "term")
        .select(
            "doc_id",
            "term",
            (
                F.log(F.lit(1.0) + F.col("tf"))
                # ansi: df >= 1 on every joined row
                * F.log(F.lit(float(n_docs)) / F.col("df"))
            ).alias("w"),
        )
    )
    qw = F.broadcast(
        w.filter(F.col("doc_id") == SPARSE_QUERY_DOC).select(
            "term", F.col("w").alias("qw")
        )
    )
    return (
        w.filter(F.col("doc_id") != SPARSE_QUERY_DOC)
        .join(qw, "term")
        .withColumn(
            "contrib_micro",
            F.round(F.col("w") * F.col("qw") * F.lit(1e6)).cast("bigint"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(F.sum("contrib_micro") / F.lit(1e6), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(TOP_K)
    )


SPARSE_KNN_SQL = f"""
WITH tok AS (
  SELECT doc_id, t.term
  FROM documents, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t(term)
  WHERE t.term <> ''
),
qt AS (SELECT DISTINCT term FROM tok WHERE doc_id = {SPARSE_QUERY_DOC}),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN (SELECT term FROM qt)
  GROUP BY 1, 2
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok),
w AS (
  SELECT tf.doc_id, tf.term,
         ln(1.0 + tf.tf) * ln(CAST(nd.n_docs AS DOUBLE) / df.df) AS w
  FROM tf JOIN df USING (term) CROSS JOIN nd
),
qw AS (SELECT term, w AS qw FROM w WHERE doc_id = {SPARSE_QUERY_DOC})
SELECT w.doc_id,
       CAST(count(*) AS BIGINT) AS n_terms,
       round(CAST(sum(CAST(round(w.w * qw.qw * 1e6) AS BIGINT)) AS BIGINT) / 1e6, 6) AS score
FROM w JOIN qw USING (term)
WHERE w.doc_id <> {SPARSE_QUERY_DOC}
GROUP BY w.doc_id
ORDER BY score DESC, w.doc_id
LIMIT {TOP_K}
"""


#: WeightedRanker weights (pymilvus WeightedRanker(0.7, 0.3) in
#: hybrid_search): dense leg dominates, lexical leg breaks paraphrase
#: blind spots. Scores are min-max normalized WITHIN each leg's
#: retrieved top-LEG_DEPTH before weighting (documented variant; Milvus
#: applies a metric-specific normalizer to the same end: legs must be
#: commensurable before a weighted sum is meaningful).
W_DENSE = 0.7
W_LEX = 0.3


def hybrid_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED-RANKER hybrid fusion (round 10) — the other pymilvus
    hybrid_search ranker beside RRF (`hybrid_rrf`): each leg's
    top-``LEG_DEPTH`` scores are min-max normalized within the leg, then
    fused as W_DENSE·dense + W_LEX·lex (missing leg -> 0 contribution).
    Same plan skeleton as hybrid_rrf: both legs end in
    TakeOrderedAndProject cuts, per-leg min/max are 1-row broadcast
    aggregates over the ≤50-row cut, and the fusion joins two ≤50-row
    sides — nothing after the scans carries corpus-sized data."""
    # min-max over INTEGER MICROS of the (already rounded-6) leg scores:
    # the normalization ratio is then a quotient of exact integers —
    # bit-identical across engines, where a quotient of rounded doubles
    # can straddle a 6-dp rounding boundary (measured: 1-ulp flips).
    lex_top = (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(LEG_DEPTH)
        .withColumn("lmic", F.round(F.col("bm25") * F.lit(1e6)).cast("bigint"))
    )
    lex_mm = lex_top.agg(
        F.min("lmic").alias("lmin"), F.max("lmic").alias("lmax")
    )
    # NO round() on the ratio or anything downstream of it: the quotient
    # of exact integers is bit-identical on both engines, and round()'s
    # tie behavior on a boundary value (0.7 x 0.865875 = 0.6061125,
    # measured) is exactly where the engines disagree. Identical doubles
    # need no rounding to hash-match.
    lex = lex_top.crossJoin(F.broadcast(lex_mm)).select(
        F.col("doc_id").alias("id"),
        F.when(
            F.col("lmax") > F.col("lmin"),
            # ansi: guarded by the when arm
            (F.col("lmic") - F.col("lmin")).cast("double")
            # ansi: lmax > lmin in this when arm
            / (F.col("lmax") - F.col("lmin")).cast("double"),
        )
        .otherwise(F.lit(1.0))
        .alias("lex_norm"),
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = F.broadcast(
        emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
            F.col("embedding").alias("q_vec")
        )
    )
    vec_top = (
        emb.crossJoin(qvec)
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select(
            "vec_id",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("q_vec")), 6
            ).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(LEG_DEPTH)
    )
    vec_top = vec_top.withColumn(
        "vmic", F.round(F.col("cos") * F.lit(1e6)).cast("bigint")
    )
    vec_mm = vec_top.agg(F.min("vmic").alias("vmin"), F.max("vmic").alias("vmax"))
    vec = vec_top.crossJoin(F.broadcast(vec_mm)).select(
        F.col("vec_id").alias("id"),
        F.when(
            F.col("vmax") > F.col("vmin"),
            # ansi: guarded by the when arm
            (F.col("vmic") - F.col("vmin")).cast("double")
            # ansi: vmax > vmin in this when arm
            / (F.col("vmax") - F.col("vmin")).cast("double"),
        )
        .otherwise(F.lit(1.0))
        .alias("vec_norm"),
    )

    fused = (
        lex.join(vec, on="id", how="full_outer")
        .withColumn(
            "fused",
            F.lit(W_DENSE) * F.coalesce(F.col("vec_norm"), F.lit(0.0))
            + F.lit(W_LEX) * F.coalesce(F.col("lex_norm"), F.lit(0.0)),
        )
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce(F.col("lex_norm"), F.lit(0.0)).alias("lex_norm"),
            F.coalesce(F.col("vec_norm"), F.lit(0.0)).alias("vec_norm"),
            "fused",
        )
    )
    return fused.orderBy(F.desc("fused"), F.asc("doc_id")).limit(TOP_K)


HYBRID_WEIGHTED_SQL = f"""
WITH tok AS (
  SELECT doc_id, t.term
  FROM documents, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t(term)
  WHERE t.term <> ''
),
doclen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
stats AS (SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM doclen),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ('dup', 'vector', 'merge', 'spark')
  GROUP BY 1, 2
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
bm25 AS (
  SELECT tf.doc_id,
         round(sum(
           ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * ({K1} + 1))
           / (tf.tf + {K1} * (1 - {B} + {B} * doclen.dl / stats.avgdl))
         ), 6) AS bm25
  FROM tf JOIN doclen USING (doc_id) JOIN df USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id
),
lex_top AS (
  SELECT doc_id, CAST(round(bm25 * 1e6) AS BIGINT) AS lmic
  FROM bm25 ORDER BY bm25 DESC, doc_id LIMIT {LEG_DEPTH}
),
lex_mm AS (SELECT min(lmic) AS lmin, max(lmic) AS lmax FROM lex_top),
lex AS (
  SELECT doc_id AS id,
         CASE WHEN lmax > lmin
              THEN CAST(lmic - lmin AS DOUBLE) / CAST(lmax - lmin AS DOUBLE)
              ELSE CAST(1.0 AS DOUBLE) END AS lex_norm
  FROM lex_top CROSS JOIN lex_mm
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS q_vec FROM e WHERE vec_id = {QUERY_VEC_ID}),
vec_top AS (
  SELECT vec_id, CAST(round(cos * 1e6) AS BIGINT) AS vmic
  FROM (
    SELECT e.vec_id, round(list_cosine_similarity(e.v, q.q_vec), 6) AS cos
    FROM e CROSS JOIN q WHERE e.vec_id <> {QUERY_VEC_ID}
    ORDER BY cos DESC, e.vec_id LIMIT {LEG_DEPTH}
  )
),
vec_mm AS (SELECT min(vmic) AS vmin, max(vmic) AS vmax FROM vec_top),
vec AS (
  SELECT vec_id AS id,
         CASE WHEN vmax > vmin
              THEN CAST(vmic - vmin AS DOUBLE) / CAST(vmax - vmin AS DOUBLE)
              ELSE CAST(1.0 AS DOUBLE) END AS vec_norm
  FROM vec_top CROSS JOIN vec_mm
)
SELECT coalesce(lex.id, vec.id) AS doc_id,
       coalesce(lex.lex_norm, CAST(0.0 AS DOUBLE)) AS lex_norm,
       coalesce(vec.vec_norm, CAST(0.0 AS DOUBLE)) AS vec_norm,
       CAST({W_DENSE} AS DOUBLE) * coalesce(vec.vec_norm, CAST(0.0 AS DOUBLE))
         + CAST({W_LEX} AS DOUBLE) * coalesce(lex.lex_norm, CAST(0.0 AS DOUBLE)) AS fused
FROM lex FULL OUTER JOIN vec ON lex.id = vec.id
ORDER BY fused DESC, doc_id
LIMIT {TOP_K}
"""


#: late-interaction geometry: "documents" are the label groups (each
#: label's ~N/10 vectors play the role of a passage's per-token
#: embeddings), the "query token set" is the first 3 corpus vectors.
MAXSIM_QUERY_IDS = (0, 1, 2)
MAXSIM_TOP_K = 5


def maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATE-INTERACTION (ColBERT-style) MaxSim top-k (round 10): score a
    MULTI-VECTOR entity against a multi-vector query as
    Σ_q max_v cos(q, v) — the scoring rule of Khattab & Zaharia's
    ColBERT (SIGIR 2020) and of multi-vector collections in modern
    vector stores. Entities are the label groups of the embeddings
    fixture; the query is the 3-vector set MAXSIM_QUERY_IDS.

    Scale shape: the query set broadcasts (|Q| rows); the corpus scan
    emits (entity, q_id, cos) and the per-(entity, q) MAX is a
    partially-aggregated groupBy — map-side combine reduces each
    partition to (entities x |Q|) rows before the only exchange, and the
    final Σ over |Q| maxes accumulates INTEGER MICROS of the rounded
    cosines, so the sum is exact and order-independent. Nothing
    materializes the Q x N cross product beyond the scan projection."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = F.broadcast(
        emb.filter(F.col("vec_id").isin(*MAXSIM_QUERY_IDS)).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
    )
    return (
        emb.filter(~F.col("vec_id").isin(*MAXSIM_QUERY_IDS))
        .crossJoin(qs)
        .select(
            "label",
            "q_id",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("q_vec")), 6
            ).alias("cos"),
        )
        .groupBy("label", "q_id")
        .agg(F.max(F.round(F.col("cos") * F.lit(1e6)).cast("bigint")).alias("mmic"))
        .groupBy("label")
        .agg(
            F.round(F.sum("mmic") / F.lit(1e6), 6).alias("maxsim"),
            F.count(F.lit(1)).alias("n_q"),
        )
        .orderBy(F.desc("maxsim"), F.asc("label"))
        .limit(MAXSIM_TOP_K)
    )


MAXSIM_TOPK_SQL = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
qs AS (SELECT vec_id AS q_id, v AS q_vec FROM e WHERE vec_id IN {MAXSIM_QUERY_IDS}),
scored AS (
  SELECT e.label, qs.q_id,
         CAST(round(round(list_cosine_similarity(e.v, qs.q_vec), 6) * 1e6) AS BIGINT) AS cmic
  FROM e CROSS JOIN qs
  WHERE e.vec_id NOT IN {MAXSIM_QUERY_IDS}
),
per AS (SELECT label, q_id, max(cmic) AS mmic FROM scored GROUP BY 1, 2)
SELECT label,
       round(CAST(sum(mmic) AS BIGINT) / 1e6, 6) AS maxsim,
       CAST(count(*) AS BIGINT) AS n_q
FROM per
GROUP BY label
ORDER BY maxsim DESC, label
LIMIT {MAXSIM_TOP_K}
"""


#: Milvus standard-analyzer parity: lowercase → split on non-alphanumeric
#: → drop stopwords (the analyzer stack Milvus 2.5 applies before BM25;
#: `bm25_topk` keeps the raw whitespace tokenization for the unanalyzed
#: tier). The stopword list is FIXED and embedded in both engines' plans.
ANALYZER_STOPWORDS = (
    "a an and are as at be but by for if in into is it no not of on or "
    "such that the their then there these they this to was will with"
).split()


def bm25_analyzed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 under the STANDARD ANALYZER (round 10): the Milvus 2.5
    full-text-search scoring stack — lowercase, non-alphanumeric split,
    stopword removal — in front of the same Okapi BM25 core as
    `bm25_topk`. The analyzer changes real rankings: punctuation-glued
    occurrences ("decision.") now match, and stopword mass leaves both
    tf and the document-length normalization. Same posting-join scale
    shape as the unanalyzed tier (query-term filter before any wide
    exchange; corpus constants broadcast)."""
    # same fixed-term array-count shape as _bm25_scored (round-10
    # optimization): tf via size(filter(...)) in one narrow projection of
    # the analyzed token arrays — no corpus-token explode, identical values
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"[^a-z0-9]+"),
        lambda t: (t != "") & ~t.isin(ANALYZER_STOPWORDS),
    )

    def _tf(term: str):
        return F.size(F.filter(toks, lambda t: t == F.lit(term)))

    per_doc = docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[_tf(term).alias(f"tf_{i}") for i, term in enumerate(QUERY_TERMS)],
    )
    doclen = per_doc.filter(F.col("dl") > 0)
    stats = doclen.agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n_docs")
    )
    stack_cells = ", ".join(
        f"'{term}', tf_{i}" for i, term in enumerate(QUERY_TERMS)
    )
    tf = doclen.select(
        "doc_id",
        "dl",
        F.expr(f"stack({len(QUERY_TERMS)}, {stack_cells}) AS (term, tf)"),
    ).filter(F.col("tf") > 0)
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df), on="term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            F.log(
                F.lit(1.0)
                # ansi: df >= 1 on every joined row
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            )
            * (F.col("tf") * (K1 + 1))
            # ansi: tf >= 1 keeps the denominator positive
            / (F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.col("avgdl"))),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(TOP_K)
    )


_STOPWORDS_SQL = ", ".join(f"'{w}'" for w in ANALYZER_STOPWORDS)

BM25_ANALYZED_TOPK_SQL = f"""
WITH tok AS (
  SELECT doc_id, t.term
  FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> '' AND t.term NOT IN ({_STOPWORDS_SQL})
),
doclen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
stats AS (SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM doclen),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ('dup', 'vector', 'merge', 'spark')
  GROUP BY 1, 2
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         round(sum(
           ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * ({K1} + 1))
           / (tf.tf + {K1} * (1 - {B} + {B} * doclen.dl / stats.avgdl))
         ), 6) AS bm25
  FROM tf
  JOIN doclen USING (doc_id)
  JOIN df USING (term)
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, bm25 FROM scored
ORDER BY bm25 DESC, doc_id
LIMIT {TOP_K}
"""


QUERIES = [
    QuerySpec(
        "bm25_analyzed_topk",
        bm25_analyzed_topk,
        BM25_ANALYZED_TOPK_SQL,
        "BM25 under the Milvus standard analyzer: lowercase + non-alphanumeric split + stopword removal in front of the Okapi core",
    ),
    QuerySpec(
        "maxsim_topk",
        maxsim_topk,
        MAXSIM_TOPK_SQL,
        "late-interaction MaxSim top-k: multi-vector entities scored sum-of-max cosine vs a 3-vector query set (ColBERT scoring rule)",
    ),
    QuerySpec(
        "sparse_knn",
        sparse_knn,
        SPARSE_KNN_SQL,
        "sparse-vector top-k: stored TF-IDF term weights, dot product via inverted-index posting join (Milvus SPARSE_INVERTED_INDEX / SPLADE serving shape)",
    ),
    QuerySpec(
        "hybrid_weighted",
        hybrid_weighted,
        HYBRID_WEIGHTED_SQL,
        "hybrid retrieval: WeightedRanker fusion (0.7 dense + 0.3 lexical, per-leg min-max normalization)",
    ),
    QuerySpec(
        "bm25_topk",
        bm25_topk,
        BM25_TOPK_SQL,
        "hybrid retrieval, lexical leg: Okapi BM25 top-10",
    ),
    QuerySpec(
        "mmr_rerank",
        mmr_rerank,
        MMR_RERANK_SQL,
        "MMR diversified rerank (greedy applyInPandas; unrolled-greedy oracle)",
    ),
    QuerySpec(
        "hybrid_rrf",
        hybrid_rrf,
        HYBRID_RRF_SQL,
        "hybrid retrieval: RRF fusion of BM25 and cosine legs",
    ),
    QuerySpec(
        "threshold_algorithm_topk",
        threshold_algorithm_topk,
        THRESHOLD_ALGORITHM_TOPK_SQL,
        "Fagin TA top-k over two ranked lists with a stopping-rule certificate",
    ),
]
