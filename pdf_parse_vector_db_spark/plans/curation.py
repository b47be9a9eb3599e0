"""Corpus-curation queries (north-star X1/X2/X5 extensions): the selection /
weighting / versioning operators a large-scale LLM training-data pipeline
runs between raw crawl and tokenizer, each with a DuckDB oracle twin.

Published shapes implemented here (public papers only):
  * edit-distance near-dup tier — banded blocking + threshold Levenshtein
    verify (the classic record-linkage blocking pattern).
  * per-domain caps — RefinedWeb-style (Penedo et al. 2023) per-source
    document quotas by quality rank.
  * blocklist filtering — CCNet/RefinedWeb URL-blocklist shape as a
    broadcast anti-join.
  * corpus snapshot diff — dataset-versioning accounting (added / removed /
    changed / unchanged by content fingerprint).
  * DSIR importance weights — hashed-n-gram log-likelihood-ratio scoring
    (Xie et al. 2023, "Data Selection for Language Models via Importance
    Resampling"), bucketed so the model table is tiny and broadcastable.
  * unigram-LM perplexity buckets — CCNet's (Wenzek et al. 2020)
    head/middle/tail split, with a corpus-fit unigram model standing in for
    the external KenLM (deterministic, oracle-checkable).
  * two-stage retrieval rerank — the reference's over-fetch+refine
    (extract_and_search.py:100-129) generalized to a cheap-metric fetch
    (L2 top-100) + expensive-metric rerank (cosine top-5).

Scale discipline (100 TB): raw text never crosses an exchange — every wide
operation is keyed on fixed-width hashes, 2-hex-char buckets, or ids; model
tables (256 hash buckets, unigram vocab) broadcast or co-partition; pair
generation is always block-bounded (Σ block², never corpus²).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pdf_parse_vector_db_spark.functions import text as T
from pdf_parse_vector_db_spark.functions.vector import cosine_similarity, l2_distance
from pdf_parse_vector_db_spark.plans.registry import QuerySpec
from pdf_parse_vector_db_spark.plans.search import QUERY_VEC_ID, TARGET_LABEL, _query_vector
from pdf_parse_vector_db_spark.sources.registry import load_table

# ---------------------------------------------------------------------------
# Edit-distance near-dup tier (X2 tier 6)
# ---------------------------------------------------------------------------

# Deterministic twin injection: one doc in 17 gets a 6-char-truncated copy at
# doc_id + 1000, so the fixture corpus provably contains small-edit pairs
# (the same device plans/ingest.py and textanalysis.py use for branch
# coverage). Exact duplicates in the base corpus surface as dist = 0.
_EDIT_TWIN_MOD = 17
_EDIT_TWIN_OFFSET = 1000
_EDIT_MAX_DIST = 16
_EDIT_PREFIX = 40


def edit_distance_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: near-dup pairs by banded blocking + threshold Levenshtein.

    Blocking key = md5 of the first 40 canonicalized chars: only docs
    sharing a prefix ever pair, so pair cost is Σ block² (the standard
    record-linkage bound), not corpus². Verification uses Spark's
    thresholded levenshtein — O(len·maxDist) banded DP, not O(len²), and
    it early-outs at the threshold; DuckDB's unthresholded twin computes
    the full distance and filters, same answer. Raw text shuffles once,
    keyed by the 16-byte block hash; at 100 TB the block key would extend
    with a length band to keep blocks O(1)."""
    docs = load_table(spark, sf_dir, "documents")
    twins = (
        docs.filter(F.col("doc_id") % _EDIT_TWIN_MOD == 0)
        .select(
            (F.col("doc_id") + _EDIT_TWIN_OFFSET).alias("doc_id"),
            F.substring(F.col("text"), 1, F.greatest(F.length("text") - 6, F.lit(0))).alias(
                "text"
            ),
        )
    )
    corpus = docs.select("doc_id", "text").unionByName(twins)
    canon = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    keyed = corpus.select(
        "doc_id",
        canon.alias("c"),
        F.md5(F.substring(canon, 1, _EDIT_PREFIX)).alias("k"),
    )
    left = keyed.select(F.col("doc_id").alias("id_a"), F.col("c").alias("ca"), "k")
    right = keyed.select(F.col("doc_id").alias("id_b"), F.col("c").alias("cb"), "k")
    dist = F.levenshtein(F.col("ca"), F.col("cb"), _EDIT_MAX_DIST)
    return (
        left.join(right, on="k")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", dist.cast("bigint"))
        .filter(F.col("dist") >= 0)  # thresholded levenshtein: -1 = above cutoff
        .select("id_a", "id_b", "dist")
        .orderBy("id_a", "id_b")
    )


_CANON_SQL = "lower(trim(regexp_replace({col}, '\\s+', ' ', 'g')))"

EDIT_DISTANCE_DUPS_SQL = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_EDIT_TWIN_OFFSET},
         substring(text, 1, greatest(length(text) - 6, 0))
  FROM documents WHERE doc_id % {_EDIT_TWIN_MOD} = 0
),
keyed AS (
  SELECT doc_id,
         {_CANON_SQL.format(col='text')} AS c,
         md5(substring({_CANON_SQL.format(col='text')}, 1, {_EDIT_PREFIX})) AS k
  FROM corpus
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.c, b.c) AS BIGINT) AS dist
FROM keyed a JOIN keyed b ON a.k = b.k AND a.doc_id < b.doc_id
WHERE levenshtein(a.c, b.c) <= {_EDIT_MAX_DIST}
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# Sorted-neighborhood record linkage (Hernández & Stolfo 1995) — the
# SORT-based blocking tier next to the HASH-banded edit_distance_dups
# above: sort the corpus on a canonical key, then compare each record only
# with its w successors inside the sorted order. Distributed form is
# "blocked SNM": partition by a short key prefix, sort WITHIN the block,
# and slide the window with lead() — pair cost is N·w instead of Σ block²,
# and the only exchange is the (prefix, key) sort. Verification reuses the
# thresholded Levenshtein. Same planted-twin device as the edit tier so
# true matches exist; the SQL twin computes the identical window pairs.
# ---------------------------------------------------------------------------

_SNM_WINDOW = 4


def snm_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    twins = docs.filter(F.col("doc_id") % _EDIT_TWIN_MOD == 0).select(
        (F.col("doc_id") + _EDIT_TWIN_OFFSET).alias("doc_id"),
        F.substring(
            F.col("text"), 1, F.greatest(F.length("text") - 6, F.lit(0))
        ).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(twins)
    canon = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    keyed = corpus.select(
        "doc_id", canon.alias("c"), F.substring(canon, 1, 2).alias("blk")
    )
    w = W.partitionBy("blk").orderBy("c", "doc_id")
    with_leads = keyed.select(
        "doc_id",
        "c",
        F.array(
            *[F.lead(F.struct("doc_id", "c"), i).over(w) for i in range(1, _SNM_WINDOW + 1)]
        ).alias("nbrs"),
    )
    pairs = (
        with_leads.select("doc_id", "c", F.explode("nbrs").alias("nb"))
        .filter(F.col("nb").isNotNull())
        .select(
            F.least("doc_id", F.col("nb.doc_id")).alias("id_a"),
            F.greatest("doc_id", F.col("nb.doc_id")).alias("id_b"),
            F.levenshtein(F.col("c"), F.col("nb.c"), _EDIT_MAX_DIST).alias("dist"),
        )
        .filter((F.col("dist") >= 0) & (F.col("dist") <= _EDIT_MAX_DIST))
    )
    return pairs.select(
        "id_a", "id_b", F.col("dist").cast("bigint").alias("dist")
    ).orderBy("id_a", "id_b")


def _snm_lead_cols() -> str:
    return ",\n         ".join(
        f"lead(doc_id, {i}) OVER win AS id{i}, lead(c, {i}) OVER win AS c{i}"
        for i in range(1, _SNM_WINDOW + 1)
    )


def _snm_pair_union() -> str:
    return "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, c, id{i} AS nb_id, c{i} AS nb_c FROM leads WHERE id{i} IS NOT NULL"
        for i in range(1, _SNM_WINDOW + 1)
    )


SNM_CANDIDATE_PAIRS_SQL = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_EDIT_TWIN_OFFSET},
         substring(text, 1, greatest(length(text) - 6, 0))
  FROM documents WHERE doc_id % {_EDIT_TWIN_MOD} = 0
),
keyed AS (
  SELECT doc_id,
         {_CANON_SQL.format(col='text')} AS c,
         substring({_CANON_SQL.format(col='text')}, 1, 2) AS blk
  FROM corpus
),
leads AS (
  SELECT doc_id, c,
         {_snm_lead_cols()}
  FROM keyed
  WINDOW win AS (PARTITION BY blk ORDER BY c, doc_id)
),
pairs AS (
  {_snm_pair_union()}
)
SELECT least(doc_id, nb_id) AS id_a,
       greatest(doc_id, nb_id) AS id_b,
       CAST(levenshtein(c, nb_c) AS BIGINT) AS dist
FROM pairs
WHERE levenshtein(c, nb_c) <= {_EDIT_MAX_DIST}
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# Per-domain caps (RefinedWeb shape)
# ---------------------------------------------------------------------------

_DOMAIN_CAP = 15


def domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: per-source document quota — rank docs within each source by a
    quality proxy (longest first, id tiebreak) and cap at 15, reporting
    kept/dropped/token accounting per source. The anti-hoarding step web
    pipelines apply so no single domain dominates the mixture.

    One shuffle, keyed on source (the window and the agg share it). A
    pathologically hot domain is exactly the skew case operators/skew.py's
    salted two-stage window handles; at 100 TB swap the rank for that."""
    docs = load_table(spark, sf_dir, "documents")
    ws = T.token_counts_expr("text")["ws_tokens"]
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    ranked = docs.select("source", "doc_id", "n_chars", ws.alias("ws_tokens")).withColumn(
        "rn", F.row_number().over(w)
    )
    kept = F.col("rn") <= _DOMAIN_CAP
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_total"),
            F.sum(kept.cast("long")).alias("docs_kept"),
            F.sum(F.when(kept, F.col("ws_tokens")).otherwise(F.lit(0))).alias("tokens_kept"),
        )
        .orderBy("source")
    )


_WS_SQL = T.token_counts_sql("text")["ws_tokens"]

DOMAIN_CAPS_SQL = f"""
WITH ranked AS (
  SELECT source, doc_id, {_WS_SQL} AS ws_tokens,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents
)
SELECT source,
       count(*) AS docs_total,
       CAST(sum(CASE WHEN rn <= {_DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
       CAST(sum(CASE WHEN rn <= {_DOMAIN_CAP} THEN ws_tokens ELSE 0 END) AS BIGINT)
         AS tokens_kept
FROM ranked
GROUP BY source
ORDER BY source
"""


def token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: per-source TOKEN-budget trim (the knob data mixes actually tune —
    domain_caps caps document COUNT; training mixtures are specified in
    tokens). Docs rank within their source by a lexical-diversity quality
    proxy (unique-word fraction, integer micro-key so both engines order
    identically; doc_id tiebreak) and are kept greedily until the source's
    kept tokens would exceed 50% of its total — the "keep the best half of
    every domain" recipe. Output is the per-source budget ledger.

    Scale shape: ONE shuffle keyed on source — the rank window, the
    cumulative-token window, and the per-source total share the same
    partitioning, and the final agg re-uses it. All accounting is integer
    (token counts, cum*2 <= total comparison), so the plan is exact at any
    scale; a pathologically hot source is the salted-window case in
    operators/skew.py."""
    docs = load_table(spark, sf_dir, "documents")
    ws = T.token_counts_expr("text")["ws_tokens"]
    base = docs.select(
        "source",
        "doc_id",
        ws.alias("ws_tokens"),
        F.size(F.array_distinct(F.split("text", " "))).cast("long").alias("uniq_words"),
    ).withColumn(
        # ansi: ws_tokens >= 1 (split of any trimmed string is non-empty);
        # uniq_words*1e6 <= 1e6 * doc length, far under int64
        "qkey",
        F.expr("div(uniq_words * 1000000, ws_tokens)"),
    )
    worder = Window.partitionBy("source").orderBy(F.desc("qkey"), F.asc("doc_id"))
    ranked = base.withColumn(
        "cum",
        F.sum("ws_tokens").over(worder.rowsBetween(Window.unboundedPreceding, 0)),
    ).withColumn("total", F.sum("ws_tokens").over(Window.partitionBy("source")))
    # ansi: cum <= total <= corpus tokens, *2 bounded far under int64
    kept = F.col("cum") * 2 <= F.col("total")
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs_total"),
            F.sum(kept.cast("long")).cast("long").alias("docs_kept"),
            F.max("total").cast("long").alias("tokens_total"),
            F.sum(F.when(kept, F.col("ws_tokens")).otherwise(F.lit(0)))
            .cast("long")
            .alias("tokens_kept"),
            F.round(
                # ansi: tokens_total >= docs >= 1; single int/int division
                F.try_divide(
                    F.sum(F.when(kept, F.col("ws_tokens")).otherwise(F.lit(0))),
                    F.max("total"),
                ),
                6,
            ).alias("kept_token_frac"),
        )
        .orderBy("source")
    )


TOKEN_BUDGET_PLAN_SQL = f"""
WITH base AS (
  SELECT source, doc_id, {_WS_SQL} AS ws_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS uniq_words
  FROM documents
),
keyed AS (
  SELECT *, (uniq_words * 1000000) // ws_tokens AS qkey FROM base
),
ranked AS (
  SELECT source, doc_id, ws_tokens,
         sum(ws_tokens) OVER (PARTITION BY source ORDER BY qkey DESC, doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(ws_tokens) OVER (PARTITION BY source) AS total
  FROM keyed
)
SELECT source,
       CAST(count(*) AS BIGINT) AS docs_total,
       CAST(sum(CASE WHEN cum * 2 <= total THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
       CAST(max(total) AS BIGINT) AS tokens_total,
       CAST(sum(CASE WHEN cum * 2 <= total THEN ws_tokens ELSE 0 END) AS BIGINT)
         AS tokens_kept,
       round(CAST(sum(CASE WHEN cum * 2 <= total THEN ws_tokens ELSE 0 END) AS DOUBLE)
             / max(total), 6) AS kept_token_frac
FROM ranked
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Blocklist filtering (CCNet / RefinedWeb URL-blocklist shape)
# ---------------------------------------------------------------------------

_BLOCKED_SOURCES = ["src3", "src7", "src11", "src15", "src19"]


def blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: drop documents from blocklisted sources via a broadcast anti-join
    (the URL/domain-blocklist gate web-corpus pipelines run first). The
    blocklist is a real dimension table, not an IN-list literal, because at
    scale it is millions of domains maintained externally — still tiny next
    to the corpus, so it broadcasts and the corpus never shuffles; output
    is the surviving per-lang accounting."""
    docs = load_table(spark, sf_dir, "documents")
    blocklist = spark.createDataFrame([(s,) for s in _BLOCKED_SOURCES], "source string")
    survivors = docs.join(F.broadcast(blocklist), on="source", how="left_anti")
    return (
        survivors.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_chars").alias("chars"),
        )
        .orderBy("lang")
    )


_BLOCKED_IN = ", ".join(f"'{s}'" for s in _BLOCKED_SOURCES)

BLOCKLIST_FILTER_SQL = f"""
SELECT lang,
       count(*) AS docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(sum(n_chars) AS BIGINT) AS chars
FROM documents
WHERE source NOT IN ({_BLOCKED_IN})
GROUP BY lang
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Corpus snapshot diff (dataset versioning)
# ---------------------------------------------------------------------------


def corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 extension: diff two corpus versions by content fingerprint —
    the accounting behind dataset versioning / incremental re-training.
    Version A drops doc_id % 10 == 9; version B drops % 10 == 0 and
    appends ' rev2' to every % 4 == 0 doc (deterministic version device).

    Scale shape: each side reduces to (id, 16-byte md5) map-side; the full
    outer join shuffles only those fixed-width rows, never text, and the
    status agg is a 4-group rollup."""
    docs = load_table(spark, sf_dir, "documents")
    fp_a = T.fingerprint_expr("text")["fingerprint"]
    va = docs.filter(F.col("doc_id") % 10 != 9).select("doc_id", fp_a.alias("fp_a"))
    vb = (
        docs.filter(F.col("doc_id") % 10 != 0)
        .withColumn(
            "text2",
            F.when(F.col("doc_id") % 4 == 0, F.concat(F.col("text"), F.lit(" rev2"))).otherwise(
                F.col("text")
            ),
        )
        .select("doc_id", T.fingerprint_expr("text2")["fingerprint"].alias("fp_b"))
    )
    j = va.join(vb, on="doc_id", how="full_outer")
    status = (
        F.when(F.col("fp_a").isNull(), F.lit("added"))
        .when(F.col("fp_b").isNull(), F.lit("removed"))
        .when(F.col("fp_a") == F.col("fp_b"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        j.select("doc_id", status.alias("status"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("status")
    )


_FP_A_SQL = T.fingerprint_sql("text")["fingerprint"]
_FP_B_SQL = T.fingerprint_sql(
    "(CASE WHEN doc_id % 4 = 0 THEN text || ' rev2' ELSE text END)"
)["fingerprint"]

CORPUS_DIFF_SQL = f"""
WITH va AS (
  SELECT doc_id, {_FP_A_SQL} AS fp_a FROM documents WHERE doc_id % 10 <> 9
),
vb AS (
  SELECT doc_id, {_FP_B_SQL} AS fp_b FROM documents WHERE doc_id % 10 <> 0
),
j AS (
  SELECT coalesce(va.doc_id, vb.doc_id) AS doc_id, fp_a, fp_b
  FROM va FULL OUTER JOIN vb ON va.doc_id = vb.doc_id
)
SELECT CASE WHEN fp_a IS NULL THEN 'added'
            WHEN fp_b IS NULL THEN 'removed'
            WHEN fp_a = fp_b THEN 'unchanged'
            ELSE 'changed' END AS status,
       count(*) AS n_docs,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id
FROM j
GROUP BY 1
ORDER BY status
"""


# ---------------------------------------------------------------------------
# DSIR importance weights (hashed-n-gram log-likelihood ratio)
# ---------------------------------------------------------------------------

_DSIR_TARGET_SOURCES = ["src0", "src1"]
_DSIR_BUCKETS = 256  # 2 hex chars of md5 — engine-portable hashed features


def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: DSIR importance weighting (Xie et al. 2023) — score every doc by
    the log-likelihood ratio of a target distribution (docs from the
    'wiki-like' sources src0/src1) vs the raw distribution over hashed
    unigram features, add-1 smoothed. Docs scoring > 0 look more like the
    target than the crawl; importance resampling keeps those.

    Engine-portable hashing: feature bucket = first 2 hex chars of
    md5(token) → 256 buckets, so the whole model is a 256-row table.
    Integer-exact scoring: per-bucket weights are floor(log-ratio · 1e6)
    BIGINTs, so per-doc sums are order-independent and hash-identical
    across engines (float summation order never matters).

    Scale shape: token explode is map-side; both side-counts partial-agg
    onto 2-byte keys; the 256-row weight table broadcasts back onto the
    token stream; the only non-trivial exchange is the final per-doc agg
    on (doc_id, 8-byte weight). The corpus text never shuffles."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    tok = docs.select(
        "doc_id",
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"),
    ).withColumn("bucket", F.substring(F.md5(F.col("term")), 1, 2))
    is_target = F.col("source").isin(_DSIR_TARGET_SOURCES)
    tcnt = tok.filter(is_target).groupBy("bucket").agg(F.count(F.lit(1)).alias("ct"))
    rcnt = tok.filter(~is_target).groupBy("bucket").agg(F.count(F.lit(1)).alias("cr"))
    totals = tcnt.agg(F.sum("ct").alias("tt")).crossJoin(rcnt.agg(F.sum("cr").alias("rt")))
    weights = (
        tcnt.join(rcnt, on="bucket", how="full_outer")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.floor(
                (
                    F.log(
                        (F.coalesce(F.col("ct"), F.lit(0)) + 1.0)
                        # ansi: count + positive smoothing constant > 0
                        / (F.col("tt") + float(_DSIR_BUCKETS))
                    )
                    - F.log(
                        (F.coalesce(F.col("cr"), F.lit(0)) + 1.0)
                        # ansi: count + positive smoothing constant > 0
                        / (F.col("rt") + float(_DSIR_BUCKETS))
                    )
                )
                * 1e6
            )
            .cast("bigint")
            .alias("w_micros"),
        )
    )
    return (
        tok.join(F.broadcast(weights), on="bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("w_micros").alias("score_micros"),
        )
        .withColumn("selected", F.col("score_micros") > 0)
        .orderBy("doc_id")
    )


_DSIR_IN = ", ".join(f"'{s}'" for s in _DSIR_TARGET_SOURCES)

DSIR_IMPORTANCE_SQL = f"""
WITH tok AS (
  SELECT doc_id, source,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents
),
b AS (
  SELECT doc_id, source, substring(md5(term), 1, 2) AS bucket FROM tok
),
t AS (SELECT bucket, count(*) AS ct FROM b WHERE source IN ({_DSIR_IN}) GROUP BY 1),
r AS (SELECT bucket, count(*) AS cr FROM b WHERE source NOT IN ({_DSIR_IN}) GROUP BY 1),
tot AS (
  SELECT (SELECT CAST(sum(ct) AS DOUBLE) FROM t) AS tt,
         (SELECT CAST(sum(cr) AS DOUBLE) FROM r) AS rt
),
w AS (
  SELECT coalesce(t.bucket, r.bucket) AS bucket,
         CAST(floor((ln((coalesce(t.ct, 0) + 1.0) / (tot.tt + {_DSIR_BUCKETS}.0))
                   - ln((coalesce(r.cr, 0) + 1.0) / (tot.rt + {_DSIR_BUCKETS}.0)))
                    * 1000000) AS BIGINT) AS w_micros
  FROM t FULL OUTER JOIN r ON t.bucket = r.bucket CROSS JOIN tot
)
SELECT b.doc_id,
       count(*) AS n_terms,
       CAST(sum(w.w_micros) AS BIGINT) AS score_micros,
       CAST(sum(w.w_micros) AS BIGINT) > 0 AS selected
FROM b JOIN w USING (bucket)
GROUP BY b.doc_id
ORDER BY b.doc_id
"""


# ---------------------------------------------------------------------------
# Unigram-LM perplexity buckets (CCNet head/middle/tail)
# ---------------------------------------------------------------------------


def unigram_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: CCNet-style perplexity bucketing (Wenzek et al. 2020) — score
    each doc by mean negative log-likelihood under a unigram LM fit on the
    corpus itself (deterministic stand-in for the external KenLM, which is
    env-gated like every other real model in this repo), then split each
    language into head/middle/tail terciles (ntile(3): 1 = most fluent).

    Integer-exact scoring: per-term NLL is floor(-ln(p)·1e6) BIGINT, so
    per-doc sums are order-independent; the ntile ordering key
    (sum/n double + doc_id tiebreak) is an IEEE division of identical
    integers on both engines — deterministic.

    Scale shape: the vocab model and the token stream exchange on the SAME
    key (term), so the model join is co-partitioned (tfidf_top_terms'
    shape); corpus total attaches as a broadcast scalar; the tercile
    window shuffles one fixed-width row per doc on lang."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"),
    )
    model = tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = model.agg(F.sum("cnt").cast("double").alias("tot"))
    nll = (
        model.crossJoin(F.broadcast(total))
        .select(
            "term",
            # ansi: tot = global sum >= this term's cnt >= 1
            F.floor(-F.log(F.col("cnt") / F.col("tot")) * 1e6).cast("bigint").alias(
                "nll_micros"
            ),
        )
    )
    per_doc = (
        tok.join(nll, on="term")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("nll_micros").alias("nll_sum"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        # ansi: n_toks = group count >= 1
        (F.col("nll_sum").cast("double") / F.col("n_toks")).asc(), F.col("doc_id").asc()
    )
    return (
        per_doc.withColumn("ppl_bucket", F.ntile(3).over(w))
        .select("doc_id", "lang", "n_toks", "nll_sum", "ppl_bucket")
        .orderBy("doc_id")
    )


UNIGRAM_PPL_BUCKETS_SQL = """
WITH tok AS (
  SELECT doc_id, lang,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents
),
model AS (SELECT term, count(*) AS cnt FROM tok GROUP BY 1),
total AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM model),
nll AS (
  SELECT term,
         CAST(floor(-ln(cnt / total.tot) * 1000000) AS BIGINT) AS nll_micros
  FROM model CROSS JOIN total
),
per_doc AS (
  SELECT t.doc_id, t.lang,
         count(*) AS n_toks,
         CAST(sum(n.nll_micros) AS BIGINT) AS nll_sum
  FROM tok t JOIN nll n USING (term)
  GROUP BY t.doc_id, t.lang
)
SELECT doc_id, lang, n_toks, nll_sum,
       ntile(3) OVER (PARTITION BY lang
                      ORDER BY CAST(nll_sum AS DOUBLE) / n_toks, doc_id)
         AS ppl_bucket
FROM per_doc
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Exact heavy hitters without shuffling the token stream (sketch tier)
# ---------------------------------------------------------------------------

_FREQ_PHI = 0.005


def frequent_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 sketch tier: exact terms with corpus frequency ≥ 0.5%, computed
    scale-correctly — per-partition Misra-Gries candidate summaries, then
    a broadcast recount (operators/frequent.py) — so the token stream is
    scanned twice but NEVER shuffled. The oracle is the naive
    groupBy+HAVING: same answer, because MG candidate generation has no
    false negatives and the recount is exact."""
    from pdf_parse_vector_db_spark.operators.frequent import frequent_terms

    docs = load_table(spark, sf_dir, "documents", spread=True)
    tok = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term")
    )
    return frequent_terms(tok, phi=_FREQ_PHI).orderBy("term")


FREQUENT_TERMS_SQL = f"""
WITH tok AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents
),
tot AS (SELECT count(*) AS n FROM tok)
SELECT term, count(*) AS cnt
FROM tok, tot
GROUP BY term, tot.n
HAVING count(*) >= ceil(n * {_FREQ_PHI})
ORDER BY term
"""


# ---------------------------------------------------------------------------
# Per-source data card (datasheet composite)
# ---------------------------------------------------------------------------


def source_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: per-source datasheet row ("Datasheets for Datasets", Gebru et
    al. 2021 — the provenance summary published alongside a corpus): doc
    and token counts, size span, language mix entropy (nats), and the
    dominant language with its share. One scan, one agg keyed on
    (source, lang), then a tiny per-source rollup — entropy over the ≤5
    per-source language counts is driver-free arithmetic on exact BIGINTs,
    so it is order-independent across engines."""
    docs = load_table(spark, sf_dir, "documents")
    ws = T.token_counts_expr("text")["ws_tokens"]
    by_lang = (
        docs.select("source", "lang", ws.alias("ws"), "n_chars")
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("ws").alias("tokens"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )
    w = Window.partitionBy("source")
    wbest = Window.partitionBy("source").orderBy(F.desc("docs"), F.asc("lang"))
    enriched = (
        by_lang.withColumn("total_docs", F.sum("docs").over(w))
        # ansi: total_docs = partition sum >= own docs >= 1
        .withColumn("p", F.col("docs").cast("double") / F.col("total_docs"))
        .withColumn("rn", F.row_number().over(wbest))
    )
    return (
        enriched.groupBy("source")
        .agg(
            F.sum("docs").alias("docs"),
            F.sum("tokens").alias("tokens"),
            F.min("min_chars").alias("min_chars"),
            F.max("max_chars").alias("max_chars"),
            F.round(-F.sum(F.col("p") * F.log("p")), 6).alias("lang_entropy"),
            F.max(F.when(F.col("rn") == 1, F.col("lang"))).alias("top_lang"),
            F.round(F.max(F.when(F.col("rn") == 1, F.col("p"))), 6).alias("top_lang_share"),
        )
        .orderBy("source")
    )


SOURCE_DATACARD_SQL = f"""
WITH by_lang AS (
  SELECT source, lang,
         count(*) AS docs,
         CAST(sum({_WS_SQL}) AS BIGINT) AS tokens,
         min(n_chars) AS min_chars,
         max(n_chars) AS max_chars
  FROM documents
  GROUP BY source, lang
),
enriched AS (
  SELECT *,
         CAST(docs AS DOUBLE) / sum(docs) OVER (PARTITION BY source) AS p,
         row_number() OVER (PARTITION BY source ORDER BY docs DESC, lang) AS rn
  FROM by_lang
)
SELECT source,
       CAST(sum(docs) AS BIGINT) AS docs,
       CAST(sum(tokens) AS BIGINT) AS tokens,
       min(min_chars) AS min_chars,
       max(max_chars) AS max_chars,
       round(-sum(p * ln(p)), 6) AS lang_entropy,
       max(CASE WHEN rn = 1 THEN lang END) AS top_lang,
       round(max(CASE WHEN rn = 1 THEN p END), 6) AS top_lang_share
FROM enriched
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Embedding outlier audit (vector-corpus QA)
# ---------------------------------------------------------------------------


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 vector QA: flag embeddings far from their label centroid — the
    mislabeled/corrupted-vector audit run before ANN index builds and
    contrastive training (SemDeDup-adjacent: same centroid machinery, used
    here for outliers rather than near-dup pruning). Distance to the
    per-label mean, then a per-label z-score; |z| > 2 flags.

    Shape: one posexplode (map-side), centroid agg and the rejoin exchange
    on the SAME (label, pos) key — co-partitioned, no extra shuffle — then
    a per-vector agg and one fixed-width window over label. Centroids are
    rounded 6dp before distances so both engines subtract identical
    values; z rounds 4dp to absorb summation-order noise in the moments."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    ex = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    )
    cent = ex.groupBy("label", "pos").agg(F.round(F.avg("v"), 6).alias("c"))
    d = (
        ex.join(cent, on=["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.round(
                # ansi: double arithmetic (embedding components)
                F.sqrt(F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c")))), 6
            ).alias("dist")
        )
    )
    wl = Window.partitionBy("label")
    # try_divide: an all-identical-distance label has zero stddev — the
    # z-score is undefined there -> NULL on both engines
    z = F.round(
        F.try_divide(
            F.col("dist") - F.avg("dist").over(wl), F.stddev_samp("dist").over(wl)
        ), 4
    )
    return (
        d.withColumn("z", z)
        .withColumn("is_outlier", F.col("z") > 2)
        .select("vec_id", "label", "dist", "z", "is_outlier")
        .orderBy("vec_id")
    )


def quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 preprocessing: quantile-normalize doc length per source — map
    each document's within-source percentile onto the GLOBAL length
    distribution, removing per-source scale/shape differences while
    preserving in-source ordering (the cross-batch normalization standard
    in omics and recommender feature pipelines, public technique).

    Mechanics: within-source position p = (rank−1)/(n_s−1) (row_number
    with a doc_id tie-break, so ties resolve identically on both engines),
    discretized to the percent grid; normalized value = the global exact
    percentile at that grid point (Spark `percentile` ≡ DuckDB
    `quantile_cont`, the parity price_percentiles already pins).

    Scale shape: the within-source rank window partitions by source; the
    global distribution enters as a **101-row percentile table broadcast
    back** — no global per-row rank, no single-partition window over the
    corpus. The exact-percentile aggregate is the one corpus-sized reduce
    (ObjectHashAggregate, the documented exact tier; hist_quantiles is the
    sketch twin at 100 TB).
    """
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents", spread=True)
    qgrid = [i / 100.0 for i in range(101)]
    gq = (
        docs.agg(
            F.expr(
                f"percentile(n_chars, array({', '.join(str(q) for q in qgrid)}))"
            ).alias("vals")
        )
        .select(F.posexplode("vals").alias("q", "gval"))
        .select("q", F.round("gval", 2).alias("gval"))
    )
    ws = W.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(ws).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("source")).alias("ns"),
    ).withColumn(
        "q",
        F.when(F.col("ns") == 1, F.lit(50)).otherwise(
            # ansi: the ns == 1 CASE arm above guards this branch
            F.round((F.col("rn") - 1) * 100.0 / (F.col("ns") - 1)).cast("int")
        ),
    )
    return (
        ranked.join(F.broadcast(gq), "q")
        .select("doc_id", "source", "n_chars", "q", F.col("gval").alias("norm_chars"))
        .orderBy("doc_id")
    )


QUANTILE_NORMALIZE_SQL = """
WITH gq AS (
  SELECT (i.x - 1) AS q,
         round(vals[i.x], 2) AS gval
  FROM (SELECT quantile_cont(n_chars, [{QS}]) AS vals FROM documents),
       range(1, 102) AS i(x)
),
ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS ns
  FROM documents
),
graded AS (
  SELECT doc_id, source, n_chars,
         CASE WHEN ns = 1 THEN 50
              ELSE CAST(round((rn - 1) * 100.0 / (ns - 1)) AS INTEGER) END AS q
  FROM ranked
)
SELECT g.doc_id, g.source, g.n_chars, g.q, gq.gval AS norm_chars
FROM graded g JOIN gq ON g.q = gq.q
ORDER BY g.doc_id
""".replace("{QS}", ", ".join(str(i / 100.0) for i in range(101)))


def fisher_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 vector QA: Fisher discriminant ratio per embedding dimension —
    between-class variance over within-class variance, the classic filter
    feature-selection score (Fisher 1936 LDA criterion, public). High-F
    dimensions carry the label signal; a flat profile means the space
    doesn't separate the classes. Returns the top-10 dimensions.

    Exactness: per-(label, dim) sufficient statistics are exact BIGINTs
    over integer-micros elements (n, Σm, Σm²); each label's within/between
    contribution is computed in float64 from those exact integers and
    re-rounded to integer micros BEFORE the cross-label sum, so no
    engine's summation order can move the 6-dp ratio.

    Scale shape: one posexplode into (label, pos) keys — dim×|labels| group
    domain with map-side partials; everything after the first agg runs on
    640 rows. Same plan at 100 TB: sufficient statistics never grow with
    row count.
    """
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    ex = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    ).select("label", "pos", F.round(F.col("v") * 1e6).cast("bigint").alias("m"))
    lab = ex.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("m").alias("sm"),
        # m^2 widens to decimal(38,0) before the sum: micros-squared
        # (<= 1e12 each) crosses int64 near 1e7 vectors/label
        F.sum(
            (F.col("m").cast("decimal(19,0)") * F.col("m")).cast("decimal(38,0)")
        ).alias("smm"),
    )
    glob = lab.groupBy("pos").agg(
        F.sum("n").alias("gn"), F.sum("sm").alias("gsm")
    )
    n, sm, smm = [F.col(c).cast("double") for c in ("n", "sm", "smm")]
    gn, gsm = [F.col(c).cast("double") for c in ("gn", "gsm")]
    mu_l = sm / (n * 1e6)  # ansi: n = group count >= 1
    mu_g = gsm / (gn * 1e6)  # ansi: gn = summed group counts >= 1
    within_l = (smm - sm * sm / n) / 1e12  # ansi: n >= 1; literal 1e12
    between_l = n * (mu_l - mu_g) * (mu_l - mu_g)
    contrib = lab.join(glob, "pos").select(
        "pos",
        F.round(within_l * 1e6).cast("bigint").alias("w_mic"),
        F.round(between_l * 1e6).cast("bigint").alias("b_mic"),
    )
    return (
        contrib.groupBy("pos")
        .agg(
            F.round(F.sum("b_mic") / 1e6, 6).alias("between_var"),
            F.round(F.sum("w_mic") / 1e6, 6).alias("within_var"),
            # try_divide: a constant dimension has zero within-variance —
            # the Fisher ratio is undefined there -> NULL on both engines
            F.round(
                F.try_divide(F.sum("b_mic") / 1e6, F.sum("w_mic") / 1e6), 6
            ).alias("fisher"),
        )
        .orderBy(F.desc("fisher"), F.asc("pos"))
        .limit(10)
        # surface 1-based dims to match the oracle's DuckDB list indexing
        .select((F.col("pos") + 1).cast("int").alias("dim"), "fisher", "between_var", "within_var")
    )


FISHER_DIMS_SQL = """
WITH raw AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos,
         unnest(embedding) AS v
  FROM embeddings
),
ex AS (
  SELECT label, pos,
         CAST(round(CAST(v AS DOUBLE) * 1e6) AS BIGINT) AS m
  FROM raw
),
lab AS (
  SELECT label, pos, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(m) AS BIGINT) AS sm, CAST(sum(m * m) AS BIGINT) AS smm
  FROM ex GROUP BY 1, 2
),
gstats AS (
  SELECT pos, CAST(sum(n) AS BIGINT) AS gn, CAST(sum(sm) AS BIGINT) AS gsm
  FROM lab GROUP BY pos
),
contrib AS (
  SELECT l.pos,
         CAST(round((CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE) * sm / n) / 1e12 * 1e6)
              AS BIGINT) AS w_mic,
         CAST(round(n * pow(CAST(sm AS DOUBLE) / (n * 1e6)
                            - CAST(gsm AS DOUBLE) / (gn * 1e6), 2) * 1e6)
              AS BIGINT) AS b_mic
  FROM lab l JOIN gstats g ON l.pos = g.pos
)
SELECT CAST(pos AS INTEGER) AS dim,
       round((CAST(sum(b_mic) AS BIGINT) / 1e6)
             / (CAST(sum(w_mic) AS BIGINT) / 1e6), 6) AS fisher,
       round(CAST(sum(b_mic) AS BIGINT) / 1e6, 6) AS between_var,
       round(CAST(sum(w_mic) AS BIGINT) / 1e6, 6) AS within_var
FROM contrib
GROUP BY pos
ORDER BY fisher DESC, dim ASC
LIMIT 10
"""


EMBEDDING_OUTLIERS_SQL = """
WITH ex AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
cent AS (SELECT label, pos, round(avg(v), 6) AS c FROM ex GROUP BY 1, 2),
d AS (
  SELECT e.vec_id, e.label,
         round(sqrt(sum((e.v - c.c) * (e.v - c.c))), 6) AS dist
  FROM ex e JOIN cent c ON e.label = c.label AND e.pos = c.pos
  GROUP BY 1, 2
),
z AS (
  SELECT vec_id, label, dist,
         round((dist - avg(dist) OVER (PARTITION BY label))
               / stddev_samp(dist) OVER (PARTITION BY label), 4) AS z
  FROM d
)
SELECT vec_id, label, dist, z, z > 2 AS is_outlier
FROM z
ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# Margin-based bitext mining (cross-lingual parallel-pair extraction)
# ---------------------------------------------------------------------------

_MINE_SRC_LABEL = 0
_MINE_TGT_LABEL = 1
_MINE_K = 4
_MINE_MARGIN = 1.0
#: IVF-tier probe width. Wider than the point-lookup _IVF_NPROBE=4 because
#: pair MINING needs the nominated target's cell among the probes for every
#: source (a recall-per-source product, not a single top-k); 16 gives
#: measured 1.0 output recall vs the exact tier at the two gate scales on
#: the driver fixture, and >=0.9 on the clustered fixture the IVF
#: assumption actually models (tests/test_new_ops.py).
_MINE_NPROBE = 16


def bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3/X5: margin-based parallel-pair mining (Artetxe & Schwenk 2019,
    "Margin-based Parallel Corpus Mining with Multilingual Sentence
    Embeddings") — the method behind CCMatrix/WikiMatrix bitext corpora.
    Label 0 plays the source language, label 1 the target; each source
    vector nominates its best target by RATIO MARGIN — cosine normalized
    by the mean of both sides' k-NN cosines — which suppresses hubness
    (vectors globally close to everything) that raw cosine mining suffers.

    Shape: the pair matrix is built ONCE; both k-NN means come from
    row_number + conditional window sums over that same matrix (no second
    pair pass). Local slices make it a cross join; the corpus-scale path
    is `bitext_mining_ivf` below — the candidate matrix restricted to
    pinned-IVF cells, margin scoring unchanged, only the candidate
    generator swaps."""
    emb = load_table(spark, sf_dir, "embeddings")
    src = emb.filter(F.col("label") == _MINE_SRC_LABEL).select(
        F.col("vec_id").alias("src_id"), F.col("embedding").alias("vx")
    )
    tgt = emb.filter(F.col("label") == _MINE_TGT_LABEL).select(
        F.col("vec_id").alias("tgt_id"), F.col("embedding").alias("vy")
    )
    pairs = src.crossJoin(tgt).select(
        "src_id",
        "tgt_id",
        F.round(cosine_similarity(F.col("vx"), F.col("vy")), 6).alias("cos"),
    )
    return _margin_best(pairs)


def _margin_best(pairs: DataFrame) -> DataFrame:
    """Shared margin scorer over a (src_id, tgt_id, cos) candidate matrix:
    ratio margin vs the mean of both sides' k-NN cosines, then
    best-nomination-per-source at margin ≥ threshold. The candidate
    GENERATOR is the only thing that differs between the exact tier
    (full cross matrix) and the IVF tier (same-cell pairs)."""
    wx = Window.partitionBy("src_id").orderBy(F.desc("cos"), F.asc("tgt_id"))
    wy = Window.partitionBy("tgt_id").orderBy(F.desc("cos"), F.asc("src_id"))
    ranked = pairs.withColumn("rx", F.row_number().over(wx)).withColumn(
        "ry", F.row_number().over(wy)
    )
    px = Window.partitionBy("src_id")
    py = Window.partitionBy("tgt_id")
    scored = ranked.withColumn(
        "ax", F.sum(F.when(F.col("rx") <= _MINE_K, F.col("cos"))).over(px) / _MINE_K
    ).withColumn(
        "ay", F.sum(F.when(F.col("ry") <= _MINE_K, F.col("cos"))).over(py) / _MINE_K
    ).withColumn(
        "margin",
        # try_divide: zero mean top-k similarity (orthogonal corpus) makes
        # the margin undefined -> NULL on both engines
        F.round(F.try_divide(F.col("cos"), (F.col("ax") + F.col("ay")) / 2), 6),
    )
    wbest = Window.partitionBy("src_id").orderBy(F.desc("margin"), F.asc("tgt_id"))
    return (
        scored.withColumn("rn", F.row_number().over(wbest))
        .filter((F.col("rn") == 1) & (F.col("margin") >= _MINE_MARGIN))
        .select("src_id", "tgt_id", "cos", "margin")
        .orderBy("src_id")
    )


def bitext_mining_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3/X5 SCALE tier of bitext_mining, making the exact tier's
    docstring claim real code: the candidate generator swaps from the full
    src×tgt matrix to pairs co-located in a cell of the PINNED IVF coarse
    quantizer (the _ivf_seeds √N-stride quantizer shared with ivf_knn /
    embedding_near_dups_ivf) — margin scoring is unchanged, computed over
    the candidate matrix exactly as Artetxe & Schwenk compute it over
    ANN-retrieved neighborhoods.

    Shape: targets are ASSIGNED to their nearest cell (broadcast-seeds
    argmin, map-side MIN agg); sources PROBE their _MINE_NPROBE=16 nearest cells
    (the standard IVF search asymmetry — a bounded √N-row window per
    source). The candidate join is keyed on cluster_id, so the pair space
    drops from |src|·|tgt| to nprobe·Σ_cell |src_c|·|tgt_c| ≈ N^1.5 at
    nlist ∝ √N — and the margin windows run over that bounded matrix,
    never corpus². A target sits in exactly one cell and probe cells are
    distinct, so each (src, tgt) candidate appears at most once (no
    distinct pass needed). Oracle-backed on the pinned quantizer (full
    hash parity); recall vs the exact tier is pinned in
    tests/test_new_ops.py."""
    from pdf_parse_vector_db_spark.plans.similarity import (
        _IVF_KEY_BASE,
        _ivf_seeds,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = _ivf_seeds(emb)
    key = lambda vec, cvec, cid: (  # noqa: E731 — (dist-micros, cid) pack
        F.round(l2_distance(vec, cvec) * 1e6).cast("bigint") * _IVF_KEY_BASE + cid
    )
    tgt_assign = (
        emb.filter(F.col("label") == _MINE_TGT_LABEL)
        .crossJoin(seeds)
        .groupBy("vec_id")
        .agg(F.min(key(F.col("embedding"), F.col("cvec"), F.col("cid"))).alias("ak"))
        .select("vec_id", (F.col("ak") % _IVF_KEY_BASE).alias("cluster_id"))
    )
    wprobe = Window.partitionBy("src_id").orderBy("pk")
    src_probe = (
        emb.filter(F.col("label") == _MINE_SRC_LABEL)
        .select(F.col("vec_id").alias("src_id"), F.col("embedding").alias("vx"))
        .crossJoin(seeds)
        .select(
            "src_id", "vx", "cid", key(F.col("vx"), F.col("cvec"), F.col("cid")).alias("pk")
        )
        .withColumn("pr", F.row_number().over(wprobe))
        .filter(F.col("pr") <= _MINE_NPROBE)
        .select("src_id", "vx", F.col("cid").alias("cluster_id"))
    )
    tgt = emb.filter(F.col("label") == _MINE_TGT_LABEL).join(tgt_assign, on="vec_id").select(
        "cluster_id", F.col("vec_id").alias("tgt_id"), F.col("embedding").alias("vy")
    )
    pairs = src_probe.join(tgt, on="cluster_id").select(
        "src_id",
        "tgt_id",
        F.round(cosine_similarity(F.col("vx"), F.col("vy")), 6).alias("cos"),
    )
    return _margin_best(pairs)


BITEXT_MINING_SQL = f"""
WITH src AS (
  SELECT vec_id AS src_id, CAST(embedding AS DOUBLE[]) AS vx
  FROM embeddings WHERE label = {_MINE_SRC_LABEL}
),
tgt AS (
  SELECT vec_id AS tgt_id, CAST(embedding AS DOUBLE[]) AS vy
  FROM embeddings WHERE label = {_MINE_TGT_LABEL}
),
pairs AS (
  SELECT src_id, tgt_id,
         round(list_cosine_similarity(vx, vy), 6) AS cos
  FROM src CROSS JOIN tgt
),
ranked AS (
  SELECT src_id, tgt_id, cos,
         row_number() OVER (PARTITION BY src_id ORDER BY cos DESC, tgt_id) AS rx,
         row_number() OVER (PARTITION BY tgt_id ORDER BY cos DESC, src_id) AS ry
  FROM pairs
),
scored AS (
  SELECT src_id, tgt_id, cos,
         round(cos / ((sum(CASE WHEN rx <= {_MINE_K} THEN cos END)
                         OVER (PARTITION BY src_id) / {_MINE_K}
                     + sum(CASE WHEN ry <= {_MINE_K} THEN cos END)
                         OVER (PARTITION BY tgt_id) / {_MINE_K}) / 2), 6) AS margin
  FROM ranked
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY src_id
                               ORDER BY margin DESC, tgt_id) AS rn
  FROM scored
)
SELECT src_id, tgt_id, cos, margin
FROM best
WHERE rn = 1 AND margin >= {_MINE_MARGIN}
ORDER BY src_id
"""


def _bitext_mining_ivf_sql() -> str:
    """DuckDB twin: identical margin scoring over IVF-cell-restricted
    candidates (same pinned-quantizer CTEs as embedding_near_dups_ivf)."""
    from pdf_parse_vector_db_spark.plans.similarity import (
        _IVF_KEY_BASE,
        _IVF_SEED_MOD_SQL,
        _IVF_SEED_OFF,
    )

    return f"""
WITH seeds AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings WHERE vec_id % {_IVF_SEED_MOD_SQL} = {_IVF_SEED_OFF}
), tgt_assign AS (
  SELECT e.vec_id,
         min(CAST(round(list_distance(CAST(e.embedding AS DOUBLE[]), s.cvec) * 1e6)
                  AS BIGINT) * {_IVF_KEY_BASE} + s.cid) % {_IVF_KEY_BASE} AS cluster_id
  FROM embeddings e CROSS JOIN seeds s
  WHERE e.label = {_MINE_TGT_LABEL}
  GROUP BY e.vec_id
), src_probe AS (
  SELECT src_id, vx, cluster_id FROM (
    SELECT e.vec_id AS src_id, CAST(e.embedding AS DOUBLE[]) AS vx,
           s.cid AS cluster_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY CAST(round(list_distance(CAST(e.embedding AS DOUBLE[]), s.cvec)
                                 * 1e6) AS BIGINT) * {_IVF_KEY_BASE} + s.cid
           ) AS pr
    FROM embeddings e CROSS JOIN seeds s
    WHERE e.label = {_MINE_SRC_LABEL}
  ) WHERE pr <= {_MINE_NPROBE}
), tgt AS (
  SELECT a.cluster_id, e.vec_id AS tgt_id, CAST(e.embedding AS DOUBLE[]) AS vy
  FROM embeddings e JOIN tgt_assign a ON e.vec_id = a.vec_id
  WHERE e.label = {_MINE_TGT_LABEL}
), pairs AS (
  SELECT s.src_id, t.tgt_id,
         round(list_cosine_similarity(s.vx, t.vy), 6) AS cos
  FROM src_probe s JOIN tgt t ON s.cluster_id = t.cluster_id
),
ranked AS (
  SELECT src_id, tgt_id, cos,
         row_number() OVER (PARTITION BY src_id ORDER BY cos DESC, tgt_id) AS rx,
         row_number() OVER (PARTITION BY tgt_id ORDER BY cos DESC, src_id) AS ry
  FROM pairs
),
scored AS (
  SELECT src_id, tgt_id, cos,
         round(cos / ((sum(CASE WHEN rx <= {_MINE_K} THEN cos END)
                         OVER (PARTITION BY src_id) / {_MINE_K}
                     + sum(CASE WHEN ry <= {_MINE_K} THEN cos END)
                         OVER (PARTITION BY tgt_id) / {_MINE_K}) / 2), 6) AS margin
  FROM ranked
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY src_id
                               ORDER BY margin DESC, tgt_id) AS rn
  FROM scored
)
SELECT src_id, tgt_id, cos, margin
FROM best
WHERE rn = 1 AND margin >= {_MINE_MARGIN}
ORDER BY src_id
"""


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs historical corpus (continuous-ingest shape)
# ---------------------------------------------------------------------------

_INC_MOD = 13
_INC_OFFSET = 5000
_INC_THRESHOLD = 0.5
_INC_HASHES = 32
_INC_BANDS = 8
#: size gate of the candidate-id broadcast (ids × 8 B; the IVF seed
#: broadcast's default bound): past it the history semi-join plans
#: unhinted, so an outsized batch never rides a broadcast
_INC_CANDS_BCAST_MAX_BYTES = 128 * 1024 * 1024


def _new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic incoming batch: every 13th doc arrives again — the
    even ones verbatim (exact re-crawl), the odd ones with word order
    reversed (shares vocabulary but no 3-shingles: a genuinely-new doc
    that still looks lexically similar)."""
    docs = load_table(spark, sf_dir, "documents")
    reversed_text = F.concat_ws(" ", F.reverse(F.split(F.trim(F.col("text")), r"\s+")))
    return docs.filter(F.col("doc_id") % _INC_MOD == 0).select(
        (F.col("doc_id") + _INC_OFFSET).alias("new_id"),
        F.when(F.col("doc_id") % (2 * _INC_MOD) == 0, F.col("text"))
        .otherwise(reversed_text)
        .alias("text"),
    )


def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/X2: dedup an incoming batch AGAINST the historical corpus — the
    continuous-ingest variant of MinHash+LSH where history is never
    re-paired with itself. Every new doc reports its best historical match
    (portable-md5 LSH candidates, exact-Jaccard ≥ 0.5 verify, max-jaccard /
    min-id winner) or null → genuinely new.

    Scale shape: history's band table is the PERSISTED artifact
    (operators/dedup.minhash_portable_banded — bucketed by band key on
    disk); each batch computes only its own signatures and probes via a
    band-key join whose left side is batch-sized. Cost per batch is
    O(batch + collisions), independent of corpus size — the property that
    makes dedup-on-ingest viable at 100 TB."""
    from pdf_parse_vector_db_spark.operators.dedup import (
        jaccard_expr,
        minhash_portable_banded,
    )

    hist = load_table(spark, sf_dir, "documents")
    new = _new_batch(spark, sf_dir)
    nb = minhash_portable_banded(
        new, num_hashes=_INC_HASHES, bands=_INC_BANDS, id_col="new_id"
    ).withColumnRenamed("__id", "new_id")
    hb = minhash_portable_banded(
        hist, num_hashes=_INC_HASHES, bands=_INC_BANDS
    ).withColumnRenamed("__id", "hist_id")
    # LAZY cut on the candidate table (round 11): it feeds BOTH the
    # history semi-join below and the verification join — without the cut
    # the whole two-sided band/signature pipeline would run twice
    cands = (
        nb.join(hb, on=["band_idx", "key"])
        .select("new_id", "hist_id")
        .distinct()
        .localCheckpoint(eager=False)
    )
    nsh = new.select("new_id", T.shingles_expr("text").alias("sh_n"))
    # broadcast the BATCH-BOUNDED candidate ids (the checkpoint leaf has
    # no size stats, so unhinted the planner shuffles the history text
    # into a sort-merge semi-join — guide §3.1) while they fit the gate;
    # the count (an upper bound on the distinct ids) fills the lazy cut
    # that both joins below read anyway
    ids = cands.select(F.col("hist_id").alias("doc_id"))
    if cands.count() * 8 <= _INC_CANDS_BCAST_MAX_BYTES:
        ids = F.broadcast(ids)
    # Verification shingles ONLY for band-colliding history docs (round 11,
    # guide §2.3/§3.2): the old shape built shingle arrays for the ENTIRE
    # history and broadcast them all into the verify join — corpus-sized
    # work and broadcast bytes for a candidate-sized comparison. The
    # semi-join prunes history to the candidate ids BEFORE the shingle
    # projection; at 100 TB this is the difference between probing an
    # index and re-reading the corpus. Same verified pairs (rows outside
    # the candidate set never survived the inner join anyway).
    hsh = (
        hist.join(ids, on="doc_id", how="left_semi")
        .select(F.col("doc_id").alias("hist_id"), T.shingles_expr("text").alias("sh_h"))
    )
    verified = (
        cands.join(nsh, on="new_id")
        .join(hsh, on="hist_id")
        .withColumn("jaccard", F.round(jaccard_expr(F.col("sh_n"), F.col("sh_h")), 6))
        .filter(F.col("jaccard") >= _INC_THRESHOLD)
        .select("new_id", "hist_id", "jaccard")
    )
    w = Window.partitionBy("new_id").orderBy(F.desc("jaccard"), F.asc("hist_id"))
    best = verified.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")
    return (
        new.select("new_id")
        .join(best, on="new_id", how="left")
        .withColumn("is_dup", F.col("jaccard").isNotNull())
        .select("new_id", "hist_id", "jaccard", "is_dup")
        .orderBy("new_id")
    )


def _incremental_sql() -> str:
    from pdf_parse_vector_db_spark.operators.dedup import (
        mh_band_cols_sql,
        mh_lanes_sql,
        mh_min_cols_sql,
    )

    mins = mh_min_cols_sql(_INC_HASHES)
    bandcols = mh_band_cols_sql(_INC_HASHES, _INC_BANDS)
    lanes_n = mh_lanes_sql("nb")
    lanes_h = mh_lanes_sql("hb")

    def stack(src: str) -> str:
        return "\n    UNION ALL\n".join(
            f"    SELECT id, {b} AS band_idx, band{b} AS key FROM {src}"
            for b in range(_INC_BANDS)
        )

    sh = T.shingles_sql("text")
    reversed_text = (
        "array_to_string(list_reverse(string_split_regex(trim(text), '\\s+')), ' ')"
    )
    return f"""
WITH newb AS (
  SELECT doc_id + {_INC_OFFSET} AS id,
         CASE WHEN doc_id % {2 * _INC_MOD} = 0 THEN text
              ELSE {reversed_text} END AS text
  FROM documents WHERE doc_id % {_INC_MOD} = 0
),
hist AS (SELECT doc_id AS id, text FROM documents),
nsh AS (SELECT id, {sh} AS sh FROM newb),
hsh AS (SELECT id, {sh} AS sh FROM hist),
nb AS (SELECT id, md5(unnest(sh)) AS b FROM nsh),
hb AS (SELECT id, md5(unnest(sh)) AS b FROM hsh),
nlanes AS ({lanes_n}),
hlanes AS ({lanes_h}),
nsig AS (SELECT id, {mins} FROM nlanes GROUP BY id),
hsig AS (SELECT id, {mins} FROM hlanes GROUP BY id),
nband AS (SELECT id, {bandcols} FROM nsig),
hband AS (SELECT id, {bandcols} FROM hsig),
nstack AS (
{stack('nband')}
),
hstack AS (
{stack('hband')}
),
cands AS (
  SELECT DISTINCT n.id AS new_id, h.id AS hist_id
  FROM nstack n JOIN hstack h ON n.band_idx = h.band_idx AND n.key = h.key
),
verified AS (
  SELECT c.new_id, c.hist_id,
         round(
           CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
                THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.sh, b.sh)))
                ELSE 0.0 END, 6) AS jaccard
  FROM cands c JOIN nsh a ON c.new_id = a.id JOIN hsh b ON c.hist_id = b.id
),
thresholded AS (SELECT * FROM verified WHERE jaccard >= {_INC_THRESHOLD}),
best AS (
  SELECT *, row_number() OVER (PARTITION BY new_id
                               ORDER BY jaccard DESC, hist_id) AS rn
  FROM thresholded
)
SELECT n.id AS new_id, b.hist_id, b.jaccard, b.jaccard IS NOT NULL AS is_dup
FROM newb n LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON n.id = b.new_id
ORDER BY new_id
"""


INCREMENTAL_DEDUP_SQL = _incremental_sql()


# ---------------------------------------------------------------------------
# BPE pair counts (tokenizer-training prep)
# ---------------------------------------------------------------------------

_BPE_TOP = 20


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: the inner statistic of BPE tokenizer training (Sennrich et al.
    2016) — corpus-wide counts of adjacent symbol pairs within words, at
    the character stage (= the first merge iteration), top-20 by count
    with lexicographic tiebreak. A full trainer repeats this agg per merge;
    each iteration is this same distributed shape.

    Scale: pair extraction is per-word array algebra inside one generator
    expression (token array bound once, no per-position re-split); the
    only exchange is the partial+final count on 2-char keys, and top-20 is
    TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    pairs = (
        "flatten(transform(array(split(lower(trim(text)), '\\\\s+')), ws -> "
        "flatten(transform(ws, w -> "
        "CASE WHEN length(w) >= 2 THEN "
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2)) "
        "ELSE array() END))))"
    )
    return (
        docs.select(F.explode(F.expr(pairs)).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(_BPE_TOP)
    )


BPE_PAIR_COUNTS_SQL = f"""
WITH w AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
  FROM documents
),
p AS (
  SELECT unnest(list_transform(range(1, length(w) - 1 + 1), i -> substring(w, i, 2)))
           AS pair
  FROM w WHERE length(w) >= 2
)
SELECT pair, count(*) AS cnt
FROM p
GROUP BY pair
ORDER BY cnt DESC, pair
LIMIT {_BPE_TOP}
"""


# ---------------------------------------------------------------------------
# BPE merge LEARNING, 3 unrolled rounds (Sennrich et al. 2016 §3.2) — the
# full trainer loop, not just the round-1 statistic (bpe_pair_counts above).
# Each round: (1) count adjacent symbol pairs over the current per-word
# symbol sequences, weighted by word frequency; (2) elect the best pair
# under a TOTAL order (count desc, pair asc — both engines pick the same
# merge even on ties); (3) apply the merge with a boundary-safe string
# replace. Words are kept as '  '-separated symbol strings with a leading/
# trailing space, so every symbol is delimited by its own spaces and
# replace(' a  b ', ' ab ') can never match across symbol or word
# boundaries; greedy left-to-right non-overlapping replace is the same
# semantics in Spark, DuckDB, and the reference BPE implementation.
#
# Unrolling a FIXED number of iterations is this repo's standard way to
# make a data-dependent loop oracle-checkable (see plans/graph.py
# pagerank_bipartite); the elected merge re-enters the plan as a 1-row
# broadcast, never via driver collect. Scale: the vocab relation (distinct
# filtered words + counts) is tiny relative to the corpus — the token
# explode + word-count agg is the only corpus-sized stage; every round
# after that exchanges |vocab| short strings and |pairs| fixed-width keys
# with map-side partials.
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 3

#: adjacent symbol pairs from the double-space representation in `s`,
#: symbols array bound ONCE via the array() trick (no per-position re-split)
_SYM_PAIRS = (
    "flatten(transform(array(split(trim(s), '  ')), syms -> "
    "CASE WHEN size(syms) >= 2 THEN "
    "transform(sequence(0, size(syms) - 2), i -> concat(syms[i], ' ', syms[i + 1])) "
    "ELSE array(CAST(NULL AS STRING)) END))"
)

_APPLY_MERGE = (
    "replace(s, concat(' ', split_part(pair, ' ', 1), '  ', split_part(pair, ' ', 2), ' '),"
    " concat(' ', split_part(pair, ' ', 1), split_part(pair, ' ', 2), ' '))"
)


def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    tok = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w")
    )
    words = (
        tok.filter(
            F.col("w").rlike("^[a-z]+$") & F.length("w").between(2, 12)
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cur = words.select(
        "cnt",
        F.expr(
            "concat(' ', array_join(transform(sequence(1, length(w)),"
            " i -> substring(w, i, 1)), '  '), ' ')"
        ).alias("s"),
    )
    outs = []
    # lineage cut per round: cur feeds both the election and the merge,
    # doubling the plan every round without a checkpoint (round 6 fix,
    # shared rationale with bpe_encode_tokens below); values unchanged
    cur = cur.localCheckpoint()
    for r in range(1, _BPE_ROUNDS + 1):
        pairs = (
            cur.select("cnt", F.explode(F.expr(_SYM_PAIRS)).alias("pair"))
            .filter(F.col("pair").isNotNull())
            .groupBy("pair")
            .agg(F.sum("cnt").alias("wcnt"))
        )
        best = pairs.orderBy(F.desc("wcnt"), F.asc("pair")).limit(1)
        outs.append(best.select(F.lit(r).alias("merge_round"), "pair", "wcnt"))
        if r < _BPE_ROUNDS:
            cur = (
                cur.crossJoin(F.broadcast(best.select("pair")))
                .withColumn("s", F.expr(_APPLY_MERGE))
                .drop("pair")
                .localCheckpoint()
            )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("merge_round")


def _bpe_round_sql(i: int) -> str:
    prev = f"s{i - 1}"
    return f"""
p{i} AS (
  SELECT u.pair, CAST(sum(u.cnt) AS BIGINT) AS wcnt
  FROM (SELECT cnt,
               unnest(list_transform(range(1, len(syms)),
                      j -> syms[j] || ' ' || syms[j + 1])) AS pair
        FROM (SELECT cnt, string_split(trim(s), '  ') AS syms FROM {prev})) u
  GROUP BY u.pair),
b{i} AS (SELECT pair, wcnt FROM p{i} ORDER BY wcnt DESC, pair LIMIT 1)"""


def _bpe_apply_sql(i: int) -> str:
    return f"""
s{i} AS (
  SELECT cnt,
         replace(s, ' ' || split_part(b{i}.pair, ' ', 1) || '  '
                     || split_part(b{i}.pair, ' ', 2) || ' ',
                    ' ' || split_part(b{i}.pair, ' ', 1)
                     || split_part(b{i}.pair, ' ', 2) || ' ') AS s
  FROM s{i - 1}, b{i})"""


BPE_LEARN_MERGES_SQL = (
    """
WITH tok AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
  FROM documents),
words AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tok
  WHERE regexp_matches(w, '^[a-z]+$') AND length(w) BETWEEN 2 AND 12
  GROUP BY w),
s0 AS (
  SELECT cnt,
         ' ' || array_to_string(list_transform(range(1, length(w) + 1),
                i -> substring(w, i, 1)), '  ') || ' ' AS s
  FROM words),"""
    + _bpe_round_sql(1)
    + ","
    + _bpe_apply_sql(1)
    + ","
    + _bpe_round_sql(2)
    + ","
    + _bpe_apply_sql(2)
    + ","
    + _bpe_round_sql(3)
    + """
SELECT 1 AS merge_round, pair, wcnt FROM b1
UNION ALL SELECT 2, pair, wcnt FROM b2
UNION ALL SELECT 3, pair, wcnt FROM b3
ORDER BY merge_round
"""
)


# ---------------------------------------------------------------------------
# BPE ENCODING (round 6, X42) — the APPLY side of the tokenizer. Training
# (bpe_learn_merges above) elects merges; a pipeline then needs to
# TOKENIZE the corpus with them — exact subword token counting is what
# sizes a pretraining mix (whitespace counts over-estimate tokens 20-40%).
# Sequentially applying the learned merges in rank order to each word is
# exactly the reference BPE encode (applying rank r can never create a
# lower-rank pair: rank r-1's components all existed before rank r's
# output symbol did — Sennrich et al. 2016), and the trainer's
# double-space symbol representation already makes each replace
# boundary-safe and greedy-left-to-right in both engines.
#
# Scale: merges are learned and applied on the VOCABULARY relation
# (distinct filtered words + counts), never the token stream — the corpus
# is touched once by the word-count agg; each round exchanges |vocab|
# short strings; the elected merge re-enters as a 1-row broadcast. At
# 100 TB the vocab is bounded (words, not documents), so R rounds cost
# R small shuffles after one corpus-sized agg.
# ---------------------------------------------------------------------------

_BPE_ENCODE_ROUNDS = 6
_BPE_ENC_TOP = 20


def bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X42: learn _BPE_ENCODE_ROUNDS merges, ENCODE the vocabulary with
    them, and return the resulting subword vocabulary — top-20 tokens by
    occurrence-weighted count (count desc, token asc: a total order, so
    both engines elect identical merges and produce identical rows)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    tok = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w")
    )
    words = (
        tok.filter(F.col("w").rlike("^[a-z]+$") & F.length("w").between(2, 12))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cur = words.select(
        "cnt",
        F.expr(
            "concat(' ', array_join(transform(sequence(1, length(w)),"
            " i -> substring(w, i, 1)), '  '), ' ')"
        ).alias("s"),
    )
    # lineage cut per round (the components/pagerank pattern): `cur` is
    # referenced twice per round (pair election + merge application), so
    # without a checkpoint the plan doubles every round — 2^R copies of
    # the corpus word-count agg. localCheckpoint materializes each round
    # once; values are unchanged.
    cur = cur.localCheckpoint()
    for _ in range(_BPE_ENCODE_ROUNDS):
        pairs = (
            cur.select("cnt", F.explode(F.expr(_SYM_PAIRS)).alias("pair"))
            .filter(F.col("pair").isNotNull())
            .groupBy("pair")
            .agg(F.sum("cnt").alias("wcnt"))
        )
        best = pairs.orderBy(F.desc("wcnt"), F.asc("pair")).limit(1)
        cur = (
            cur.crossJoin(F.broadcast(best.select("pair")))
            .withColumn("s", F.expr(_APPLY_MERGE))
            .drop("pair")
            .localCheckpoint()
        )
    return (
        cur.select("cnt", F.explode(F.split(F.trim(F.col("s")), "  ")).alias("token"))
        .groupBy("token")
        .agg(F.sum("cnt").alias("wcnt"))
        .orderBy(F.desc("wcnt"), F.asc("token"))
        .limit(_BPE_ENC_TOP)
    )


BPE_ENCODE_TOKENS_SQL = (
    """
WITH tok AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
  FROM documents),
words AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tok
  WHERE regexp_matches(w, '^[a-z]+$') AND length(w) BETWEEN 2 AND 12
  GROUP BY w),
s0 AS (
  SELECT cnt,
         ' ' || array_to_string(list_transform(range(1, length(w) + 1),
                i -> substring(w, i, 1)), '  ') || ' ' AS s
  FROM words),"""
    + ",".join(
        _bpe_round_sql(i) + "," + _bpe_apply_sql(i)
        for i in range(1, _BPE_ENCODE_ROUNDS + 1)
    )
    + f"""
SELECT token, CAST(sum(cnt) AS BIGINT) AS wcnt
FROM (SELECT cnt, unnest(string_split(trim(s), '  ')) AS token
      FROM s{_BPE_ENCODE_ROUNDS})
GROUP BY token
ORDER BY wcnt DESC, token
LIMIT {_BPE_ENC_TOP}
"""
)


# ---------------------------------------------------------------------------
# Fellegi–Sunter probabilistic record linkage (round 6, X44) — the SCORING
# side of entity resolution. The repo's dedup tiers decide "same or not" by
# thresholded similarity; FS instead learns per-field match/non-match
# agreement rates (m, u) from the candidate pairs themselves via EM
# (Fellegi & Sunter 1969; Winkler 1988) and scores pairs by agreement
# weights — the standard method behind production record linkage (Splink,
# febrl). Two EM rounds are unrolled (this repo's standard way to make a
# data-dependent loop oracle-checkable, cf. bpe_learn_merges/pagerank):
#
#   E-step: pair responsibility g = p·Πm_f^(a_f)(1-m_f)^(1-a_f) /
#           (that + (1-p)·Π u_f ...) — written as fixed-order products of
#           CASE arms (no pow), identical expression order both engines,
#           then QUANTIZED to integer ppm (floor(g·1e6 + 0.5)) so the
#           M-step sums are exact BIGINT arithmetic — double summation
#           order can never flip a bit between engines.
#   M-step: m_f = Σ g·a_f / Σ g,  u_f = Σ (1-g)·a_f / Σ (1-g),
#           p = Σ g / N — single bigint/bigint divisions.
#
# Candidates come from sorted-neighborhood blocking (block on nation —
# the stable attribute — sort by balance cents, lead window 3), so the
# pair relation is LINEAR in the data; the EM statistics are one small
# agg per round broadcast back as one row. Output weights are m/u
# RATIOS, not ln-weights: division is correctly-rounded IEEE in both
# engines, libm log differs in the last ulp. The linkage scenario: a 10%
# twin feed of the customer file with deterministic field corruptions —
# name %7 (suffix), segment %9 (relocated), balance %3 (+1 cent, which
# also keeps the twin adjacent in the SNM sort). Names are unique and
# balances near-unique in the fixture, so EM's match class is the twin
# cluster and the learned weights are textbook: high-m/low-u name and
# balance, weak segment.
# ---------------------------------------------------------------------------

_FS_TWIN_OFFSET = 10_000_000_000
_FS_WINDOW = 3
_FS_PPM = 1_000_000
_FS_FLAGS = ("nm", "seg", "bal")  # fixed EM product order (same in SQL)


def fs_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X44: per-field (m, u, m/u weight) after 2 unrolled EM rounds over
    SNM candidate pairs of the customer file vs its corrupted twin feed."""
    cust = load_table(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").cast("bigint").alias("rid"),
        F.col("c_name").alias("nm"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").cast("bigint").alias("nat"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal"),
    )
    twins = base.filter(F.col("rid") % 10 == 0).select(
        (F.col("rid") + _FS_TWIN_OFFSET).alias("rid"),
        F.when(F.col("rid") % 7 == 0, F.concat(F.col("nm"), F.lit(" jr")))
        .otherwise(F.col("nm"))
        .alias("nm"),
        F.when(F.col("rid") % 9 == 0, F.lit("RELOCATED"))
        .otherwise(F.col("seg"))
        .alias("seg"),
        F.col("nat"),
        F.when(F.col("rid") % 3 == 0, F.col("bal") + 1).otherwise(F.col("bal")).alias("bal"),
    )
    corpus = base.unionByName(twins)
    w = Window.partitionBy("nat").orderBy("bal", "rid")
    nbrs = corpus.select(
        "nm",
        "seg",
        "bal",
        F.array(
            *[
                F.lead(F.struct("rid", "nm", "seg", "bal"), i).over(w)
                for i in range(1, _FS_WINDOW + 1)
            ]
        ).alias("nbrs"),
    )
    pairs = (
        nbrs.select("nm", "seg", "bal", F.explode("nbrs").alias("nb"))
        .filter(F.col("nb").isNotNull())
        .select(
            (F.col("nm") == F.col("nb.nm")).cast("bigint").alias("a_nm"),
            (F.col("seg") == F.col("nb.seg")).cast("bigint").alias("a_seg"),
            (F.col("bal") == F.col("nb.bal")).cast("bigint").alias("a_bal"),
        )
    )

    flags = _FS_FLAGS

    def em_stats(pairs_g: DataFrame, gcol) -> DataFrame:
        """One M-step: 1-row DataFrame of m_f, u_f, p from exact BIGINT
        sums of the ppm-quantized responsibilities."""
        aggs = [
            F.sum(gcol).alias("sg"),
            F.sum(F.lit(_FS_PPM) - gcol).alias("sn"),
            F.count(F.lit(1)).alias("n"),
        ]
        for f in flags:
            aggs.append(F.sum(gcol * F.col(f"a_{f}")).alias(f"sga_{f}"))
            aggs.append(
                F.sum((F.lit(_FS_PPM) - gcol) * F.col(f"a_{f}")).alias(f"sna_{f}")
            )
        row = pairs_g.agg(*aggs)
        cols = [
            # n = pair count >= 1 on any corpus with >= 2 rows per nation;
            # ansi: double division never raises under ANSI (IEEE Inf/NaN)
            (F.col("sg").cast("double") / (F.lit(float(_FS_PPM)) * F.col("n").cast("double"))).alias("p")
        ]
        for f in flags:
            cols.append(
                # sg > 0: g floors to >= 1 ppm on twin pairs, so the sum is
                # ansi: positive; double division never raises under ANSI
                (F.col(f"sga_{f}").cast("double") / F.col("sg").cast("double")).alias(f"m_{f}")
            )
            cols.append(
                # ansi: double division; sn > 0 unless EVERY pair has g = 1e6
                (F.col(f"sna_{f}").cast("double") / F.col("sn").cast("double")).alias(f"u_{f}")
            )
        return row.select(*cols)

    def resp(mcol, ucol, a):
        """One field's contribution pair: (match-arm, nonmatch-arm)."""
        return (
            F.when(a == 1, mcol).otherwise(F.lit(1.0) - mcol),
            F.when(a == 1, ucol).otherwise(F.lit(1.0) - ucol),
        )

    def g_ppm(stats: DataFrame, m_of, u_of, pcol) -> DataFrame:
        """E-step: ppm-quantized responsibility, fixed product order."""
        joined = pairs.crossJoin(F.broadcast(stats))
        pm, pu = F.lit(1.0), F.lit(1.0)
        for f in flags:  # fixed order: nm, br, ty, sz, pb — same in SQL
            tm, tu = resp(m_of(f), u_of(f), F.col(f"a_{f}"))
            pm, pu = pm * tm, pu * tu
        # denominator > 0: pm, pu are products of probabilities in (0,1) —
        # round-1 arms are 0.9/0.1 literals, ppm quantization keeps round-2
        # ansi: m/u off exact 0/1; double division never raises under ANSI
        g = pcol * pm / (pcol * pm + (F.lit(1.0) - pcol) * pu)
        return joined.select(
            *[f"a_{f}" for f in flags],
            F.floor(g * _FS_PPM + F.lit(0.5)).cast("bigint").alias("g"),
        )

    # round 0: m=0.9 literal, u = candidate agreement rate, p=0.1
    u0 = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(f"a_{f}").alias(f"sa_{f}") for f in flags],
    ).select(
        *[
            # ansi: double division; n = pair count >= 1
            (F.col(f"sa_{f}").cast("double") / F.col("n").cast("double")).alias(f"u_{f}")
            for f in flags
        ]
    )
    g1 = g_ppm(u0, lambda f: F.lit(0.9), lambda f: F.col(f"u_{f}"), F.lit(0.1))
    s1 = em_stats(g1, F.col("g"))
    g2 = g_ppm(s1, lambda f: F.col(f"m_{f}"), lambda f: F.col(f"u_{f}"), F.col("p"))
    s2 = em_stats(g2, F.col("g"))

    # outputs quantized identically in both engines — floor(x*1e6+0.5)/1e6,
    # never round() (HALF_UP in Spark vs banker's in DuckDB at boundaries)
    return s2.select(
        F.expr(
            "stack({n}, {args}) as (field, m, u, weight)".format(
                n=len(flags),
                args=", ".join(
                    f"'{f}', "
                    f"cast(floor(m_{f} * 1e6 + 0.5) as bigint) / 1e6, "
                    f"cast(floor(u_{f} * 1e6 + 0.5) as bigint) / 1e6, "
                    f"cast(floor(m_{f} / greatest(u_{f}, 1e-9) * 1e4 + 0.5) as bigint) / 1e4"
                    for f in flags
                ),
            )
        )
    ).orderBy("field")


def _fs_sql() -> str:
    """DuckDB twin of fs_record_linkage, generated by the same loops so
    the floating-point product/CASE order is textually identical."""
    flags = _FS_FLAGS
    leads = ",\n         ".join(
        f"lead({c}, {i}) OVER w AS {c}{i}"
        for i in range(1, _FS_WINDOW + 1)
        for c in ("rid", "nm", "seg", "bal")
    )
    pair_arm = "\n  UNION ALL ".join(
        f"""SELECT CAST(nm = nm{i} AS BIGINT) AS a_nm,
         CAST(seg = seg{i} AS BIGINT) AS a_seg,
         CAST(bal = bal{i} AS BIGINT) AS a_bal
  FROM win WHERE rid{i} IS NOT NULL"""
        for i in range(1, _FS_WINDOW + 1)
    )

    # every fractional literal is e-notation: 0.9 parses as DECIMAL in
    # DuckDB (exact arithmetic) but F.lit(0.9) is a DOUBLE in Spark —
    # 9e-1 is DOUBLE in both, keeping the EM product chains bit-identical
    def prod(arm_of) -> str:
        out = "1e0"
        for f in flags:
            out = f"{out} * {arm_of(f)}"
        return out

    pm1 = prod(lambda f: f"(CASE WHEN a_{f} = 1 THEN 9e-1 ELSE 1e0 - 9e-1 END)")
    pu1 = prod(lambda f: f"(CASE WHEN a_{f} = 1 THEN u_{f} ELSE 1e0 - u_{f} END)")
    pm2 = prod(lambda f: f"(CASE WHEN a_{f} = 1 THEN m_{f} ELSE 1e0 - m_{f} END)")
    pu2 = prod(lambda f: f"(CASE WHEN a_{f} = 1 THEN u_{f} ELSE 1e0 - u_{f} END)")

    def mstep(src: str) -> str:
        cols = [
            f"CAST(sum(g) AS DOUBLE) / (1e6 * CAST(count(*) AS DOUBLE)) AS p"
        ]
        for f in flags:
            cols.append(
                f"CAST(sum(g * a_{f}) AS DOUBLE) / CAST(sum(g) AS DOUBLE) AS m_{f}"
            )
            cols.append(
                f"CAST(sum(({_FS_PPM} - g) * a_{f}) AS DOUBLE)"
                f" / CAST(sum({_FS_PPM} - g) AS DOUBLE) AS u_{f}"
            )
        return f"SELECT {', '.join(cols)} FROM {src}"

    u0_cols = ", ".join(
        f"CAST(sum(a_{f}) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS u_{f}" for f in flags
    )
    final = "\n  UNION ALL ".join(
        f"""SELECT '{f}' AS field,
         CAST(floor(m_{f} * 1e6 + 0.5) AS BIGINT) / 1e6 AS m,
         CAST(floor(u_{f} * 1e6 + 0.5) AS BIGINT) / 1e6 AS u,
         CAST(floor(m_{f} / greatest(u_{f}, 1e-9) * 1e4 + 0.5) AS BIGINT) / 1e4 AS weight
  FROM m2"""
        for f in flags
    )
    a_cols = ", ".join(f"a_{f}" for f in flags)
    return f"""
WITH base AS (
  SELECT CAST(c_custkey AS BIGINT) AS rid, c_name AS nm,
         c_mktsegment AS seg, CAST(c_nationkey AS BIGINT) AS nat,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal
  FROM customer),
twins AS (
  SELECT rid + {_FS_TWIN_OFFSET} AS trid,
         CASE WHEN rid % 7 = 0 THEN nm || ' jr' ELSE nm END AS tnm,
         CASE WHEN rid % 9 = 0 THEN 'RELOCATED' ELSE seg END AS tseg,
         nat AS tnat,
         CASE WHEN rid % 3 = 0 THEN bal + 1 ELSE bal END AS tbal
  FROM base WHERE rid % 10 = 0),
corpus AS (
  SELECT * FROM base
  UNION ALL
  SELECT trid, tnm, tseg, tnat, tbal FROM twins),
win AS (
  SELECT nm, seg, bal,
         {leads}
  FROM corpus
  WINDOW w AS (PARTITION BY nat ORDER BY bal, rid)),
pairs AS MATERIALIZED (
  {pair_arm}),
u0 AS (SELECT {u0_cols} FROM pairs),
g1 AS (
  SELECT {a_cols},
         CAST(floor(1e-1 * ({pm1}) / (1e-1 * ({pm1}) + (1e0 - 1e-1) * ({pu1}))
              * {_FS_PPM} + 0.5) AS BIGINT) AS g
  FROM pairs, u0),
m1 AS ({mstep('g1')}),
g2 AS (
  SELECT {a_cols},
         CAST(floor(p * ({pm2}) / (p * ({pm2}) + (1e0 - p) * ({pu2}))
              * {_FS_PPM} + 0.5) AS BIGINT) AS g
  FROM pairs, m1),
m2 AS ({mstep('g2')})
{final}
ORDER BY field
"""


FS_RECORD_LINKAGE_SQL = _fs_sql()


# ---------------------------------------------------------------------------
# Two-stage retrieval rerank (over-fetch + refine, generalized)
# ---------------------------------------------------------------------------

_RERANK_FETCH = 100
_RERANK_K = 5


def rerank_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3/X4: two-stage retrieval — stage 1 over-fetches the top-100 by L2
    (the cheap index metric, exactly the reference's limit=100 fetch at
    extract_and_search.py:109), stage 2 re-scores the candidates with a
    second metric (cosine here, standing in for a cross-encoder: the
    expensive scorer that only ever sees k' candidates) and keeps the
    top-5.

    Scale shape: both stages are TakeOrderedAndProject — partial top-k per
    partition, never a full sort; stage 2's input is 100 rows no matter the
    corpus size, which is the entire point of the pattern."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir)
    stage1 = (
        emb.filter(F.col("label") == TARGET_LABEL)
        .crossJoin(q)
        .withColumn("dist", l2_distance(F.col("embedding"), F.col("qvec")))
        .orderBy(F.col("dist").asc(), F.col("vec_id").asc())
        .limit(_RERANK_FETCH)
    )
    return (
        stage1.withColumn("cos", cosine_similarity(F.col("embedding"), F.col("qvec")))
        .select(
            "vec_id",
            F.round(F.col("dist"), 4).alias("l2_score"),
            F.round(F.col("cos"), 6).alias("cos_score"),
        )
        .orderBy(F.col("cos_score").desc(), F.col("vec_id").asc())
        .limit(_RERANK_K)
    )


RERANK_TWO_STAGE_SQL = f"""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings
  WHERE vec_id = {QUERY_VEC_ID}
),
s1 AS (
  SELECT e.vec_id,
         CAST(e.embedding AS DOUBLE[]) AS v,
         list_distance(CAST(e.embedding AS DOUBLE[]), q.qvec) AS dist,
         q.qvec AS qvec
  FROM embeddings e CROSS JOIN q
  WHERE e.label = {TARGET_LABEL}
  ORDER BY dist, e.vec_id
  LIMIT {_RERANK_FETCH}
)
SELECT vec_id,
       round(dist, 4) AS l2_score,
       round(list_cosine_similarity(v, qvec), 6) AS cos_score
FROM s1
ORDER BY cos_score DESC, vec_id
LIMIT {_RERANK_K}
"""


_COMPACT_TARGET = 65536  # bytes per output file; sf-scale analog of 512 MB


def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planner: assign each input file (stand-in:
    one document of n_chars bytes) to an output bin of ~_COMPACT_TARGET
    bytes within its source partition, by exclusive-running-sum division —
    the deterministic streaming bin-packing every table-maintenance job
    (Iceberg rewrite_data_files, Delta OPTIMIZE) runs before query serving.
    Emits the per-bin manifest a rewrite job would execute.

    Scale shape: one window sum keyed by the write partition (source) in
    file-name order — the same sort the file listing already has — then a
    (source, bin) agg. No data moves; this plans the move. At 100 TB the
    input is the table's file manifest (~millions of rows), not the data."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    from pyspark.sql.window import Window as W

    excl = (
        F.sum("n_chars")
        .over(W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1))
    )
    return (
        docs.select("source", "doc_id", "n_chars")
        .withColumn("bin", F.floor(F.coalesce(excl, F.lit(0)) / _COMPACT_TARGET))
        .groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_chars").alias("bytes"),
            F.round(F.sum("n_chars") / F.lit(float(_COMPACT_TARGET)) * 100, 4).alias(
                "fill_pct"
            ),
        )
        .orderBy("source", "bin")
    )


COMPACTION_PLAN_SQL = f"""
WITH sized AS (
  SELECT source, doc_id, n_chars,
         coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS excl
  FROM documents
)
SELECT source,
       CAST(floor(CAST(excl AS DOUBLE) / {_COMPACT_TARGET}) AS BIGINT) AS bin,
       count(*) AS n_files,
       CAST(sum(n_chars) AS BIGINT) AS bytes,
       round(CAST(sum(n_chars) AS DOUBLE) / {float(_COMPACT_TARGET)} * 100, 4)
         AS fill_pct
FROM sized
GROUP BY 1, 2
ORDER BY source, bin
"""


_HRW_N = 8


def rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment audit (Thaler &
    Ravishankar 1998, public — the consistent-hashing family): each doc
    goes to the shard with the max md5(doc, shard) weight. The property
    that matters operationally: growing the cluster N -> N+1 moves only
    ~1/(N+1) of the keys (every moved key moves TO the new shard), versus
    mod-N hashing which reshuffles almost everything. The audit assigns
    every doc under N=8 and N=9 and reports, per N=8 shard, how many docs
    stayed vs moved — all moved docs land on shard 8 by construction,
    which the oracle equality pins.

    Scale shape: assignment is a pure per-row map (N hash evaluations
    folded with array algebra — no explode, no shuffle); the audit agg is
    an 8-key rollup.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)

    def argmax_shard(n: int) -> str:
        return (
            f"CAST(array_position(transform(sequence(0, {n - 1}), "
            f"s -> md5(concat(CAST(doc_id AS STRING), ':', CAST(s AS STRING)))), "
            f"array_max(transform(sequence(0, {n - 1}), "
            f"s -> md5(concat(CAST(doc_id AS STRING), ':', CAST(s AS STRING)))))) - 1 AS INT)"
        )

    assigned = docs.select(
        F.expr(argmax_shard(_HRW_N)).alias("shard8"),
        F.expr(argmax_shard(_HRW_N + 1)).alias("shard9"),
    )
    return (
        assigned.groupBy("shard8")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("shard9") != F.col("shard8")).cast("long"))
            .cast("bigint")
            .alias("moved"),
            F.sum((F.col("shard9") == _HRW_N).cast("long"))
            .cast("bigint")
            .alias("moved_to_new"),
            F.round(
                F.sum((F.col("shard9") != F.col("shard8")).cast("long"))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("moved_frac"),
        )
        .orderBy("shard8")
    )


def _hrw_sql(n: int) -> str:
    return (
        f"CAST(list_position(list_transform(range(0, {n}), "
        f"s -> md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR))), "
        f"list_max(list_transform(range(0, {n}), "
        f"s -> md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR))))) - 1 AS INTEGER)"
    )


RENDEZVOUS_SHARDING_SQL = f"""
WITH assigned AS (
  SELECT {_hrw_sql(_HRW_N)} AS shard8,
         {_hrw_sql(_HRW_N + 1)} AS shard9
  FROM documents
)
SELECT shard8,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN shard9 <> shard8 THEN 1 ELSE 0 END) AS BIGINT) AS moved,
       CAST(sum(CASE WHEN shard9 = {_HRW_N} THEN 1 ELSE 0 END) AS BIGINT) AS moved_to_new,
       round(CAST(sum(CASE WHEN shard9 <> shard8 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS moved_frac
FROM assigned
GROUP BY shard8
ORDER BY shard8
"""


def pareto_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Pareto skyline of suppliers on (unit cost, ship delay) —
    the classic skyline operator (Borzsonyi et al. 2001, public): a
    supplier is on the frontier iff no same-nation supplier is BOTH
    strictly cheaper and strictly faster.

    Both metrics are exact integers (milli-units via integer division),
    so the frontier is bit-deterministic. The 2-D skyline is computed the
    scale-correct way: sort by cost within nation, running strict-prefix
    min of delay (RANGE frame excludes equal costs), keep rows whose
    delay beats every strictly-cheaper supplier's — O(n log n) per
    nation, not the O(n^2) dominance join; skylines are mergeable
    (the frontier of a union is inside the union of frontiers), which is
    the 100 TB partition-then-merge path.
    """
    li = load_table(spark, sf_dir, "lineitem", spread=True)
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    per_supp = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("cents"),
            F.sum(F.round(F.col("l_quantity")).cast("bigint")).alias("qty"),
            F.sum(F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))).alias("delay_days"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "l_suppkey",
            F.expr("(cents * 1000) div qty").alias("cost_milli"),
            F.expr("(delay_days * 1000) div n").alias("delay_milli"),
        )
    )
    named = per_supp.join(
        F.broadcast(supp), per_supp.l_suppkey == supp.s_suppkey
    ).join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    w = (
        Window.partitionBy("n_name")
        .orderBy("cost_milli")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    sky = named.withColumn("best_delay", F.min("delay_milli").over(w)).filter(
        F.col("best_delay").isNull() | (F.col("delay_milli") <= F.col("best_delay"))
    )
    return sky.select(
        F.col("n_name").alias("nation"),
        F.col("s_name").alias("supplier"),
        "cost_milli",
        "delay_milli",
    ).orderBy("nation", "cost_milli", "supplier")


PARETO_SUPPLIERS_SQL = """
WITH per_supp AS (
  SELECT l_suppkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
         CAST(sum(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS BIGINT) AS delay_days,
         CAST(count(*) AS BIGINT) AS n
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_suppkey
), m AS (
  SELECT l_suppkey,
         (cents * 1000) // qty AS cost_milli,
         (delay_days * 1000) // n AS delay_milli
  FROM per_supp
), named AS (
  SELECT n_name AS nation, s_name AS supplier, cost_milli, delay_milli
  FROM m
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
), sky AS (
  SELECT *,
         min(delay_milli) OVER (PARTITION BY nation ORDER BY cost_milli
                                RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS best_delay
  FROM named
)
SELECT nation, supplier, cost_milli, delay_milli
FROM sky
WHERE best_delay IS NULL OR delay_milli <= best_delay
ORDER BY nation, cost_milli, supplier
"""


_ENC_COLS = ("o_orderstatus", "o_orderpriority")
_ENC_BUCKET = 1024


def encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-design advisor: per column, the statistics that decide a
    columnar encoding — NDV (dictionary), exact run count in key order
    (run-length), average width (plain) — and the recommended encoding by
    estimated bytes. The ANALYZE-style pass a table-maintenance service
    runs before rewriting files.

    Exact runs at scale, two-level: rows bucket by key range; each
    bucket counts its internal runs with a bucket-PARTITIONED lag window
    (never a global per-row sort), and bucket boundary continuations are
    subtracted via one lag over the bounded bucket table (first/last
    values per bucket by min_by/max_by). Total = Σ bucket runs − Σ
    boundary merges — bit-equal to the single-sequence count.
    """
    from pyspark.sql.window import Window as W

    orders = load_table(spark, sf_dir, "orders", spread=True)
    legs = []
    for col in _ENC_COLS:
        b = orders.select(
            F.expr(f"o_orderkey div {_ENC_BUCKET}").alias("bkt"),
            "o_orderkey",
            F.col(col).alias("v"),
        )
        wb = W.partitionBy("bkt").orderBy("o_orderkey")
        runs_in = b.withColumn("prev", F.lag("v").over(wb)).groupBy("bkt").agg(
            (
                F.sum((~F.col("v").eqNullSafe(F.col("prev"))).cast("long"))
            ).alias("runs_b"),
            F.expr("min_by(v, o_orderkey)").alias("first_v"),
            F.expr("max_by(v, o_orderkey)").alias("last_v"),
        )
        wk = W.orderBy("bkt")
        merged = runs_in.withColumn("prev_last", F.lag("last_v").over(wk)).agg(
            F.sum("runs_b").alias("runs_raw"),
            F.sum(
                F.col("first_v").eqNullSafe(F.col("prev_last")).cast("long")
            ).alias("boundary_merges"),
        )
        stats = b.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("v").alias("ndv"),
            F.sum(F.length("v")).alias("bytes_plain"),
            F.max(F.length("v")).alias("w_max"),
        )
        legs.append(
            stats.crossJoin(merged).select(
                F.lit(col).alias("col_name"),
                F.col("n").cast("bigint").alias("n"),
                F.col("ndv").cast("bigint").alias("ndv"),
                (F.col("runs_raw") - F.col("boundary_merges")).cast("bigint").alias("runs"),
                F.col("bytes_plain").cast("bigint").alias("bytes_plain"),
                (
                    F.col("ndv") * F.col("w_max")
                    + F.expr("n * (CAST(ceil(log2(ndv + 1)) AS BIGINT)) div 8")
                ).cast("bigint").alias("bytes_dict"),
                (
                    (F.col("runs_raw") - F.col("boundary_merges")) * (F.col("w_max") + 4)
                ).cast("bigint").alias("bytes_rle"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    rec = F.when(
        (F.col("bytes_rle") <= F.col("bytes_dict"))
        & (F.col("bytes_rle") <= F.col("bytes_plain")),
        F.lit("rle"),
    ).when(F.col("bytes_dict") <= F.col("bytes_plain"), F.lit("dict")).otherwise(
        F.lit("plain")
    )
    return out.withColumn("recommended", rec).orderBy("col_name")


def _enc_leg_sql(col: str) -> str:
    return f"""
  SELECT '{col}' AS col_name,
         s.n, s.ndv,
         CAST(m.runs_raw - m.boundary_merges AS BIGINT) AS runs,
         s.bytes_plain,
         CAST(s.ndv * s.w_max + s.n * CAST(ceil(log2(s.ndv + 1)) AS BIGINT) // 8 AS BIGINT)
           AS bytes_dict,
         CAST((m.runs_raw - m.boundary_merges) * (s.w_max + 4) AS BIGINT) AS bytes_rle
  FROM (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT {col}) AS BIGINT) AS ndv,
           CAST(sum(length({col})) AS BIGINT) AS bytes_plain,
           CAST(max(length({col})) AS BIGINT) AS w_max
    FROM orders
  ) s CROSS JOIN (
    SELECT CAST(sum(runs_b) AS BIGINT) AS runs_raw,
           CAST(sum(CASE WHEN merged THEN 1 ELSE 0 END) AS BIGINT) AS boundary_merges
    FROM (
      SELECT runs_b,
             first_v IS NOT DISTINCT FROM lag(last_v) OVER (ORDER BY bkt) AS merged
      FROM (
        SELECT bkt,
               CAST(sum(CASE WHEN v IS DISTINCT FROM prev THEN 1 ELSE 0 END) AS BIGINT) AS runs_b,
               min_by(v, o_orderkey) AS first_v,
               max_by(v, o_orderkey) AS last_v
        FROM (
          SELECT o_orderkey // {_ENC_BUCKET} AS bkt, o_orderkey, {col} AS v,
                 lag({col}) OVER (PARTITION BY o_orderkey // {_ENC_BUCKET}
                                  ORDER BY o_orderkey) AS prev
          FROM orders
        ) GROUP BY bkt
      )
    )
  ) m"""


ENCODING_ADVISOR_SQL = (
    "SELECT *, CASE WHEN bytes_rle <= bytes_dict AND bytes_rle <= bytes_plain THEN 'rle' "
    "WHEN bytes_dict <= bytes_plain THEN 'dict' ELSE 'plain' END AS recommended FROM ("
    + " UNION ALL ".join(_enc_leg_sql(c) for c in _ENC_COLS)
    + ") ORDER BY col_name"
)



# ---------------------------------------------------------------------------
# X22 Z-order clustering audit: multi-dimensional data layout for zone-map
# pruning (Morton 1966; the Delta OPTIMIZE ZORDER BY / Iceberg sort-order
# technique). A table sorted on ONE column prunes min/max zone maps only on
# that column; interleaving the bits of two bucketed sort keys gives every
# file a tight min/max RANGE ON BOTH, so 2-D predicates skip most files.
# This query lays the same rows out both ways, computes each file's zone
# map, and prices a fixed 2-D predicate under both layouts — the
# before/after report a table-maintenance advisor shows.
# ---------------------------------------------------------------------------

_ZORD_BITS = 4  # 16 x 16 bucket grid
_ZORD_FILES = 64  # both layouts split into 64 equal "files"
_ZORD_PRED_CB = 5  # predicate: custkey-bucket = 5 AND month-bucket IN [3, 6]
_ZORD_PRED_DB_LO, _ZORD_PRED_DB_HI = 3, 6


def _morton_sql(cb: str, db: str, intdiv: str = "//") -> str:
    """Bit interleave via floor-div/mod arithmetic only — no bit operators,
    so both engines evaluate the same formula (spelling differs: Spark says
    `div`, DuckDB says `//`)."""
    terms = []
    for i in range(_ZORD_BITS):
        terms.append(f"(({cb} {intdiv} {1 << i}) % 2) * {4 ** i}")
        terms.append(f"(({db} {intdiv} {1 << i}) % 2) * {2 * 4 ** i}")
    return " + ".join(terms)


def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X22: Z-order vs natural layout, priced by zone-map pruning.

    Both layouts are 64 equal files over the same orders rows; `natural`
    orders by (o_orderdate, o_orderkey) — the append order a daily ingest
    produces — and `zorder` by the Morton interleave of the 4-bit custkey
    and month buckets. Per file the zone map is (min,max) of both buckets;
    `files_scanned` counts files whose zone map intersects the pinned 2-D
    predicate (custkey-bucket = 5, month-bucket in [3,6]). Everything is
    exact integer arithmetic — bucket math, interleave, spans — so the
    whole layout study sits under the oracle hash.

    Scale shape: the global row_number windows stand in for the sort a
    Z-ORDER rewrite performs anyway; a production writer range-partitions
    by the Morton key (repartitionByRange) and writes, needing no global
    window. The zone-map/pruning accounting is a 2x64-row aggregate."""
    from pyspark.sql.window import Window as W

    orders = load_table(spark, sf_dir, "orders", spread=True)
    rng = orders.agg(
        F.max("o_custkey").alias("mx_ck"),
        F.min(F.expr("(year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1")).alias("mn_mi"),
        F.max(F.expr("(year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1")).alias("mx_mi"),
        F.count(F.lit(1)).alias("n"),
    )
    grid = 1 << _ZORD_BITS
    base = orders.crossJoin(F.broadcast(rng)).select(
        "o_orderkey",
        "o_orderdate",
        # ansi: mx_ck >= o_custkey >= 1; month span >= 0 with +1 guard
        F.least(
            F.lit(grid - 1),
            F.expr(f"(o_custkey - 1) * {grid} div mx_ck"),
        ).cast("int").alias("cb"),
        F.least(
            F.lit(grid - 1),
            F.expr(
                f"((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1 - mn_mi)"
                f" * {grid} div (mx_mi - mn_mi + 1)"
            ),
        ).cast("int").alias("db"),
        F.col("n"),
    )
    morton = F.expr(_morton_sql("cb", "db", intdiv="div"))
    ranked = base.select(
        "cb",
        "db",
        "n",
        F.row_number().over(W.orderBy(morton, "cb", "db", "o_orderkey")).alias("zr"),
        F.row_number().over(W.orderBy("o_orderdate", "o_orderkey")).alias("nr"),
    )
    long = ranked.select(
        F.expr(
            f"stack(2, 'natural', (nr - 1) * {_ZORD_FILES} div n,"
            f" 'zorder', (zr - 1) * {_ZORD_FILES} div n) AS (layout, file)"
        ),
        "cb",
        "db",
    )
    zm = long.groupBy("layout", "file").agg(
        F.min("cb").alias("cb_lo"),
        F.max("cb").alias("cb_hi"),
        F.min("db").alias("db_lo"),
        F.max("db").alias("db_hi"),
    )
    hit = (
        (F.col("cb_lo") <= _ZORD_PRED_CB)
        & (F.col("cb_hi") >= _ZORD_PRED_CB)
        & (F.col("db_lo") <= _ZORD_PRED_DB_HI)
        & (F.col("db_hi") >= _ZORD_PRED_DB_LO)
    )
    return (
        zm.groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum(hit.cast("long")).alias("files_scanned"),
            # ansi: n_files = group count >= 1 (integer-exact span sums)
            F.round(F.sum(F.col("cb_hi") - F.col("cb_lo")).cast("double") / F.count(F.lit(1)), 4).alias("avg_ck_span"),
            F.round(F.sum(F.col("db_hi") - F.col("db_lo")).cast("double") / F.count(F.lit(1)), 4).alias("avg_month_span"),
        )
        .orderBy("layout")
    )


ZORDER_LAYOUT_SQL = f"""
WITH rng AS (
  SELECT max(o_custkey) AS mx_ck,
         min((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1) AS mn_mi,
         max((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1) AS mx_mi,
         count(*) AS n
  FROM orders
), base AS (
  SELECT o_orderkey, o_orderdate, n,
         CAST(least({(1 << _ZORD_BITS) - 1}, (o_custkey - 1) * {1 << _ZORD_BITS} // mx_ck) AS INT) AS cb,
         CAST(least({(1 << _ZORD_BITS) - 1},
                    ((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1 - mn_mi)
                      * {1 << _ZORD_BITS} // (mx_mi - mn_mi + 1)) AS INT) AS db
  FROM orders CROSS JOIN rng
), ranked AS (
  SELECT cb, db, n,
         row_number() OVER (ORDER BY {_morton_sql('cb', 'db')}, cb, db, o_orderkey) AS zr,
         row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS nr
  FROM base
), long AS (
  SELECT 'natural' AS layout, (nr - 1) * {_ZORD_FILES} // n AS file, cb, db FROM ranked
  UNION ALL
  SELECT 'zorder', (zr - 1) * {_ZORD_FILES} // n, cb, db FROM ranked
), zm AS (
  SELECT layout, file,
         min(cb) AS cb_lo, max(cb) AS cb_hi, min(db) AS db_lo, max(db) AS db_hi
  FROM long GROUP BY layout, file
)
SELECT layout,
       count(*) AS n_files,
       CAST(sum(CASE WHEN cb_lo <= {_ZORD_PRED_CB} AND cb_hi >= {_ZORD_PRED_CB}
                      AND db_lo <= {_ZORD_PRED_DB_HI} AND db_hi >= {_ZORD_PRED_DB_LO}
                     THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
       round(CAST(sum(cb_hi - cb_lo) AS DOUBLE) / count(*), 4) AS avg_ck_span,
       round(CAST(sum(db_hi - db_lo) AS DOUBLE) / count(*), 4) AS avg_month_span
FROM zm
GROUP BY layout
ORDER BY layout
"""


QUERIES = [
    QuerySpec(
        "token_budget_plan",
        token_budget_plan,
        TOKEN_BUDGET_PLAN_SQL,
        "X5 per-source token-budget trim: keep best docs until 50% of source tokens",
    ),
    QuerySpec(
        "bpe_learn_merges",
        bpe_learn_merges,
        BPE_LEARN_MERGES_SQL,
        "X14 BPE merge learning: 3 unrolled elect-and-apply rounds",
    ),
    QuerySpec(
        "bpe_encode_tokens",
        bpe_encode_tokens,
        BPE_ENCODE_TOKENS_SQL,
        "X42 BPE encoding: apply 6 learned merges to the vocab, subword top-20",
    ),
    QuerySpec(
        "fs_record_linkage",
        fs_record_linkage,
        FS_RECORD_LINKAGE_SQL,
        "X44 Fellegi-Sunter record linkage: 2 unrolled EM rounds, ppm-exact M-steps",
    ),
    QuerySpec(
        "edit_distance_dups",
        edit_distance_dups,
        EDIT_DISTANCE_DUPS_SQL,
        "X2 edit-distance near-dup tier (banded blocking + threshold Levenshtein)",
    ),
    QuerySpec(
        "snm_candidate_pairs",
        snm_candidate_pairs,
        SNM_CANDIDATE_PAIRS_SQL,
        "X2/X9 sorted-neighborhood record linkage (N·w sort-based blocking)",
    ),
    QuerySpec("domain_caps", domain_caps, DOMAIN_CAPS_SQL, "X5 per-source document quota"),
    QuerySpec(
        "blocklist_filter",
        blocklist_filter,
        BLOCKLIST_FILTER_SQL,
        "X5 blocklist broadcast anti-join gate",
    ),
    QuerySpec("corpus_diff", corpus_diff, CORPUS_DIFF_SQL, "X1 corpus snapshot diff"),
    QuerySpec("compaction_plan", compaction_plan, COMPACTION_PLAN_SQL, "small-files compaction bin-packing manifest"),
    QuerySpec(
        "dsir_importance",
        dsir_importance,
        DSIR_IMPORTANCE_SQL,
        "X5 DSIR hashed-ngram importance weights",
    ),
    QuerySpec(
        "unigram_ppl_buckets",
        unigram_ppl_buckets,
        UNIGRAM_PPL_BUCKETS_SQL,
        "X5 CCNet perplexity head/middle/tail buckets",
    ),
    QuerySpec(
        "rerank_two_stage",
        rerank_two_stage,
        RERANK_TWO_STAGE_SQL,
        "X3 two-stage over-fetch + rerank retrieval",
    ),
    QuerySpec(
        "incremental_dedup",
        incremental_dedup,
        INCREMENTAL_DEDUP_SQL,
        "X1/X2 batch-vs-history incremental MinHash dedup",
    ),
    QuerySpec(
        "frequent_terms",
        frequent_terms_q,
        FREQUENT_TERMS_SQL,
        "X5 exact heavy hitters via Misra-Gries candidates + recount",
    ),
    QuerySpec(
        "bpe_pair_counts",
        bpe_pair_counts,
        BPE_PAIR_COUNTS_SQL,
        "X5 BPE merge statistics (tokenizer-training inner agg)",
    ),
    QuerySpec(
        "bitext_mining",
        bitext_mining,
        BITEXT_MINING_SQL,
        "X3/X5 margin-based parallel-pair mining (ratio margin, k-NN normalized)",
    ),
    QuerySpec(
        "bitext_mining_ivf",
        bitext_mining_ivf,
        _bitext_mining_ivf_sql(),
        "X3/X5 bitext mining SCALE tier: IVF-cell candidate generation, same margin scoring",
    ),
    QuerySpec(
        "embedding_outliers",
        embedding_outliers,
        EMBEDDING_OUTLIERS_SQL,
        "X5 per-label centroid-distance z-score audit",
    ),
    QuerySpec(
        "fisher_dims",
        fisher_dims,
        FISHER_DIMS_SQL,
        "X5 Fisher discriminant ratio per embedding dimension (integer-micros exact)",
    ),
    QuerySpec(
        "quantile_normalize",
        quantile_normalize,
        QUANTILE_NORMALIZE_SQL,
        "X5 per-source quantile normalization onto the global distribution (101-row broadcast)",
    ),
    QuerySpec(
        "source_datacard",
        source_datacard,
        SOURCE_DATACARD_SQL,
        "X5 per-source datasheet composite (counts, span, lang entropy)",
    ),
    QuerySpec(
        "rendezvous_sharding",
        rendezvous_sharding,
        RENDEZVOUS_SHARDING_SQL,
        "X22 rendezvous-hash shard assignment + 1/(N+1) reassignment audit",
    ),
    QuerySpec(
        "pareto_suppliers",
        pareto_suppliers,
        PARETO_SUPPLIERS_SQL,
        "X7 per-nation Pareto skyline via strict-prefix running min (exact integers)",
    ),
    QuerySpec(
        "encoding_advisor",
        encoding_advisor,
        ENCODING_ADVISOR_SQL,
        "X22 columnar encoding advisor: NDV/run/width stats with two-level exact run counting",
    ),
    QuerySpec(
        "zorder_layout",
        zorder_layout,
        ZORDER_LAYOUT_SQL,
        "X22 Z-order vs natural layout priced by zone-map pruning (Morton interleave, exact)",
    ),
]
