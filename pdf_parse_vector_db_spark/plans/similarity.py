"""Dedup + similarity-search query surface (north-star X1-X4).

Oracle-checked where the math is portable (exact Jaccard, cosine, brute-force
kNN join); rows-only where signatures depend on Spark's hash family
(MinHash-LSH, SimHash) — those are instead validated in tests/test_dedup.py
against the exact tiers on corpora with planted near-duplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pdf_parse_vector_db_spark.functions.text import (
    shingles_expr,
    shingles_sql,
    token_counts_expr,
    token_counts_sql,
)
from pdf_parse_vector_db_spark.functions.vector import cosine_similarity, l2_distance
from pdf_parse_vector_db_spark.operators import dedup
from pdf_parse_vector_db_spark.operators.vector_store import (
    hamming_packed as vector_store_hamming,
)
from pdf_parse_vector_db_spark.plans.registry import QuerySpec
from pdf_parse_vector_db_spark.sources.registry import load_table


#: Deterministic coarse quantizer for the oracle-backed IVF query: every
#: 40th vector is a cell seed. IVF correctness does not depend on HOW the
#: coarse centroids were chosen (Lloyd refinement is a recall knob, priced
#: separately by ann_recall + tests/test_ann.py); pinning the quantizer to
#: corpus rows makes the ENTIRE index path — assignment argmin, probe
#: ranking, pruned exact search — plain relational algebra both engines
#: can hash-match. Round-5 sizing fix: the seed stride is now
#: max(_IVF_SEED_MOD, isqrt(N)) — the standard IVF nlist ∝ √N — so
#: assignment cost grows N·√N and cell population √N, instead of the
#: fixed stride's Θ(N²) assignment (nlist ∝ N) that the sf1 audit
#: measured at r100 = 28x. Python isqrt and the oracle's
#: floor(sqrt(count)) agree exactly for any feasible corpus (IEEE sqrt
#: is correctly rounded; the k−1/2k gap at perfect squares dwarfs an ulp).
_IVF_SEED_MOD = 40
_IVF_SEED_OFF = 7
_IVF_NPROBE = 4

#: oracle-side twin of the adaptive stride
_IVF_SEED_MOD_SQL = (
    f"greatest({_IVF_SEED_MOD}, "
    "CAST(floor(sqrt((SELECT count(*) FROM embeddings))) AS BIGINT))"
)
#: (rounded-micros distance, cid) packed into one BIGINT so argmin is a
#: plain MIN with a deterministic tie-break on both engines. Contract:
#: cid (a vec_id) < base — holds to 1e7 corpus rows; widen the base (and
#: the micros headroom, distance-micros * base must stay < 2^63) together
#: if the id space outgrows it.
_IVF_KEY_BASE = 10_000_000


def _ivf_seeds(emb: DataFrame) -> DataFrame:
    """Pinned coarse quantizer: every √N-strided vector is a cell seed
    (nlist ∝ √N, the standard IVF sizing). The (distance-micros, cid)
    BIGINT pack requires cid < `_IVF_KEY_BASE`; rather than silently
    corrupting argmin results past 1e7 embeddings, a raise_error guard on
    the seed ids surfaces the contract violation loudly (seeds are
    corpus/stride rows, so the check is off the hot path; it never fires
    below the base, preserving oracle hash parity).

    The returned relation carries the SIZE-GATED broadcast hint
    (operators/ivf_index.seed_broadcast_hint, round-8 verdict ask): under
    the configured bound every downstream seed crossJoin plans the
    broadcast nested-loop argmin; past it (nlist × dim × 8 B outgrowing
    an executor broadcast at ~10¹⁰-row corpora) the seeds join unhinted
    and the assignment becomes a shuffled cartesian — identical values,
    bounded memory. Consumers therefore do NOT re-wrap in F.broadcast.
    Costs one limit-1 job for the vector width on top of the existing
    stride count."""
    from math import isqrt

    from pdf_parse_vector_db_spark.operators.ivf_index import seed_broadcast_hint

    # ONE stat job instead of two (round-10 optimization, guide §5 "the
    # driver should do almost no data work"): the row count and vector
    # width ride the same single-pass aggregate — every _ivf_seeds caller
    # previously paid a .count() job plus a .first() job per query
    stat = emb.agg(
        F.count(F.lit(1)).alias("n"),
        F.first(F.size(F.col("embedding")), ignorenulls=True).alias("d"),
    ).first()
    n = int(stat["n"])
    mod = max(_IVF_SEED_MOD, isqrt(n))
    dim = int(stat["d"]) if stat["d"] is not None else 0
    seeds = emb.filter(F.col("vec_id") % mod == _IVF_SEED_OFF).select(
        F.when(F.col("vec_id") < _IVF_KEY_BASE, F.col("vec_id"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("IVF cid pack overflow: vec_id "),
                    F.col("vec_id").cast("string"),
                    F.lit(f" >= _IVF_KEY_BASE {_IVF_KEY_BASE}; widen the base"),
                )
            )
        )
        .alias("cid"),
        F.col("embedding").alias("cvec"),
    )
    return seed_broadcast_hint(seeds, n // mod + 1, dim)


def ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 exact tier: 3-gram Jaccard ≥ 0.1 within equal-length buckets.
    Blocking on n_chars keeps the self-join out of N² territory; at scale
    the bucket key becomes an LSH band (see minhash_near_dups)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return dedup.ngram_jaccard_pairs(
        docs, bucket=F.col("n_chars"), n=3, threshold=0.1
    ).orderBy("id_a", "id_b")


NGRAM_JACCARD_DUPS_SQL = f"""
WITH base AS (
  SELECT doc_id AS id, n_chars AS bucket, {shingles_sql('text')} AS sh
  FROM documents
),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b,
         round(
           CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
                THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.sh, b.sh)))
                ELSE 0.0 END, 6) AS jaccard
  FROM base a JOIN base b ON a.bucket = b.bucket AND a.id < b.id
)
SELECT id_a, id_b, jaccard FROM pairs
WHERE jaccard >= 0.1
ORDER BY id_a, id_b
"""


def minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 scale tier: MinHash(32)+LSH(8 bands) candidates, verified by exact
    Jaccard ≥ 0.1 — the full find→verify near-dedup pipeline. Rows-only
    (xxhash64 family is engine-specific); precision/recall asserted in
    tests against the exact tier."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    cands = dedup.minhash_lsh_pairs(docs, n=3, num_hashes=32, bands=8)
    sh = docs.select(F.col("doc_id"), shingles_expr("text", 3).alias("sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    jac = dedup.jaccard_expr(F.col("sh_a"), F.col("sh_b"))
    return (
        cands.join(a, on="id_a")
        .join(b, on="id_b")
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= 0.1)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    )


def minhash_portable_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 scale tier, PORTABLE family: the full MinHash(32)+LSH(8)→exact-
    Jaccard pipeline with an md5 hash family both engines compute
    identically — the one near-dedup query where even the LSH candidate
    generation is inside the oracle check."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return dedup.minhash_portable_pairs(docs, n=3, num_hashes=32, bands=8, threshold=0.1).orderBy(
        "id_a", "id_b"
    )


MINHASH_PORTABLE_SQL = dedup.minhash_portable_sql(
    n=3, num_hashes=32, bands=8, threshold=0.1, shingles=shingles_sql("text")
)


def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 bitwise tier: SimHash-64 near-dup pairs, hamming ≤ 3 over 4
    bands — the classic Manku/Jain/Sarma web-dedup configuration, where the
    pigeonhole bound is exact (≤3 flipped bits cannot touch all 4 bands, so
    banding has 100% recall). Rows-only (hash family is ours, blake2b)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return dedup.simhash_near_pairs(docs, max_hamming=3, bits=64, bands=4).orderBy(
        "id_a", "id_b"
    )


def simhash_portable_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 bitwise tier, PORTABLE family: SimHash-64 built from md5 hex
    nibbles so both engines produce identical signatures — candidate
    banding AND hamming verification are inside the oracle hash, the
    bitwise twin of minhash_portable_dups. Same Manku 4-band/hamming≤3
    configuration as simhash_near_dups."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return dedup.simhash_portable_pairs(docs, max_hamming=3, bands=4).orderBy(
        "id_a", "id_b"
    )


SIMHASH_PORTABLE_SQL = dedup.simhash_portable_sql(max_hamming=3, bands=4)


def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 semantic tier: all-pairs cosine ≥ 0.35 over the embedding corpus
    (exact quadratic reference; the bucketed scale path reuses this within
    IVF cells, operators/ann.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # NEGATIVE RESULT (round-10 optimization pass): an eager localCheckpoint
    # before the presentation sort — the fix that halved the PDF/FLAC/GIF
    # codec loops, whose post-exchange Python segment costs seconds —
    # REGRESSED this query 1.30→1.8 s: the blocked-BLAS compare after the
    # block shuffle is cheap, so the sort-sampling re-execution it avoids
    # costs less than the extra materialization job. Kept uncut.
    return dedup.embedding_near_dup_pairs(emb, threshold=0.35).orderBy("id_a", "id_b")


EMBEDDING_NEAR_DUPS_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35
ORDER BY id_a, id_b
"""


def embedding_near_dups_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 semantic tier, SCALE path: cosine ≥ 0.35 pairs restricted to IVF
    cells (cluster_id as the blocking bucket) — cost drops from corpus² to
    Σ cell², the trade every ANN-backed dedup makes. Oracle-backed since
    round 3 on the PINNED quantizer (same seeds as ivf_knn): assignment +
    within-cell blocked-BLAS pairs all hash-match the DuckDB twin; the
    subset-of-exact-tier contract stays asserted in tests/test_dedup.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = _ivf_seeds(emb)

    key = lambda vec, other, cid: (  # noqa: E731
        F.round(l2_distance(vec, other) * 1e6).cast("bigint") * _IVF_KEY_BASE + cid
    )
    assign = (
        emb.crossJoin(seeds)
        .groupBy("vec_id")
        .agg(F.min(key(F.col("embedding"), F.col("cvec"), F.col("cid"))).alias("ak"))
        .select("vec_id", (F.col("ak") % _IVF_KEY_BASE).alias("cluster_id"))
    )
    clustered = emb.join(assign, on="vec_id")
    # uncut before the sort — same negative result as embedding_near_dups
    return dedup.embedding_near_dup_pairs(
        clustered, threshold=0.35, bucket_col="cluster_id"
    ).orderBy("id_a", "id_b")


EMBEDDING_NEAR_DUPS_IVF_SQL = f"""
WITH seeds AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings WHERE vec_id % {_IVF_SEED_MOD_SQL} = {_IVF_SEED_OFF}
), assign AS (
  SELECT e.vec_id,
         min(CAST(round(list_distance(CAST(e.embedding AS DOUBLE[]), s.cvec) * 1e6)
                  AS BIGINT) * {_IVF_KEY_BASE} + s.cid) % {_IVF_KEY_BASE} AS cluster_id
  FROM embeddings e CROSS JOIN seeds s
  GROUP BY e.vec_id
), e AS (
  SELECT a.cluster_id, e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v
  FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM e a JOIN e b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35
ORDER BY id_a, id_b
"""


def dedup_tier_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 cross-tier evidence table: every exact-Jaccard pair annotated
    with whether the portable MinHash-LSH tier surfaced it and its
    portable-SimHash hamming distance — the per-pair audit a dedup
    reviewer reads to judge tier recall before trusting the cheap tiers
    at full scale. All three tiers are engine-portable, so the ENTIRE
    cross-validation sits inside the oracle hash.

    Scale shape: three bounded pair sets (each produced by its tier's
    bucketed pipeline) joined on (id_a, id_b) — pair-table-sized joins,
    never corpus-sized."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    exact = dedup.ngram_jaccard_pairs(docs, bucket=F.col("n_chars"), n=3, threshold=0.1)
    mh = dedup.minhash_portable_pairs(
        docs, n=3, num_hashes=32, bands=8, threshold=0.1
    ).select("id_a", "id_b", F.lit(True).alias("minhash_found"))
    sh = dedup.simhash_portable_pairs(docs, max_hamming=64, bands=4).select(
        "id_a", "id_b", "hamming"
    )
    return (
        exact.join(mh, on=["id_a", "id_b"], how="left")
        .join(sh, on=["id_a", "id_b"], how="left")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            F.coalesce(F.col("minhash_found"), F.lit(False)).alias("minhash_found"),
            F.coalesce(F.col("hamming"), F.lit(-1)).alias("simhash_hamming"),
        )
        .orderBy("id_a", "id_b")
    )


def _evidence_sql() -> str:
    exact = NGRAM_JACCARD_DUPS_SQL
    mh = MINHASH_PORTABLE_SQL
    sh = dedup.simhash_portable_sql(max_hamming=64, bands=4)
    return f"""
SELECT e.id_a, e.id_b, e.jaccard,
       m.id_a IS NOT NULL AS minhash_found,
       coalesce(s.hamming, -1) AS simhash_hamming
FROM ({exact}) e
LEFT JOIN ({mh}) m ON e.id_a = m.id_a AND e.id_b = m.id_b
LEFT JOIN ({sh}) s ON e.id_a = s.id_a AND e.id_b = s.id_b
ORDER BY e.id_a, e.id_b
"""


def embedding_energy_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2/X3 embedding QA: per-label mean fraction of squared norm carried
    by the first d dimensions (d = 8, 16, 32) — the truncation-safety
    audit behind Matryoshka-style dimension reduction: if prefix energy is
    high, a truncated index (smaller IVF/PQ footprint) loses little
    recall. Pure codegen array folds; per-row fractions round to integer
    micros before the mean so the hash is order-independent."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    sq = lambda col: F.aggregate(col, F.lit(0.0), lambda a, x: a + x * x)  # noqa: E731
    total = sq(v)
    tiers = F.array(
        *[
            F.struct(
                F.lit(d).alias("dim"),
                # ansi: the total > 0 CASE arm guards the division
                F.when(total > 0, sq(F.slice(v, 1, d)) / total)
                .otherwise(F.lit(0.0))
                .alias("frac"),
            )
            for d in (8, 16, 32)
        ]
    )
    rows = emb.select("label", F.explode(tiers).alias("t")).select(
        "label",
        F.col("t.dim").alias("dim"),
        F.round(F.col("t.frac") * 1e6).cast("long").alias("micros"),
    )
    return (
        rows.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # ansi: group count >= 1 times a nonzero literal
        F.round(F.sum("micros").cast("double") / (F.count(F.lit(1)) * 1e6), 6).alias(
                "mean_energy"
            ),
        )
        .orderBy("label", "dim")
    )


EMBEDDING_ENERGY_SQL = """
WITH e AS (
  SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
f AS (
  SELECT label, d.dim,
         CAST(round(CASE WHEN list_sum(list_transform(v, x -> x * x)) > 0
                         THEN list_sum(list_transform(v[1:d.dim], x -> x * x))
                              / list_sum(list_transform(v, x -> x * x))
                         ELSE 0.0 END * 1000000) AS BIGINT) AS micros
  FROM e CROSS JOIN (SELECT unnest([8, 16, 32]) AS dim) d
)
SELECT label, dim,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(micros) AS DOUBLE) / (count(*) * 1000000.0), 6) AS mean_energy
FROM f
GROUP BY label, dim
ORDER BY label, dim
"""


def embedding_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2/X3: top principal component's explained-variance SHARE over the
    embedding corpus — the dimensionality-reduction decision artifact.
    Oracle-backed since round 5: the eigenvalue comes from the same exact
    fixed-point power iteration as power_iteration_top_pc (shared
    _pi_core; every intermediate an integer both engines agree on) and
    the denominator is the covariance TRACE — total variance =
    Σ_j C*_jj / (n²·1e12), an exactly-SQL-computable integer sum — so
    eigenvalue, total variance, and share all sit under the value hash.
    The full 8-component spectrum stays available through
    operators/pca.py (per-partition sufficient statistics + dim×dim
    eigh), whose numpy contract is tests/test_ann.py; this query reports
    the top-1 share that spectrum's first row would give.

    Scale shape: identical to power_iteration_top_pc — one dim²-key Gram
    exchange, then dim²-row matvecs against broadcast vectors; the trace
    is a dim-row filter of the already-built C*."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    c, n_rows, v = _pi_core(emb)
    vq = v.select(
        "k",
        F.round(F.col("vk").cast("double") / 1000.0, 0)
        .cast("decimal(19,0)")
        .alias("vk"),
    )
    num = (
        c.join(F.broadcast(vq), on="k")
        .join(
            F.broadcast(vq.select(F.col("k").alias("j"), F.col("vk").alias("vj"))),
            on="j",
        )
        .agg(
            F.sum(
                (F.col("vj") * F.col("cjk") * F.col("vk")).cast("decimal(38,0)")
            ).alias("vCv")
        )
    )
    den = vq.agg(F.sum((F.col("vk") * F.col("vk")).cast("decimal(38,0)")).alias("vv"))
    trace = c.filter(F.col("j") == F.col("k")).agg(
        F.sum("cjk").cast("decimal(38,0)").alias("tr")
    )
    # eigenvalue and total variance share the 1/(n²·1e12) de-scaling, so
    # the SHARE is (vCv/vv)/tr — three doubles from exact integers, the
    # same cast discipline the Rayleigh quotient already proves portable.
    scale = F.col("n").cast("double") * F.col("n") * 1e12
    # ansi: vv = Σ squared micros of max-normalized vector > 0; scale = n²·1e12, n >= 1
    lam = F.col("vCv").cast("double") / F.col("vv").cast("double") / scale
    # ansi: scale > 0, see above
    tot = F.col("tr").cast("double") / scale
    return (
        num.crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(trace))
        .crossJoin(F.broadcast(n_rows))
        .select(
            F.lit(1).cast("int").alias("component"),
            F.round(lam, 6).alias("eigenvalue"),
            F.round(tot, 6).alias("total_variance"),
            F.round(
                F.col("vCv").cast("double")
                # ansi: vv > 0 (squared micros of max-normalized vector)
                / F.col("vv").cast("double")
                # ansi: tr > 0 (non-degenerate corpus variance)
                / F.col("tr").cast("double"),
                6,
            ).alias("explained_share"),
        )
    )


def knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3/X4: batch kNN join — every 20th vector is a query; top-3 same-label
    neighbors each, by cosine distance.

    Plan: queries×corpus join pruned by the label equality (shuffle keyed on
    label), distance in codegen, per-query window top-3. At 100 TB the label
    becomes the IVF cluster id and the same plan is the IVF probe."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"), F.col("label")
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"), F.col("label")
    )
    dist = F.lit(1.0) - cosine_similarity(F.col("q_vec"), F.col("c_vec"))
    w = Window.partitionBy("q_id").orderBy(F.col("d").asc(), F.col("c_id").asc())
    return (
        queries.join(corpus, on="label")
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("d", dist)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("q_id", "c_id", "rnk", F.round(F.col("d"), 6).alias("dist"))
        .orderBy("q_id", "rnk")
    )


KNN_JOIN_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS q_vec, label FROM e WHERE vec_id % 20 = 0),
scored AS (
  SELECT q.q_id, c.vec_id AS c_id,
         1.0 - list_cosine_similarity(q.q_vec, c.v) AS d
  FROM q JOIN e c ON q.label = c.label AND q.q_id <> c.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d, c_id) AS rnk
  FROM scored
)
SELECT q_id, c_id, rnk, round(d, 6) AS dist
FROM ranked WHERE rnk <= 3
ORDER BY q_id, rnk
"""


# (The round-2 fitted-KMeans IVF cache lived here; since round 3 the IVF
# queries run on the pinned quantizer above, and the MLlib k-means tier is
# exercised directly through operators/ann.build_ivf in tests/test_ann.py —
# which still caches the clustered corpus, the reference's load_collection
# analog, extract_and_embed.py:53-58.)


def ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-tier ANN: IVF(nprobe=4) top-5 for the vec_id=0 query — the
    engine analog of the reference's IVF_FLAT index
    (extract_and_embed.py:53-54), with a PINNED coarse quantizer (every
    40th vector seeds a cell) so the whole prune-then-exact plan sits
    under the DuckDB value hash (oracle-backed since round 3; the MLlib
    k-means quantizer tier remains covered by ann_recall + test_ann).

    Scale shape: seeds broadcast (nlist rows); assignment is a broadcast
    nested-loop argmin folded into one MIN aggregate per vector — at real
    scale the assignment is written once at ingest and cluster_id becomes
    a Parquet partition key, making the IN (probe cells) filter partition
    pruning, exactly like nprobe/nlist in Milvus."""
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = _ivf_seeds(emb)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))

    key = lambda vec, other, cid: (  # noqa: E731 — (dist-micros, cid) pack
        F.round(l2_distance(vec, other) * 1e6).cast("bigint") * _IVF_KEY_BASE + cid
    )
    probe = (
        seeds.crossJoin(F.broadcast(q))
        .select("cid", key(F.col("cvec"), F.col("qvec"), F.col("cid")).alias("k"))
        .orderBy("k")
        .limit(_IVF_NPROBE)
        .select("cid")
    )
    assign = (
        emb.crossJoin(seeds)
        .groupBy("vec_id")
        .agg(F.min(key(F.col("embedding"), F.col("cvec"), F.col("cid"))).alias("k"))
        .select("vec_id", (F.col("k") % _IVF_KEY_BASE).alias("cluster_id"))
    )
    return (
        emb.join(assign, on="vec_id")
        .join(F.broadcast(probe), assign["cluster_id"] == probe["cid"], "left_semi")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(l2_distance(F.col("embedding"), F.col("qvec")), 6).alias("d"),
        )
        .orderBy("d", "vec_id")
        .limit(5)
        .select("vec_id", "label", F.round(F.col("d"), 4).alias("score"))
    )


def ivf_partitioned_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ivf_knn with the assignment MATERIALIZED as the storage layout —
    the claim ivf_knn's docstring has made since round 3 ("cluster_id
    becomes a Parquet partition key, making the IN (probe cells) filter
    partition pruning, exactly like nprobe/nlist in Milvus"), now true in
    code. Build: assign once with the same pinned √N quantizer, write
    partitionBy("cluster_id") (operators/ivf_index). Search: nprobe
    nearest cells bootstrap a LITERAL IN on the partition column —
    static partition pruning; non-probed cells are never listed or
    decoded (PartitionFilters pinned in tests/test_ivf_index.py). Same
    rows as ivf_knn, so the same DuckDB oracle certifies the whole
    build-then-probe path."""
    import hashlib
    import os
    import tempfile

    from pdf_parse_vector_db_spark.operators import ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = _ivf_seeds(emb)
    path = os.path.join(
        tempfile.gettempdir(),
        "pdf_parse_vector_db_spark_ivf",
        # per-app suffix: same concurrent-writer rationale as
        # _compressed_store below
        hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
        + "-"
        + spark.sparkContext.applicationId,
    )
    ivf_index.build_ivf_index(emb, seeds, path)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    cids = ivf_index.probe_cells(seeds, q, _IVF_NPROBE)
    return ivf_index.search_ivf_index(spark, path, q, cids, k=5)


def ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X45: IVF index-health audit — the quantizer-rebuild trigger. The
    coarse quantizer is trained once and frozen (the Milvus/FAISS insert
    contract, streaming/ann_stream); as the corpus grows or drifts, cell
    occupancy skews, and a hot cell degrades every probe that touches it
    (a probe scans its cells fully — worst-case latency is max-cell
    size, not ideal-cell size). This audit reports the occupancy
    distribution under the pinned quantizer: nlist, rows, occupied
    cells, max cell, hot cells (>2x the ideal rows/cell), and the
    imbalance factor max/ideal — the number an operator alerts on to
    schedule a quantizer retrain + index rebuild.

    Scale: the same one broadcast-seeds argmin agg as ivf_knn (no probe
    leg), then two tiny aggs; imbalance is exact integer arithmetic
    ((max*nlist*10000) div rows, then /1e4) — no float summation
    anywhere, so the DuckDB twin is hash-exact at any scale."""
    from pdf_parse_vector_db_spark.operators.ivf_index import assign_cells

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = _ivf_seeds(emb)
    # occupancy is ~sqrt(N) rows but costs the full corpus argmin agg —
    # checkpoint so the two consumers below don't scan the corpus twice
    occ = (
        assign_cells(emb, seeds)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    tot = seeds.agg(F.count(F.lit(1)).alias("nlist"))
    stats = (
        occ.crossJoin(F.broadcast(tot))
        .groupBy("nlist")
        .agg(
            F.sum("c").alias("nrows"),
            F.count(F.lit(1)).alias("cells_occupied"),
            F.max("c").alias("max_cell"),
        )
    )
    hot = (
        occ.crossJoin(F.broadcast(stats.select("nlist", "nrows")))
        # c > 2*nrows/nlist without division: exact integer comparison
        .filter(F.col("c") * F.col("nlist") > 2 * F.col("nrows"))
        .agg(F.count(F.lit(1)).alias("hot_cells"))
    )
    return stats.crossJoin(F.broadcast(hot)).select(
        "nlist",
        "nrows",
        "cells_occupied",
        "max_cell",
        "hot_cells",
        # ansi: integer div on positives, nrows >= 1; products bounded by
        # N * sqrt(N) * 1e4 << int64 under the 1e7-id seed contract
        (F.expr("(max_cell * nlist * 10000) div nrows") / F.lit(1e4)).alias(
            "imbalance"
        ),
    )


IVF_CELL_BALANCE_SQL = f"""
WITH seeds AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings WHERE vec_id % {_IVF_SEED_MOD_SQL} = {_IVF_SEED_OFF}
), assign AS (
  SELECT e.vec_id,
         min(CAST(round(list_distance(CAST(e.embedding AS DOUBLE[]), s.cvec) * 1e6)
                  AS BIGINT) * {_IVF_KEY_BASE} + s.cid) % {_IVF_KEY_BASE} AS cluster_id
  FROM embeddings e CROSS JOIN seeds s
  GROUP BY e.vec_id
), occ AS MATERIALIZED (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS c FROM assign GROUP BY cluster_id
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS nlist FROM seeds
), stats AS (
  SELECT nlist, CAST(sum(c) AS BIGINT) AS nrows,
         CAST(count(*) AS BIGINT) AS cells_occupied,
         CAST(max(c) AS BIGINT) AS max_cell
  FROM occ, tot GROUP BY nlist
), hot AS (
  SELECT CAST(count(*) AS BIGINT) AS hot_cells
  FROM occ, stats WHERE c * nlist > 2 * nrows
)
SELECT nlist, nrows, cells_occupied, max_cell, hot_cells,
       (max_cell * nlist * 10000) // nrows / 1e4 AS imbalance
FROM stats, hot
"""


#: wider probe for the filtered tier — the standard vector-store rule:
#: a scalar predicate thins every probed cell, so the probe set widens
#: to keep the candidate pool at rerank size (Milvus' guidance for
#: filtered search on IVF indexes)
_IVF_FILTER_NPROBE = 8


def ivf_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN — the composition the reference actually ships:
    Milvus search with `filter="court_level == N"` evaluated INSIDE the
    store against the IVF index (extract_and_search.py:104-110,
    extract_and_search_v2.py:134-140). The engine analog: the scalar
    predicate prunes BEFORE the coarse assignment (only qualifying
    vectors are argmin-assigned or scored — Catalyst pushes the label
    filter into the parquet scan), the quantizer stays the corpus-wide
    pinned one (a filter must not retrain the index), and the probe set
    widens to `_IVF_FILTER_NPROBE` because a predicate thins every cell
    (the standard filtered-search rule). Exact rerank of the probed,
    filtered survivors; whole plan under the DuckDB value hash."""
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = _ivf_seeds(emb)
    fe = emb.filter(F.col("label") == 1)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))

    key = lambda vec, other, cid: (  # noqa: E731 — (dist-micros, cid) pack
        F.round(l2_distance(vec, other) * 1e6).cast("bigint") * _IVF_KEY_BASE + cid
    )
    probe = (
        seeds.crossJoin(F.broadcast(q))
        .select("cid", key(F.col("cvec"), F.col("qvec"), F.col("cid")).alias("k"))
        .orderBy("k")
        .limit(_IVF_FILTER_NPROBE)
        .select("cid")
    )
    assign = (
        fe.crossJoin(seeds)
        .groupBy("vec_id")
        .agg(F.min(key(F.col("embedding"), F.col("cvec"), F.col("cid"))).alias("k"))
        .select("vec_id", (F.col("k") % _IVF_KEY_BASE).alias("cluster_id"))
    )
    return (
        fe.join(assign, on="vec_id")
        .join(F.broadcast(probe), assign["cluster_id"] == probe["cid"], "left_semi")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(l2_distance(F.col("embedding"), F.col("qvec")), 6).alias("d"),
        )
        .orderBy("d", "vec_id")
        .limit(5)
        .select("vec_id", "label", F.round(F.col("d"), 4).alias("score"))
    )


IVF_FILTERED_KNN_SQL = f"""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0
), seeds AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings WHERE vec_id % {_IVF_SEED_MOD_SQL} = {_IVF_SEED_OFF}
), fe AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE label = 1
), probe AS (
  SELECT cid FROM seeds CROSS JOIN q
  ORDER BY CAST(round(list_distance(cvec, qvec) * 1e6) AS BIGINT)
             * {_IVF_KEY_BASE} + cid
  LIMIT {_IVF_FILTER_NPROBE}
), assign AS (
  SELECT fe.vec_id,
         min(CAST(round(list_distance(fe.v, s.cvec) * 1e6)
                  AS BIGINT) * {_IVF_KEY_BASE} + s.cid) % {_IVF_KEY_BASE} AS cluster_id
  FROM fe CROSS JOIN seeds s
  GROUP BY fe.vec_id
), hits AS (
  SELECT fe.vec_id, fe.label, round(list_distance(fe.v, q.qvec), 6) AS d
  FROM fe
  JOIN assign a ON fe.vec_id = a.vec_id
  CROSS JOIN q
  WHERE a.cluster_id IN (SELECT cid FROM probe)
)
SELECT vec_id, label, round(d, 4) AS score
FROM hits ORDER BY d, vec_id LIMIT 5
"""


IVF_KNN_SQL = f"""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0
), seeds AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings WHERE vec_id % {_IVF_SEED_MOD_SQL} = {_IVF_SEED_OFF}
), probe AS (
  SELECT cid FROM seeds CROSS JOIN q
  ORDER BY CAST(round(list_distance(cvec, qvec) * 1e6) AS BIGINT)
             * {_IVF_KEY_BASE} + cid
  LIMIT {_IVF_NPROBE}
), assign AS (
  SELECT e.vec_id,
         min(CAST(round(list_distance(CAST(e.embedding AS DOUBLE[]), s.cvec) * 1e6)
                  AS BIGINT) * {_IVF_KEY_BASE} + s.cid) % {_IVF_KEY_BASE} AS cluster_id
  FROM embeddings e CROSS JOIN seeds s
  GROUP BY e.vec_id
), hits AS (
  SELECT e.vec_id, e.label,
         round(list_distance(CAST(e.embedding AS DOUBLE[]), q.qvec), 6) AS d
  FROM embeddings e
  JOIN assign a ON e.vec_id = a.vec_id
  CROSS JOIN q
  WHERE a.cluster_id IN (SELECT cid FROM probe)
)
SELECT vec_id, label, round(d, 4) AS score
FROM hits ORDER BY d, vec_id LIMIT 5
"""


_PQ_CACHE: dict = {}


def _pq_index(spark: SparkSession, sf_dir: str):
    from pdf_parse_vector_db_spark.operators.ann import build_pq

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PQ_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        idx = build_pq(emb, m=8, ksub=16)
        idx.encoded = idx.encoded.cache()
        _PQ_CACHE[key] = idx
    return _PQ_CACHE[key]


#: Pinned PQ configuration: m=8 subspaces of dsub=8 dims; codebook entries
#: are the SEED rows' subvectors (every 30th vector — ~17 codes per
#: subspace at sf0.01), the same pin-the-quantizer move as ivf_knn. ADC
#: distances accumulate as exact integer micros per subspace, so the whole
#: compress → encode → ADC-rank → exact-rerank pipeline hash-matches.
_PQ_M = 8
_PQ_DSUB = 8
_PQ_SEED_MOD = 30
_PQ_SEED_OFF = 7
#: FIXED codebook size per subspace (Jégou et al. use ksub=256 regardless
#: of corpus size). Round-5 fix: the codebook was every-MODth row with NO
#: cap, so ksub grew ∝ N and encode cost grew Θ(N²) — measured 13x wall
#: for 10x data at sf1. Capping at the first KSUB seeds restores the
#: published design and linear encode; both engines cap identically.
_PQ_KSUB = 64
_PQ_FETCH = 100


def pq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN compression tier: product quantization (Jégou et al. 2011) with
    asymmetric-distance search + exact rerank — the memory-side complement
    to IVF's scan-side pruning (a dim-64 vector compresses 256 B → 8 codes;
    the ADC pass touches only codes, the rerank only `fetch` full vectors).

    Oracle-backed since round 3 on PINNED codebooks (seed-row subvectors;
    Lloyd refinement of the codebook is a quality knob priced by the
    recall contracts on the MLlib tier in tests/test_ann.py): encoding is
    a per-subspace argmin packed into a BIGINT MIN, the ADC estimate is a
    SUM of rounded-micros subspace distances (exact integers), and the
    rerank re-scores `fetch` rows exactly — every stage relational, all
    under the value hash.

    Scale shape: the codebook (m × ksub × dsub floats) broadcasts; encode
    is one groupBy(vec_id, sub) argmin over an exploded corpus — written
    ONCE at ingest in production, codes thereafter replacing vectors in
    the scan; the ADC rank is TakeOrderedAndProject over a codes-only
    scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    subs = F.array(*[F.lit(s) for s in range(_PQ_M)])
    # (vec_id, sub, slice) exploded corpus + seed codebook per subspace
    sliced = emb.select(
        "vec_id",
        F.explode(subs).alias("sub"),
        F.col("embedding").cast("array<double>").alias("v"),
    ).select(
        "vec_id",
        "sub",
        F.expr(f"slice(v, sub * {_PQ_DSUB} + 1, {_PQ_DSUB})").alias("sv"),
    )
    codebook = (
        emb.filter(
            (F.col("vec_id") % _PQ_SEED_MOD == _PQ_SEED_OFF)
            & (F.col("vec_id") < _PQ_SEED_MOD * _PQ_KSUB)
        )
        .select(
            F.col("vec_id").alias("code"),
            F.explode(subs).alias("sub"),
            F.col("embedding").cast("array<double>").alias("cv"),
        )
        .select(
            "code",
            "sub",
            F.expr(f"slice(cv, sub * {_PQ_DSUB} + 1, {_PQ_DSUB})").alias("csv"),
        )
    )
    dmic = F.round(l2_distance(F.col("sv"), F.col("csv")) * 1e6).cast("bigint")
    codes = (
        sliced.join(F.broadcast(codebook), on="sub")
        .groupBy("vec_id", "sub")
        .agg(F.min(dmic * _IVF_KEY_BASE + F.col("code")).alias("k"))
        .select("vec_id", "sub", (F.col("k") % _IVF_KEY_BASE).alias("code"))
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.explode(subs).alias("sub"),
        F.col("embedding").cast("array<double>").alias("qv"),
    ).select("sub", F.expr(f"slice(qv, sub * {_PQ_DSUB} + 1, {_PQ_DSUB})").alias("qsv"))
    # ADC lookup table: per (sub, code) the query-to-code distance in micros
    dtable = (
        codebook.join(F.broadcast(q), on="sub")
        .select(
            "sub",
            "code",
            F.round(l2_distance(F.col("csv"), F.col("qsv")) * 1e6)
            .cast("bigint")
            .alias("dmic"),
        )
    )
    adc = (
        codes.join(F.broadcast(dtable), on=["sub", "code"])
        .groupBy("vec_id")
        .agg(F.sum("dmic").alias("adc_mic"))  # ansi: <= m * max-dist micros
        .orderBy(F.asc("adc_mic"), F.asc("vec_id"))
        .limit(_PQ_FETCH)
        .select("vec_id")
    )
    qfull = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    return (
        emb.join(F.broadcast(adc), on="vec_id", how="left_semi")
        .crossJoin(F.broadcast(qfull))
        .select(
            "vec_id",
            "label",
            F.round(l2_distance(F.col("embedding"), F.col("qvec")), 6).alias("d"),
        )
        .orderBy("d", "vec_id")
        .limit(5)
        .select("vec_id", "label", F.round(F.col("d"), 4).alias("score"))
    )


def _pq_knn_sql() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), sliced AS (
  SELECT e.vec_id, s.sub, e.v[(s.sub * {_PQ_DSUB} + 1):(s.sub * {_PQ_DSUB} + {_PQ_DSUB})] AS sv
  FROM e CROSS JOIN (SELECT CAST(unnest(range({_PQ_M})) AS INT) AS sub) s
), codebook AS (
  SELECT e.vec_id AS code, s.sub,
         e.v[(s.sub * {_PQ_DSUB} + 1):(s.sub * {_PQ_DSUB} + {_PQ_DSUB})] AS csv
  FROM e CROSS JOIN (SELECT CAST(unnest(range({_PQ_M})) AS INT) AS sub) s
  WHERE e.vec_id % {_PQ_SEED_MOD} = {_PQ_SEED_OFF}
    AND e.vec_id < {_PQ_SEED_MOD * _PQ_KSUB}
), codes AS (
  SELECT vec_id, sub,
         min(CAST(round(list_distance(sv, csv) * 1e6) AS BIGINT)
               * {_IVF_KEY_BASE} + code) % {_IVF_KEY_BASE} AS code
  FROM sliced JOIN codebook USING (sub)
  GROUP BY vec_id, sub
), q AS (
  SELECT s.sub, e.v[(s.sub * {_PQ_DSUB} + 1):(s.sub * {_PQ_DSUB} + {_PQ_DSUB})] AS qsv
  FROM e CROSS JOIN (SELECT CAST(unnest(range({_PQ_M})) AS INT) AS sub) s
  WHERE e.vec_id = 0
), dtable AS (
  SELECT c.sub, c.code,
         CAST(round(list_distance(c.csv, q.qsv) * 1e6) AS BIGINT) AS dmic
  FROM codebook c JOIN q ON c.sub = q.sub
), adc AS (
  SELECT vec_id FROM (
    SELECT codes.vec_id, CAST(sum(dmic) AS BIGINT) AS adc_mic
    FROM codes JOIN dtable ON codes.sub = dtable.sub AND codes.code = dtable.code
    GROUP BY codes.vec_id
  ) ORDER BY adc_mic ASC, vec_id ASC LIMIT {_PQ_FETCH}
), qfull AS (
  SELECT v AS qvec FROM e WHERE vec_id = 0
)
SELECT vec_id, label, round(d, 4) AS score
FROM (
  SELECT emb.vec_id, emb.label,
         round(list_distance(CAST(emb.embedding AS DOUBLE[]), qfull.qvec), 6) AS d
  FROM embeddings emb CROSS JOIN qfull
  WHERE emb.vec_id IN (SELECT vec_id FROM adc)
)
ORDER BY d, vec_id LIMIT 5
"""


PQ_KNN_SQL = _pq_knn_sql()


_LSH_CACHE: dict = {}


def _lsh(spark: SparkSession, sf_dir: str):
    from pdf_parse_vector_db_spark.operators.ann import lsh_model

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _LSH_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        model, indexed = lsh_model(emb, bucket_length=2.0, num_tables=4)
        _LSH_CACHE[key] = (model, indexed.cache())
    return _LSH_CACHE[key]


def lsh_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-tier ANN via public MLlib BucketedRandomProjectionLSH
    (Euclidean — the reference's L2 metric, extract_and_embed.py:53):
    approxNearestNeighbors top-5 for the vec_id=0 query. Rows-only (random
    hyperplane family is seeded but engine-specific); recall vs the exact
    tier asserted in tests/test_ann.py. Index fit + cache once per
    (app, sf_dir), mirroring the reference's build-at-create lifecycle."""
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select(
        array_to_vector(F.col("embedding")).alias("v")
    ).collect()[0].v
    model, indexed = _lsh(spark, sf_dir)
    hits = model.approxNearestNeighbors(indexed, qvec, 5, distCol="dist")
    return hits.select("vec_id", "label", F.round(F.col("dist"), 4).alias("score"))



# ---------------------------------------------------------------------------
# Portable E2LSH tier: random-projection LSH (Datar et al. 2004) with
# PINNED projection planes — md5-derived constants baked as literals into
# BOTH engines' plans, the random-projection twin of minhash_portable /
# simhash_portable. The MLlib BucketedRandomProjectionLSH tier (lsh_knn)
# keeps its recall contracts; this tier puts the bucket math itself under
# the value hash. The dot products are generated as explicit left-
# associated 64-term sums so both engines execute the identical float
# operation sequence, then quantize to micros before the integer bucket
# division (floor-consistent via a positive shift — Spark's `div`
# truncates toward zero, DuckDB's `//` floors; shifting positive makes
# them agree).
# ---------------------------------------------------------------------------

_E2LSH_TABLES = 4
_E2LSH_W_MIC = 250_000  # bucket width w = 0.25 in micros
_E2LSH_SHIFT = 100_000_000  # positivity shift (|dot| << 100)


def _e2lsh_plane(t: int, dim: int = 64) -> list[float]:
    import hashlib

    return [
        (hashlib.md5(f"{t}:{j}".encode()).digest()[0] - 127.5) / 128.0
        for j in range(dim)
    ]


def _e2lsh_offset_mic(t: int) -> int:
    import hashlib

    return round(hashlib.md5(f"b:{t}".encode()).digest()[0] / 256.0 * _E2LSH_W_MIC)


def lsh_portable_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable E2LSH top-5 for the vec_id=0 query: candidates share the
    query's bucket in ANY of 4 pinned-projection tables (~36% of the
    fixture corpus at w=0.25 — random uniform vectors are LSH-adversarial;
    clustered real corpora prune far harder), exact rounded-L2 rerank.
    Every stage — projections, bucket ids, candidate union, rerank — is
    under the oracle hash.

    DIM-ADAPTIVE since round 6 (the reference is dim 1536): planes are
    generated at the corpus's runtime dimensionality and shipped as a
    broadcast 1-row DataFrame instead of codegen literals — at dim 1536 a
    literal array is 1536 expression children per plane × 8 dot sites,
    exactly the 64 KB-method codegen cliff the round-4 fix crawled out
    of; as data, plane width costs bytes, not generated code. The oracle
    twin computes the SAME md5-derived planes in SQL from the corpus
    width, so one static SQL string is correct at any dim."""
    from pdf_parse_vector_db_spark.functions.vector import dot_product

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    planes = spark.createDataFrame(
        [tuple(_e2lsh_plane(t, dim) for t in range(_E2LSH_TABLES))],
        ", ".join(f"__p{t} array<double>" for t in range(_E2LSH_TABLES)),
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    v = F.col("embedding").cast("array<double>")
    qv = F.col("qvec").cast("array<double>")

    def bucket(col, t):
        return (
            F.round(dot_product(col, F.col(f"__p{t}")) * 1e6).cast("bigint")
            + F.lit(_e2lsh_offset_mic(t) + _E2LSH_SHIFT)
        ).cast("bigint")

    cand_cond = None
    for t in range(_E2LSH_TABLES):
        eq = F.expr(f"__b{t} div {_E2LSH_W_MIC}") == F.expr(
            f"__qb{t} div {_E2LSH_W_MIC}"
        )
        cand_cond = eq if cand_cond is None else (cand_cond | eq)
    staged = emb.crossJoin(F.broadcast(q)).crossJoin(F.broadcast(planes))
    for t in range(_E2LSH_TABLES):
        staged = staged.withColumn(f"__b{t}", bucket(v, t)).withColumn(
            f"__qb{t}", bucket(qv, t)
        )
    return (
        staged.filter(cand_cond)
        .select(
            "vec_id",
            "label",
            F.round(l2_distance(v, qv), 6).alias("d"),
        )
        .orderBy("d", "vec_id")
        .limit(5)
        .select("vec_id", "label", F.round(F.col("d"), 4).alias("score"))
    )


def _e2lsh_sql() -> str:
    """Dim-agnostic twin (round 6): the planes are recomputed IN SQL from
    the corpus's own width (generate_subscripts of the query row) with the
    identical md5-byte formula, so this one static string is correct at
    dim 64 and dim 1536 alike; list_dot_product's sequential fold matches
    the Spark aggregate fold (hash-verified at both dims). Offsets are
    dim-independent Python literals (Python round() is banker's — keep it
    on one side only)."""

    def bucket_sql(col, t):
        off = _e2lsh_offset_mic(t) + _E2LSH_SHIFT
        return (
            f"(CAST(round(list_dot_product({col}, "
            f"(SELECT p FROM planes WHERE t = {t})) * 1e6) AS BIGINT) + {off})"
            f" // {_E2LSH_W_MIC}"
        )

    conds = " OR ".join(
        f"({bucket_sql('e.v', t)}) = ({bucket_sql('q.qv', t)})"
        for t in range(_E2LSH_TABLES)
    )
    return f"""
WITH jdx AS (
  SELECT generate_subscripts(embedding, 1) AS j
  FROM (SELECT embedding FROM embeddings WHERE vec_id = 0)
), planes AS (
  SELECT r.t,
         list(((('0x' || substr(md5(r.t || ':' || (j.j - 1)), 1, 2))::INT
                - 127.5) / 128.0) ORDER BY j.j) AS p
  FROM range(0, {_E2LSH_TABLES}) r(t), jdx j
  GROUP BY r.t
), e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
), cand AS (
  SELECT e.vec_id, e.label,
         round(list_distance(e.v, q.qv), 6) AS d
  FROM e CROSS JOIN q
  WHERE {conds}
)
SELECT vec_id, label, round(d, 4) AS score
FROM cand ORDER BY d, vec_id LIMIT 5
"""


LSH_PORTABLE_KNN_SQL = _e2lsh_sql()


def lsh_sim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.3 J1 second branch: the general N×M similarity join via
    public MLlib BucketedRandomProjectionLSH.approxSimilarityJoin
    (Euclidean — the reference's L2 metric, extract_and_embed.py:53) —
    every 20th vector as the query side vs the whole corpus, pairs within
    L2 ≤ 1.25. The LSH bucket-join bounds pair cost to Σ bucket² instead
    of N×M, which is the 100 TB plan. Rows-only (the random-hyperplane
    family is engine-specific); recall vs the exact distance join is
    asserted in tests/test_ann.py."""
    model, indexed = _lsh(spark, sf_dir)
    queries = indexed.filter(F.col("vec_id") % 20 == 0)
    pairs = model.approxSimilarityJoin(queries, indexed, 1.25, distCol="dist")
    return (
        pairs.filter(F.col("datasetA.vec_id") != F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("q_id"),
            F.col("datasetB.vec_id").alias("c_id"),
            F.round("dist", 4).alias("dist"),
        )
        .orderBy("q_id", "c_id")
    )


def ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-measuring ANN quality: recall@10 of the IVF tier (nprobe=4
    cells) against the exact tier, for a panel of probe queries — the
    metric that prices the reference's nprobe/nlist trade (IVF_FLAT,
    extract_and_embed.py:53-54).

    Oracle-backed since round 3: on the PINNED quantizer (same seeds as
    ivf_knn) every stage — probe ranking, assignment, both top-10 cuts,
    the recall semi-join — is relational algebra, so the whole recall
    study sits under the value hash, and the round-2 driver-side numpy
    centroid loop is gone (probe ranking is now a nlist-row window per
    query — fully distributed). The MLlib k-means quantizer keeps its
    recall contracts in tests/test_ann.py."""
    k = 10
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = _ivf_seeds(emb)
    qpanel = emb.filter(F.col("vec_id") % 400 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    key = lambda vec, other, cid: (  # noqa: E731 — (dist-micros, cid) pack
        F.round(l2_distance(vec, other) * 1e6).cast("bigint") * _IVF_KEY_BASE + cid
    )
    pw = Window.partitionBy("q_id").orderBy("pk")
    probes = (
        qpanel.crossJoin(seeds)
        .select("q_id", "cid", key(F.col("cvec"), F.col("q_vec"), F.col("cid")).alias("pk"))
        .withColumn("pr", F.row_number().over(pw))
        .filter(F.col("pr") <= _IVF_NPROBE)
        .select("q_id", F.col("cid").alias("cluster_id"))
    )
    assign = (
        emb.crossJoin(seeds)
        .groupBy("vec_id")
        .agg(F.min(key(F.col("embedding"), F.col("cvec"), F.col("cid"))).alias("ak"))
        .select("vec_id", (F.col("ak") % _IVF_KEY_BASE).alias("cluster_id"))
    )
    d6 = F.round(l2_distance(F.col("q_vec"), F.col("embedding")), 6)
    w = Window.partitionBy("q_id").orderBy(F.col("d").asc(), F.col("vec_id").asc())

    def topk(candidates):
        return (
            candidates.withColumn("d", d6)
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("q_id", "vec_id")
        )

    exact = topk(emb.crossJoin(F.broadcast(qpanel)))
    approx = topk(
        emb.join(assign, on="vec_id")
        .join(F.broadcast(probes), on="cluster_id")
        .join(F.broadcast(qpanel), on="q_id")
    )
    hits = exact.join(approx, on=["q_id", "vec_id"], how="left_semi")
    per_q = hits.groupBy("q_id").agg(
        (F.count(F.lit(1)) / F.lit(float(k))).alias("r")
    )
    # zero-recall queries must still report (left join from the panel)
    return (
        qpanel.select("q_id")
        .join(per_q, on="q_id", how="left")
        .select(
            F.col("q_id").alias("query_id"),
            F.coalesce(F.col("r"), F.lit(0.0)).alias("recall_at_10"),
        )
        .orderBy("query_id")
    )


ANN_RECALL_SQL = f"""
WITH seeds AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings WHERE vec_id % {_IVF_SEED_MOD_SQL} = {_IVF_SEED_OFF}
), q AS (
  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
  FROM embeddings WHERE vec_id % 400 = 0
), probe AS (
  SELECT q_id, cid AS cluster_id FROM (
    SELECT q.q_id, s.cid,
           row_number() OVER (
             PARTITION BY q.q_id
             ORDER BY CAST(round(list_distance(s.cvec, q.q_vec) * 1e6) AS BIGINT)
                        * {_IVF_KEY_BASE} + s.cid
           ) AS pr
    FROM q CROSS JOIN seeds s
  ) WHERE pr <= {_IVF_NPROBE}
), assign AS (
  SELECT e.vec_id,
         min(CAST(round(list_distance(CAST(e.embedding AS DOUBLE[]), s.cvec) * 1e6)
                  AS BIGINT) * {_IVF_KEY_BASE} + s.cid) % {_IVF_KEY_BASE} AS cluster_id
  FROM embeddings e CROSS JOIN seeds s
  GROUP BY e.vec_id
), e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), exact AS (
  SELECT q_id, vec_id FROM (
    SELECT q.q_id, e.vec_id,
           row_number() OVER (
             PARTITION BY q.q_id
             ORDER BY round(list_distance(e.v, q.q_vec), 6), e.vec_id
           ) AS rnk
    FROM e CROSS JOIN q
  ) WHERE rnk <= 10
), approx AS (
  SELECT q_id, vec_id FROM (
    SELECT p.q_id, e.vec_id,
           row_number() OVER (
             PARTITION BY p.q_id
             ORDER BY round(list_distance(e.v, q.q_vec), 6), e.vec_id
           ) AS rnk
    FROM e
    JOIN assign a ON e.vec_id = a.vec_id
    JOIN probe p ON a.cluster_id = p.cluster_id
    JOIN q ON q.q_id = p.q_id
  ) WHERE rnk <= 10
), per_q AS (
  SELECT x.q_id, CAST(count(*) AS DOUBLE) / 10 AS r
  FROM exact x JOIN approx a ON x.q_id = a.q_id AND x.vec_id = a.vec_id
  GROUP BY x.q_id
)
SELECT q.q_id AS query_id, coalesce(per_q.r, 0.0) AS recall_at_10
FROM q LEFT JOIN per_q ON q.q_id = per_q.q_id
ORDER BY query_id
"""



# ---------------------------------------------------------------------------
# X31: power-iteration top principal component — iterative linear algebra
# under the oracle hash. embedding_pca_variance (above) gets the full
# spectrum from numpy eigvalsh over distributed sufficient statistics
# (rows-only: eigendecomposition isn't portable); this twin runs the
# classic power method (von Mises 1929, public) in EXACT fixed-point —
# scaled-integer covariance, integer matvecs, integer max-normalization —
# so three iterations produce bit-identical vectors on both engines and
# the whole iterative tier sits under the value hash.
# ---------------------------------------------------------------------------

_PI_ROUNDS = 3
_PI_SCALE = 1_000_000_000  # iterate in nanos


def _pi_core(emb: DataFrame):
    """Shared exact-fixed-point power-iteration pipeline (see
    power_iteration_top_pc for the full derivation): returns the scaled
    integer covariance C* (dim²-row, localCheckpointed — loop-invariant),
    the 1-row corpus count, and the final nanos-integer iterate v after
    `_PI_ROUNDS` rounds. Both `power_iteration_top_pc` and
    `embedding_pca_variance` consume it; their SQL twins share the same
    `_PI_SQL_PREFIX` so all four stay bit-identical."""
    # Narrow explode + self-join on vec_id (round-6 dim-1536 fix): the old
    # shape carried the FULL vector array through the first explode —
    # n·dim rows × a dim-double payload is ~1 GB at dim 1536 before the
    # second explode even starts (GC-thrashed the 8 GB driver). The join
    # streams the same n·dim² integer pairs through a hash join of two
    # n·dim NARROW relations instead; values (hence hashes) are identical.
    ex = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("j", "xj"),
    ).select("vec_id", "j", F.round(F.col("xj") * 1e6).cast("bigint").alias("mj"))
    pairs = ex.join(
        ex.select("vec_id", F.col("j").alias("k"), F.col("mj").alias("mk")),
        on="vec_id",
    ).select("j", "k", "mj", "mk")
    stats = pairs.groupBy("j", "k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("mj").alias("sj"),
        F.sum("mk").alias("sk"),
        F.sum(
            (F.col("mj").cast("decimal(19,0)") * F.col("mk")).cast("decimal(38,0)")
        ).alias("sjk"),
    )
    c = stats.select(
        "j",
        "k",
        (
            F.col("n").cast("decimal(38,0)") * F.col("sjk")
            - F.col("sj").cast("decimal(19,0)") * F.col("sk")
        ).cast("decimal(38,0)").alias("cjk"),
        F.col("n"),
    ).localCheckpoint()  # loop-invariant dim^2-row relation
    n_rows = c.filter((F.col("j") == 0) & (F.col("k") == 0)).select("n")

    v = c.select(F.col("k")).distinct().select(
        "k", F.when(F.col("k") == 0, F.lit(_PI_SCALE)).otherwise(F.lit(0)).cast("decimal(38,0)").alias("vk")
    )
    for _ in range(_PI_ROUNDS):
        w = (
            c.join(F.broadcast(v), on="k")
            .groupBy("j")
            .agg(F.sum((F.col("cjk") * F.col("vk")).cast("decimal(38,0)")).alias("wj"))
            # LAZY lineage cut on the dim-row iterate (optimization guide
            # §7.3 "very large plans"): w feeds BOTH the max-abs aggregate
            # and the normalize projection, so without a cut the logical
            # plan DOUBLES every round — 2^_PI_ROUNDS copies of the
            # c-join chain (measured: 414 Exchange nodes in
            # power_iteration_top_pc's physical plan; Catalyst spent the
            # bulk of the query's 2.8 s planning, not executing). The cut
            # makes both consumers share one RDD; dim rows, so the
            # materialization is trivially small at any corpus scale.
            .localCheckpoint(eager=False)
        )
        mx = w.agg(F.max(F.abs(F.col("wj"))).alias("mx"))
        # normalize through the DOUBLE ratio wj/mx (both exact integers ->
        # identical doubles on both engines), never wj*1e9 as an integer —
        # that product crosses decimal(38)/HUGEINT once |w| ~ 1e29 (sf0.1)
        v = (
            w.crossJoin(F.broadcast(mx))
            .select(
                F.col("j").alias("k"),
                # mx = max |w| > 0 — C* is a Gram-minus-mean matrix of a
                # non-degenerate corpus and v has a nonzero component
                F.round(
                    # ansi: mx > 0, see above
                    F.col("wj").cast("double") / F.col("mx").cast("double") * _PI_SCALE,
                    0,
                )
                .cast("decimal(38,0)")
                .alias("vk"),
            )
            # same dim-row lazy cut: v is consumed by next round's join
            # AND (after the loop) by 2-3 projections in each caller
            .localCheckpoint(eager=False)
        )
    return c, n_rows, v


def power_iteration_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-PC power iteration over the embedding covariance, exact-integer.

    C is kept SCALED: C*_jk = n·Σx_j x_k − Σx_j·Σx_k in integer micros²
    (decimal(38,0) — positive scalar factors don't move eigenvectors).
    v₀ = e₀·1e9; each round v ← round(C*·v · 1e9 / max|C*·v|) — integer
    matvec, integer division — so every intermediate is an exact integer
    both engines agree on. Output: the Rayleigh quotient of the final
    vector against C*/(n²·1e12) (the true covariance's eigenvalue
    estimate, double, 6 dp) plus the top-5 |component| dims.

    Scale shape: the Gram stage is the only corpus-sized work — a
    posexplode pair expansion partial-aggregating into dim² keys (at
    100 TB swap in the mapPartitions Gram accumulation of operators/
    pca.py; same 4096-key exchange either way). The three matvecs run on
    the dim²-row C table: joins against a dim-row broadcast vector."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    c, n_rows, v = _pi_core(emb)
    # Rayleigh quotient over a MICROS copy of v (vk div 1000): the nanos
    # triple product vj*cjk*vk would brush decimal(38)'s ceiling; with
    # micros the sum is bounded by dim^2 * 1e6*|C*|max*1e6 (~1e36 below
    # n ~ 1e5 embeddings — past that, downscale once more). The v-scale
    # cancels in the quotient.
    # nanos -> micros through double round (exact: |vk| <= 1e9 < 2^53);
    # both engines round half away from zero
    vq = v.select(
        "k",
        F.round(F.col("vk").cast("double") / 1000.0, 0)
        .cast("decimal(19,0)")
        .alias("vk"),
    )
    num = (
        c.join(F.broadcast(vq), on="k")
        .join(
            F.broadcast(vq.select(F.col("k").alias("j"), F.col("vk").alias("vj"))),
            on="j",
        )
        .agg(
            F.sum(
                (F.col("vj") * F.col("cjk") * F.col("vk")).cast("decimal(38,0)")
            ).alias("vCv")
        )
    )
    den = vq.agg(F.sum((F.col("vk") * F.col("vk")).cast("decimal(38,0)")).alias("vv"))
    topdims = (
        v.orderBy(F.abs(F.col("vk")).desc(), F.col("k").asc())  # nanos v: full precision
        .limit(5)
        .agg(F.sort_array(F.collect_list(F.col("k").cast("int"))).alias("top_dims"))
    )
    return (
        num.crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(n_rows))
        .crossJoin(F.broadcast(topdims))
        .select(
            F.round(
                F.col("vCv").cast("double")
                # ansi: vv = sum of squared micros of a max-normalized vector > 0
                / F.col("vv").cast("double")
                # ansi: n = corpus count >= 1; literal 1e12
                / (F.col("n").cast("double") * F.col("n") * 1e12),
                6,
            ).alias("top_eigenvalue"),
            "top_dims",
        )
    )


# Shared WITH-prefix for the two power-iteration twins (exact fixed-point:
# every CTE below is integer-exact, so both finals sit under the value hash).
_PI_SQL_PREFIX = f"""
WITH ex AS (
  -- narrow explode + self-join on vec_id: same n·dim² integer pairs as
  -- the old double-unnest, without a dim-double list payload per row
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS j,
         CAST(round(unnest(CAST(embedding AS DOUBLE[])) * 1e6) AS BIGINT) AS mj
  FROM embeddings
), pairs AS (
  SELECT a.j, a.mj, b.j AS k, b.mj AS mk
  FROM ex a JOIN ex b USING (vec_id)
), stats AS MATERIALIZED (
  SELECT j, k, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(mj) AS BIGINT) AS sj, CAST(sum(mk) AS BIGINT) AS sk,
         CAST(sum(CAST(mj AS HUGEINT) * mk) AS HUGEINT) AS sjk
  FROM pairs GROUP BY j, k
), c AS MATERIALIZED (
  -- MATERIALIZED (round-6 dim-1536 fix): c is referenced by every
  -- iteration round plus num/nr/tr; inlining re-evaluates the n·dim²
  -- Gram once per reference — exponentially through the vN scalar
  -- subqueries (13.7 s/eval at dim 1536 -> minutes). Same for each wN.
  SELECT j, k, CAST(n AS HUGEINT) * sjk - CAST(sj AS HUGEINT) * sk AS cjk, n
  FROM stats
), v0 AS (
  SELECT DISTINCT k,
         CAST(CASE WHEN k = 0 THEN {_PI_SCALE} ELSE 0 END AS HUGEINT) AS vk
  FROM c
),
w1 AS MATERIALIZED (SELECT c.j, sum(cjk * vk) AS wj FROM c JOIN v0 ON c.k = v0.k GROUP BY c.j),
v1 AS (SELECT j AS k, CAST(round(CAST(wj AS DOUBLE) / (SELECT CAST(max(abs(wj)) AS DOUBLE) FROM w1) * {_PI_SCALE}) AS HUGEINT) AS vk FROM w1),
w2 AS MATERIALIZED (SELECT c.j, sum(cjk * vk) AS wj FROM c JOIN v1 ON c.k = v1.k GROUP BY c.j),
v2 AS (SELECT j AS k, CAST(round(CAST(wj AS DOUBLE) / (SELECT CAST(max(abs(wj)) AS DOUBLE) FROM w2) * {_PI_SCALE}) AS HUGEINT) AS vk FROM w2),
w3 AS MATERIALIZED (SELECT c.j, sum(cjk * vk) AS wj FROM c JOIN v2 ON c.k = v2.k GROUP BY c.j),
v3 AS (SELECT j AS k, CAST(round(CAST(wj AS DOUBLE) / (SELECT CAST(max(abs(wj)) AS DOUBLE) FROM w3) * {_PI_SCALE}) AS HUGEINT) AS vk FROM w3),
vq AS MATERIALIZED (SELECT k, CAST(round(CAST(vk AS DOUBLE) / 1000) AS HUGEINT) AS vk FROM v3),
num AS (
  SELECT sum(vj.vk * c.cjk * vk.vk) AS vCv
  FROM c JOIN vq vk ON c.k = vk.k JOIN vq vj ON c.j = vj.k
),
den AS (SELECT sum(vk * vk) AS vv FROM vq),
nr AS (SELECT n FROM c WHERE j = 0 AND k = 0)"""

POWER_ITERATION_TOP_PC_SQL = _PI_SQL_PREFIX + """,
td AS (
  SELECT list_sort(list(CAST(k AS INT))) AS top_dims
  FROM (SELECT k FROM v3 ORDER BY abs(vk) DESC, k ASC LIMIT 5)
)
SELECT round(CAST(vCv AS DOUBLE) / CAST(vv AS DOUBLE)
             / (CAST(nr.n AS DOUBLE) * nr.n * 1e12), 6) AS top_eigenvalue,
       top_dims
FROM num CROSS JOIN den CROSS JOIN nr CROSS JOIN td
"""

EMBEDDING_PCA_VARIANCE_SQL = _PI_SQL_PREFIX + """,
tr AS (SELECT CAST(sum(cjk) AS HUGEINT) AS tr FROM c WHERE j = k)
SELECT CAST(1 AS INT) AS component,
       round(CAST(vCv AS DOUBLE) / CAST(vv AS DOUBLE)
             / (CAST(nr.n AS DOUBLE) * nr.n * 1e12), 6) AS eigenvalue,
       round(CAST(tr AS DOUBLE)
             / (CAST(nr.n AS DOUBLE) * nr.n * 1e12), 6) AS total_variance,
       round(CAST(vCv AS DOUBLE) / CAST(vv AS DOUBLE)
             / CAST(tr AS DOUBLE), 6) AS explained_share
FROM num CROSS JOIN den CROSS JOIN nr CROSS JOIN tr
"""


def dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/X2: resolve exact-Jaccard near-dup PAIRS into CLUSTERS via
    connected components (operators/components.py, Pregel-style min-label
    propagation) — the pair→cluster step a dedup pipeline needs before it
    can pick one keeper per group. Deterministic fixpoint, so the oracle
    cross-checks it with a recursive-CTE transitive closure."""
    from pdf_parse_vector_db_spark.operators.components import connected_components

    docs = load_table(spark, sf_dir, "documents", spread=True)
    pairs = dedup.ngram_jaccard_pairs(docs, bucket=F.col("n_chars"), n=3, threshold=0.1)
    return connected_components(pairs).orderBy("doc_id")


DUP_COMPONENTS_SQL = f"""
WITH RECURSIVE base AS (
  SELECT doc_id AS id, n_chars AS bucket, {shingles_sql('text')} AS sh
  FROM documents
),
p AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM base a JOIN base b ON a.bucket = b.bucket AND a.id < b.id
  WHERE round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
             THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.sh, b.sh)))
             ELSE 0.0 END, 6) >= 0.1
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION
  SELECT id_b, id_a FROM p
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, least(src, min(dst)) AS component_id
FROM reach GROUP BY src ORDER BY doc_id
"""


def dup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/X2 deep-graph tier: the SAME pair→cluster contract as
    dup_components, computed by large-star/small-star contraction
    (operators/components.connected_components_star) — O(log² n) rounds on
    any topology vs diameter rounds for min-label propagation. Shares the
    recursive-CTE oracle, so both algorithms are cross-checked against
    the same transitive closure."""
    from pdf_parse_vector_db_spark.operators.components import (
        connected_components_star,
    )

    docs = load_table(spark, sf_dir, "documents", spread=True)
    pairs = dedup.ngram_jaccard_pairs(docs, bucket=F.col("n_chars"), n=3, threshold=0.1)
    return connected_components_star(pairs).orderBy("doc_id")


def dedup_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/X2 end-of-pipeline: for every near-dup cluster pick the survivor
    (keep-longest heuristic: max whitespace-token count, doc_id tie-break)
    and account for what gets dropped — the decision table a 100 TB dedup
    job writes before the delete pass. Composition: dup_components ⋈ per-doc
    token counts → one windowed rank per component."""
    from pdf_parse_vector_db_spark.operators.components import connected_components

    docs = load_table(spark, sf_dir, "documents", spread=True)
    pairs = dedup.ngram_jaccard_pairs(docs, bucket=F.col("n_chars"), n=3, threshold=0.1)
    comp = connected_components(pairs)
    toks = docs.select(
        "doc_id",
        F.expr("size(split(trim(text), '\\\\s+'))").cast("bigint").alias("n_tokens"),
    )
    ranked = comp.join(toks, on="doc_id").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("component_id").orderBy(
                F.desc("n_tokens"), F.asc("doc_id")
            )
        ),
    )
    return (
        ranked.groupBy("component_id")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("keep_doc_id"),
            (F.count(F.lit(1)) - 1).alias("n_dropped"),
        )
        .orderBy("component_id")
    )


DEDUP_KEEPERS_SQL = f"""
WITH RECURSIVE base AS (
  SELECT doc_id AS id, n_chars AS bucket, {shingles_sql('text')} AS sh
  FROM documents
),
p AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM base a JOIN base b ON a.bucket = b.bucket AND a.id < b.id
  WHERE round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
             THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.sh, b.sh)))
             ELSE 0.0 END, 6) >= 0.1
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION
  SELECT id_b, id_a FROM p
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (
  SELECT src AS doc_id, least(src, min(dst)) AS component_id
  FROM reach GROUP BY src
),
ranked AS (
  SELECT c.component_id, c.doc_id,
         row_number() OVER (PARTITION BY c.component_id
                            ORDER BY len(string_split_regex(trim(d.text), '\\s+')) DESC,
                                     c.doc_id) AS rn
  FROM comp c JOIN documents d ON c.doc_id = d.doc_id
)
SELECT component_id,
       min(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc_id,
       count(*) - 1 AS n_dropped
FROM ranked
GROUP BY component_id
ORDER BY component_id
"""


#: (bands, rows) grid over the same 32-hash signature — the S-curve knob.
_TUNE_CONFIGS = ((16, 2), (8, 4), (4, 8), (2, 16))


def lsh_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 operations tier: EMPIRICAL banding tuner — before committing a
    100 TB dedup run to one (bands, rows) choice, measure each config's
    candidate volume, precision, and relative recall on a sample. All four
    configs share ONE 32-hash portable MinHash signature (the
    Kirsch-Mitzenmacher md5 family of minhash_portable_dups); only the
    banding differs, which is exactly the knob the S-curve
    P(candidate) = 1-(1-j^rows)^bands moves. Recall is RELATIVE to the
    pooled true pairs across all configs — at production scale absolute
    ground truth is unaffordable, and pooling is the standard IR device.

    Scale shape: one signature exchange (per-doc 32 BIGINT minima), the
    30 band keys explode map-side from that one row, candidates come from
    the per-(config, band, key) equi-join, and exact verification touches
    only the POOLED candidate set (each distinct pair verified once, then
    joined back per config)."""
    rows_total = 32
    docs = load_table(spark, sf_dir, "documents", spread=True)
    sh = docs.select(
        "doc_id", shingles_expr("text", 3).alias("sh")
    )
    lanes = (
        docs.select("doc_id", F.explode(shingles_expr("text", 3)).alias("__s"))
        .select("doc_id", F.md5(F.col("__s")).alias("__b"))
        .select(
            "doc_id",
            F.expr("CAST(conv(substring(__b, 1, 8), 16, 10) AS BIGINT)").alias("__h1"),
            F.expr("CAST(conv(substring(__b, 9, 8), 16, 10) AS BIGINT)").alias("__h2"),
        )
    )
    mins = [
        F.min(
            (F.col("__h1") + F.lit(i) * F.col("__h2")) % F.lit(dedup._MH_PRIME)
        ).alias(f"h{i}")
        for i in range(rows_total)
    ]
    # LAZY lineage cut (guide §7.3): the 32-min signature table is the
    # shared input of all four banding configs' key builds (stacked →
    # left + right legs of the candidate self-join), and `sh`'s shingle
    # arrays feed both verify legs — uncut, the md5-shingle scan re-ran
    # per reference (measured 58 Exchange nodes). The signature relation
    # (doc_id + 32 BIGINTs) is exactly what a production LSH tier stores.
    sig = lanes.groupBy("doc_id").agg(*mins).localCheckpoint(eager=False)
    sh = sh.localCheckpoint(eager=False)
    band_structs = []
    for bands, rows in _TUNE_CONFIGS:
        cfg = f"{bands}x{rows}"
        for b in range(bands):
            key = F.md5(
                F.concat_ws("_", *[F.col(f"h{b * rows + r}") for r in range(rows)])
            )
            band_structs.append(
                F.struct(
                    F.lit(cfg).alias("config"),
                    F.lit(b).alias("band_idx"),
                    key.alias("key"),
                )
            )
    stacked = sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("s")
    ).select(
        "doc_id",
        F.col("s.config").alias("config"),
        F.col("s.band_idx").alias("band_idx"),
        F.col("s.key").alias("key"),
    )
    left = stacked.select(
        F.col("doc_id").alias("id_a"), "config", "band_idx", "key"
    )
    right = stacked.select(
        F.col("doc_id").alias("id_b"), "config", "band_idx", "key"
    )
    cands = (
        left.join(right, on=["config", "band_idx", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("config", "id_a", "id_b")
        .distinct()
        .localCheckpoint(eager=False)  # pair-table; feeds pool AND per_cfg
    )
    pool = cands.select("id_a", "id_b").distinct()
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b_ = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    verified = (
        pool.join(a, on="id_a")
        .join(b_, on="id_b")
        .select(
            "id_a",
            "id_b",
            F.round(dedup.jaccard_expr(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .localCheckpoint(eager=False)  # verified pairs; feeds truth_total AND per_cfg
    )
    truth_total = verified.filter(F.col("jaccard") >= 0.1).agg(
        F.count(F.lit(1)).cast("long").alias("pooled_true")
    )
    per_cfg = (
        cands.join(verified, on=["id_a", "id_b"])
        .groupBy("config")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum((F.col("jaccard") >= 0.1).cast("long")).cast("long").alias("n_true"),
        )
    )
    return (
        per_cfg.crossJoin(F.broadcast(truth_total))
        .select(
            "config",
            "n_candidates",
            "n_true",
            # ansi: a config can have zero candidates; NULL precision then
            F.round(F.try_divide(F.col("n_true"), F.col("n_candidates")), 6).alias(
                "precision"
            ),
            "pooled_true",
            # ansi: pooled_true can be zero on a dup-free corpus; NULL recall
            F.round(F.try_divide(F.col("n_true"), F.col("pooled_true")), 6).alias(
                "relative_recall"
            ),
        )
        .orderBy("config")
    )


def _lsh_band_tuning_sql() -> str:
    mins = dedup.mh_min_cols_sql(32)
    selects = []
    for bands, rows in _TUNE_CONFIGS:
        cfg = f"{bands}x{rows}"
        for b in range(bands):
            key = "md5(concat_ws('_', " + ", ".join(
                f"h{b * rows + r}" for r in range(rows)
            ) + "))"
            selects.append(
                f"  SELECT id, '{cfg}' AS config, {b} AS band_idx, {key} AS key FROM sig"
            )
    stacked = "\n  UNION ALL\n".join(selects)
    return f"""
WITH base AS (
  SELECT doc_id AS id, {shingles_sql('text')} AS sh FROM documents
),
shx AS (
  SELECT id, md5(unnest(sh)) AS b FROM base
),
lanes AS (
  {dedup.mh_lanes_sql('shx')}
),
sig AS (
  SELECT id,
         {mins}
  FROM lanes GROUP BY id
),
stacked AS (
{stacked}
),
cands AS (
  SELECT DISTINCT l.config, l.id AS id_a, r.id AS id_b
  FROM stacked l
  JOIN stacked r ON l.config = r.config AND l.band_idx = r.band_idx AND l.key = r.key
  WHERE l.id < r.id
),
pool AS (SELECT DISTINCT id_a, id_b FROM cands),
verified AS (
  SELECT p.id_a, p.id_b,
         round(
           CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
                THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.sh, b.sh)))
                ELSE 0.0 END, 6) AS jaccard
  FROM pool p JOIN base a ON p.id_a = a.id JOIN base b ON p.id_b = b.id
),
truth AS (
  SELECT CAST(count(*) AS BIGINT) AS pooled_true FROM verified WHERE jaccard >= 0.1
)
SELECT c.config,
       CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(sum(CASE WHEN v.jaccard >= 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       round(CAST(sum(CASE WHEN v.jaccard >= 0.1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS precision,
       max(t.pooled_true) AS pooled_true,
       round(CAST(sum(CASE WHEN v.jaccard >= 0.1 THEN 1 ELSE 0 END) AS DOUBLE)
             / max(t.pooled_true), 6) AS relative_recall
FROM cands c
JOIN verified v ON c.id_a = v.id_a AND c.id_b = v.id_b
CROSS JOIN truth t
GROUP BY c.config
ORDER BY c.config
"""


LSH_BAND_TUNING_SQL = _lsh_band_tuning_sql()


def soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/X2 alternative end-of-pipeline: SoftDeDup-style DOWN-WEIGHTING
    instead of deletion — every doc in a near-dup cluster of size s keeps
    sampling weight 1/s, so the cluster contributes one doc's worth of
    training signal without the hard keep/drop decision dedup_keepers
    makes. Docs outside any cluster are their own singleton (weight 1).
    Output: the per-source effective-token ledger a mixture planner
    consumes (raw vs effective tokens, duplicated-doc counts).

    Scale shape: the cluster machinery is exactly dup_components (banded
    candidate pairs → O(log² n) components); the weighting adds one
    component-sized agg (csize) and one broadcast-back join. Per-doc
    effective tokens are integer MICROS — round(1e6·tokens/csize) — so
    the per-source sums are order-independent BIGINTs, not float
    accumulations."""
    from pdf_parse_vector_db_spark.operators.components import connected_components

    docs = load_table(spark, sf_dir, "documents", spread=True)
    pairs = dedup.ngram_jaccard_pairs(docs, bucket=F.col("n_chars"), n=3, threshold=0.1)
    comp = connected_components(pairs)
    base = (
        docs.select(
            "doc_id",
            "source",
            token_counts_expr("text")["ws_tokens"].alias("t"),
        )
        .join(comp, on="doc_id", how="left")
        .withColumn("cid", F.coalesce("component_id", F.col("doc_id")))
    )
    csize = base.groupBy("cid").agg(F.count(F.lit(1)).alias("csize"))
    j = base.join(csize, on="cid").withColumn(
        "eff_micros",
        # ansi: csize >= 1 by construction; one double division then BIGINT
        F.round(F.lit(1e6) * F.col("t") / F.col("csize")).cast("bigint"),
    )
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.sum((F.col("csize") > 1).cast("long")).cast("long").alias("dup_docs"),
            F.sum("t").cast("long").alias("raw_tokens"),
            F.sum("eff_micros").cast("long").alias("effective_tokens_micros"),
            F.round(
                # ansi: raw_tokens >= docs >= 1 per group; single division
                F.sum("eff_micros") / (F.sum("t") * F.lit(1e6)),
                6,
            ).alias("effective_frac"),
        )
        .orderBy("source")
    )


_WS_TOKENS_SQL = token_counts_sql("text")["ws_tokens"]

SOFT_DEDUP_WEIGHTS_SQL = f"""
WITH RECURSIVE base AS (
  SELECT doc_id AS id, n_chars AS bucket, {shingles_sql('text')} AS sh
  FROM documents
),
p AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM base a JOIN base b ON a.bucket = b.bucket AND a.id < b.id
  WHERE round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
             THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.sh, b.sh)))
             ELSE 0.0 END, 6) >= 0.1
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION
  SELECT id_b, id_a FROM p
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (
  SELECT src AS doc_id, least(src, min(dst)) AS component_id
  FROM reach GROUP BY src
),
docs_t AS (
  SELECT d.doc_id, d.source, {_WS_TOKENS_SQL} AS t,
         coalesce(c.component_id, d.doc_id) AS cid
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
),
cs AS (SELECT cid, count(*) AS csize FROM docs_t GROUP BY cid)
SELECT source,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(CASE WHEN csize > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
       CAST(sum(t) AS BIGINT) AS raw_tokens,
       CAST(sum(CAST(round(1e6 * t / csize) AS BIGINT)) AS BIGINT)
         AS effective_tokens_micros,
       round(CAST(sum(CAST(round(1e6 * t / csize) AS BIGINT)) AS DOUBLE)
             / (sum(t) * 1e6), 6) AS effective_frac
FROM docs_t JOIN cs USING (cid)
GROUP BY source
ORDER BY source
"""


def embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization audit per label: per-vector scale
    (max|x|/127) and reconstruction MSE of round-to-nearest int8 — the
    compression accounting run before shipping embeddings to a vector
    store at scale (4x smaller than float32, this query quantifies the
    recall-relevant error).

    Pure map-side array algebra (same single-bind transform discipline as
    _winnow_fps) + one small agg; halfway rounding is pinned engine-
    portably as floor(x/s + 0.5) — round() half-even vs half-away differs
    across engines."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    q = (
        "flatten(transform(array(cast(embedding AS array<double>)), v -> "
        "transform(array(greatest(cast(array_max(transform(v, x -> abs(x))) / 127 AS double), 1e-12d)), s -> "
        "named_struct("
        "'scale', s, "
        "'mse', aggregate(v, cast(0 AS double), (a, x) -> a + pow(x - floor(x / s + 0.5) * s, 2)) / size(v)"
        "))))[0]"
    )
    return (
        emb.select("label", F.expr(q).alias("q"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("vectors"),
            F.round(F.avg("q.scale"), 8).alias("avg_scale"),
            F.round(F.avg("q.mse"), 10).alias("avg_mse"),
        )
        .orderBy("label")
    )


EMBEDDING_QUANTIZATION_SQL = """
WITH v AS (
  SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
  FROM embeddings
),
s AS (
  SELECT label, vd,
         greatest(list_aggregate(list_transform(vd, x -> abs(x)), 'max')
                  / CAST(127 AS DOUBLE), 1e-12) AS scale
  FROM v
),
m AS (
  SELECT label, scale,
         list_aggregate(list_transform(vd, x ->
             pow(x - floor(x / scale + 0.5) * scale, 2)), 'sum')
           / len(vd) AS mse
  FROM s
)
SELECT label, count(*) AS vectors,
       round(avg(scale), 8) AS avg_scale,
       round(avg(mse), 10) AS avg_mse
FROM m GROUP BY label ORDER BY label
"""


def containment_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 asymmetric tier: shingle-set CONTAINMENT (Broder 1997's second
    resemblance measure, |A∩B| / min(|A|,|B|)) — catches a short document
    embedded in a longer one, which symmetric Jaccard under-scores because
    the union is dominated by the longer side.

    Blocking: pairs are generated only through shared RARE shingles
    (document frequency ≤ 10), the winnow_shared_pairs device — each
    ≤10-element posting list emits its ≤45 pairs map-side, bounding pair
    cost to Σ docfreq² instead of N². Dropping ubiquitous shingles is part
    of the operator contract (both engines apply it identically), the same
    stopword-style cut MOSS makes."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    sh = docs.select("doc_id", F.explode(shingles_expr("text", 3)).alias("sh"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_sh"))
    grouped = (
        sh.groupBy("sh")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids").between(2, 10))
    )
    pairs = F.expr(
        """
        flatten(transform(array_sort(ids), (x, i) ->
          transform(slice(array_sort(ids), i + 2, size(ids)), y ->
            struct(x AS id_a, y AS id_b))))
        """
    )
    shared = (
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    a = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    b = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        shared.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "containment",
            # ansi: n_a/n_b are shingle counts >= 1 for joined docs
            F.round(F.col("shared") / F.least("n_a", "n_b").cast("double"), 6),
        )
        .filter(F.col("containment") >= 0.2)
        .select("id_a", "id_b", "shared", "containment")
        .orderBy("id_a", "id_b")
    )


CONTAINMENT_DUPS_SQL = f"""
WITH base AS (
  SELECT doc_id, {shingles_sql('text')} AS shl FROM documents
),
sh AS (SELECT doc_id, UNNEST(shl) AS s FROM base),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
grouped AS (
  SELECT s, list_sort(list(doc_id)) AS ids FROM sh
  GROUP BY s HAVING count(*) BETWEEN 2 AND 10
),
pairs AS (
  SELECT ids[i + 1] AS id_a, ids[j + 1] AS id_b
  FROM grouped,
       LATERAL (SELECT UNNEST(range(len(ids)))) t(i),
       LATERAL (SELECT UNNEST(range(len(ids)))) u(j)
  WHERE i < j
),
shared AS (
  SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS shared
  FROM pairs GROUP BY id_a, id_b
)
SELECT s.id_a, s.id_b, s.shared,
       round(s.shared / CAST(least(a.n_sh, b.n_sh) AS DOUBLE), 6) AS containment
FROM shared s
JOIN sizes a ON s.id_a = a.doc_id
JOIN sizes b ON s.id_b = b.doc_id
WHERE round(s.shared / CAST(least(a.n_sh, b.n_sh) AS DOUBLE), 6) >= 0.2
ORDER BY id_a, id_b
"""


# --------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic deduplication:
# cluster the embedding space, compare pairs only WITHIN a cluster, and for
# every pair above the similarity threshold drop the item CLOSER to the
# cluster centroid (the paper keeps low centroid-similarity "edge" examples,
# which preserve diversity). Here the fixture `label` plays the cluster id —
# deterministic, so the whole algorithm sits under the oracle hash; in
# production the cluster id comes from the IVF KMeans partitioner
# (operators/ann.py), same plan shape.
#
# Scale posture (100 TB): pairwise cost is Σ cluster² (never corpus²) and
# runs inside the blocked-BLAS kernel (operators/dedup.py:691) — one float64
# GEMM per block pair, not per-row folds. The centroid aggregation has a
# fixed key space (|clusters| × dim) with map-side partials, and centroids
# broadcast back (|clusters| × dim doubles ≪ memory). The keep/drop election
# is a pair-sized join, bounded by the near-dup pair count.
#
# Determinism: centroids are derived from integer-micros sums (exact,
# order-independent), so both engines divide the SAME bigint by the SAME
# count; cosines are rounded to 6 dp before every comparison (threshold and
# centroid-rank), the discipline every X2 tier here uses.
# --------------------------------------------------------------------------

_SEMDEDUP_EPS = 0.30


def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
    ).withColumn("vmic", F.round(F.col("val") * 1e6).cast("bigint"))
    csum = ex.groupBy("label", "pos").agg(
        F.sum("vmic").alias("smic"), F.count(F.lit(1)).alias("n")
    )
    cent = csum.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "smic", "n"))),
            # ansi: n = per-position group count >= 1
            lambda s: s["smic"].cast("double") / (s["n"].cast("double") * 1e6),
        ).alias("cv")
    )
    cc = emb.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        F.round(cosine_similarity(F.col("embedding"), F.col("cv")), 6).alias("centroid_cos"),
    )
    pairs = dedup.embedding_near_dup_pairs(emb, threshold=_SEMDEDUP_EPS, bucket_col="label")
    ca = cc.select(F.col("vec_id").alias("id_a"), F.col("centroid_cos").alias("cc_a"))
    cb = cc.select(F.col("vec_id").alias("id_b"), F.col("centroid_cos").alias("cc_b"))
    dropped = (
        pairs.join(ca, "id_a")
        .join(cb, "id_b")
        .select(
            F.when(
                (F.col("cc_a") > F.col("cc_b"))
                | ((F.col("cc_a") == F.col("cc_b")) & (F.col("id_a") > F.col("id_b"))),
                F.col("id_a"),
            )
            .otherwise(F.col("id_b"))
            .alias("vec_id")
        )
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    return (
        cc.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "label",
            "centroid_cos",
            F.col("dropped").isNull().alias("is_kept"),
        )
        .orderBy("vec_id")
    )


SEMDEDUP_SQL = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ex AS (SELECT vec_id, label,
              generate_subscripts(v, 1) AS pos,
              CAST(round(unnest(v) * 1e6) AS BIGINT) AS vmic
       FROM e),
csum AS (SELECT label, pos, CAST(sum(vmic) AS BIGINT) AS smic, count(*) AS n
         FROM ex GROUP BY label, pos),
cent AS (SELECT label,
                list(CAST(smic AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) ORDER BY pos) AS cv
         FROM csum GROUP BY label),
cc AS (SELECT e.vec_id, e.label,
              round(list_cosine_similarity(e.v, cent.cv), 6) AS centroid_cos
       FROM e JOIN cent ON e.label = cent.label),
pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
          WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {_SEMDEDUP_EPS}),
dropped AS (SELECT DISTINCT
                   CASE WHEN (ca.centroid_cos > cb.centroid_cos)
                          OR (ca.centroid_cos = cb.centroid_cos AND p.id_a > p.id_b)
                        THEN p.id_a ELSE p.id_b END AS vec_id
            FROM pairs p
            JOIN cc ca ON p.id_a = ca.vec_id
            JOIN cc cb ON p.id_b = cb.vec_id)
SELECT cc.vec_id, cc.label, cc.centroid_cos,
       cc.vec_id NOT IN (SELECT vec_id FROM dropped) AS is_kept
FROM cc
ORDER BY vec_id
"""


#: binary-quantization candidate pool before exact rerank
_BQ_CAND = 50
#: Matryoshka prefix width for the coarse stage
_MRL_DIM = 16


#: per-process X61 layout artifacts, keyed (fixture, applicationId) —
#: round 10: built ONCE per session instead of per query call, the same
#: persisted-artifact posture as graph_knn_stored (the layout is written
#: at ingest in production; four queries now serve off it, and re-packing
#: the corpus per query priced the build into every bench row)
_VSTORE_CACHE: dict = {}


def _compressed_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build (once per session; idempotent overwrite) and read the X61
    compressed vector layout: packed sign bits + MRL prefix as STORED
    parquet columns beside the full embedding
    (operators/vector_store.build_compressed_layout)."""
    import hashlib
    import os
    import tempfile

    from pdf_parse_vector_db_spark.operators import vector_store

    key = (os.path.abspath(sf_dir), spark.sparkContext.applicationId)
    if key in _VSTORE_CACHE:
        return spark.read.parquet(_VSTORE_CACHE[key])
    emb = load_table(spark, sf_dir, "embeddings")
    dim = emb.select(F.size(F.col("embedding")).alias("d")).first()["d"]
    # keyed by (fixture, Spark application): overwrite-mode parquet writes
    # are not safe against a CONCURRENT writer on the same path, and two
    # gate processes (pytest + oracle sweep) legitimately run this query
    # at once — per-app dirs make every process its own writer
    path = os.path.join(
        tempfile.gettempdir(),
        "pdf_parse_vector_db_spark_vstore",
        hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
        + "-"
        + spark.sparkContext.applicationId,
    )
    vector_store.build_compressed_layout(emb, path, int(dim), _MRL_DIM)
    _VSTORE_CACHE[key] = path
    return spark.read.parquet(path)


def bq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X61: BINARY-QUANTIZATION ANN (the Milvus/FAISS BQ tier): each
    vector compresses to one SIGN BIT per dimension, PACKED INTO STORED
    BIGINT WORDS AT INGEST (operators/vector_store — the round-9 fix
    that made the round-8 docstring's claim true); the coarse stage
    ranks by Hamming distance to the query's sign pattern, the
    top-_BQ_CAND candidates rerank exactly. The coarse scan projects
    ONLY (vec_id, label, packed) — parquet column pruning reads d/8
    bytes per vector instead of the 8d float bytes, the 64× memory-
    bandwidth win that makes BQ the first filter in modern vector
    stores — and the exact rerank reads full embeddings for just the
    candidate rows via a broadcast semi-join. Both stages are
    TakeOrderedAndProject cuts (no global sort); the Hamming fold is
    Σ bit_count(a XOR b) over the word arrays, scalar bit arithmetic in
    whole-stage codegen (~1 long op per 64 dims)."""
    store = _compressed_store(spark, sf_dir)
    qp = store.filter(F.col("vec_id") == 0).select(F.col("packed").alias("qpacked"))
    coarse = store.select("vec_id", "label", "packed")
    cand = (
        coarse.crossJoin(F.broadcast(qp))
        .select(
            "vec_id",
            "label",
            vector_store_hamming(F.col("packed"), F.col("qpacked")).alias("ham"),
        )
        .orderBy("ham", "vec_id")
        .limit(_BQ_CAND)
        .select("vec_id")
    )
    q = store.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qvec")
    )
    return (
        store.select("vec_id", "label", "embedding")
        .join(F.broadcast(cand), "vec_id", "left_semi")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(
                l2_distance(F.col("embedding").cast("array<double>"), F.col("qvec")),
                6,
            ).alias("d"),
        )
        .orderBy("d", "vec_id")
        .limit(5)
        .select("vec_id", "label", F.round(F.col("d"), 4).alias("score"))
    )


BQ_KNN_SQL = f"""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0
),
cand AS (
  SELECT e.vec_id, e.label, CAST(e.embedding AS DOUBLE[]) AS v, q.qvec,
         list_sum(list_transform(
           list_zip(CAST(e.embedding AS DOUBLE[]), q.qvec),
           x -> CASE WHEN (x[1] > 0) <> (x[2] > 0) THEN 1 ELSE 0 END)) AS ham
  FROM embeddings e CROSS JOIN q
  ORDER BY ham, e.vec_id
  LIMIT {_BQ_CAND}
)
SELECT vec_id, label,
       round(round(list_distance(v, qvec), 6), 4) AS score
FROM cand
ORDER BY round(list_distance(v, qvec), 6), vec_id
LIMIT 5
"""


def bq_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED BQ ANN (round-9 verdict missing #3): the scalar predicate
    pushed INTO the packed coarse scan — the composition Milvus applies
    to any index type (`filter=` on extract_and_search.py:104-110), here
    on the X61 compressed layout. The label filter reaches the parquet
    scan of (vec_id, label, packed) as PushedFilters (pinned in
    tests/test_ann.py), so the coarse stage reads d/8 bytes per vector
    AND skips non-qualifying row groups via the column's min/max stats —
    the two prunings compose. Candidate pool stays `_BQ_CAND` over the
    FILTERED corpus (the predicate thins the corpus before ranking, not
    after, so the pool never starves); exact rerank over the filtered
    candidates. Unlike IVF, BQ has no probe set to widen — filtering
    costs no recall mechanism here, which is exactly why production
    stores route highly-selective filtered searches to the flat/BQ tier
    instead of widening IVF probes."""
    store = _compressed_store(spark, sf_dir)
    fe = store.filter(F.col("label") == 1)
    qp = store.filter(F.col("vec_id") == 0).select(F.col("packed").alias("qpacked"))
    cand = (
        fe.select("vec_id", "packed")
        .crossJoin(F.broadcast(qp))
        .select(
            "vec_id",
            vector_store_hamming(F.col("packed"), F.col("qpacked")).alias("ham"),
        )
        .orderBy("ham", "vec_id")
        .limit(_BQ_CAND)
        .select("vec_id")
    )
    q = store.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qvec")
    )
    return (
        fe.select("vec_id", "label", "embedding")
        .join(F.broadcast(cand), "vec_id", "left_semi")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(
                l2_distance(F.col("embedding").cast("array<double>"), F.col("qvec")),
                6,
            ).alias("d"),
        )
        .orderBy("d", "vec_id")
        .limit(5)
        .select("vec_id", "label", F.round(F.col("d"), 4).alias("score"))
    )


BQ_FILTERED_KNN_SQL = f"""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0
),
cand AS (
  SELECT e.vec_id, e.label, CAST(e.embedding AS DOUBLE[]) AS v, q.qvec,
         list_sum(list_transform(
           list_zip(CAST(e.embedding AS DOUBLE[]), q.qvec),
           x -> CASE WHEN (x[1] > 0) <> (x[2] > 0) THEN 1 ELSE 0 END)) AS ham
  FROM embeddings e CROSS JOIN q
  WHERE e.label = 1
  ORDER BY ham, e.vec_id
  LIMIT {_BQ_CAND}
)
SELECT vec_id, label,
       round(round(list_distance(v, qvec), 6), 4) AS score
FROM cand
ORDER BY round(list_distance(v, qvec), 6), vec_id
LIMIT 5
"""


def mrl_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X61: MATRYOSHKA two-stage ANN: rank by L2 over the FIRST
    `_MRL_DIM` dimensions (MRL-trained embeddings front-load semantic
    mass, so a prefix is itself a valid low-d embedding), rerank the
    top-_BQ_CAND candidates at full width. The prefix is a STORED
    parquet column written at ingest (operators/vector_store — the
    round-9 fix), so the coarse scan projects ONLY (vec_id, label,
    prefix): column pruning reads _MRL_DIM/d of the float bytes, a pure
    I/O saving at 100 TB; the rerank reads full embeddings for just the
    candidate rows via a broadcast semi-join. Degrades gracefully on
    non-MRL vectors to an unbiased-projection candidate generator
    (recall pinned via the shared rerank contract in tests/test_ann.py)."""
    store = _compressed_store(spark, sf_dir)
    qp = store.filter(F.col("vec_id") == 0).select(F.col("prefix").alias("qprefix"))
    cand = (
        store.select("vec_id", "label", "prefix")
        .crossJoin(F.broadcast(qp))
        .select(
            "vec_id",
            "label",
            F.round(l2_distance(F.col("prefix"), F.col("qprefix")), 6).alias("cd"),
        )
        .orderBy("cd", "vec_id")
        .limit(_BQ_CAND)
        .select("vec_id")
    )
    q = store.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qvec")
    )
    return (
        store.select("vec_id", "label", "embedding")
        .join(F.broadcast(cand), "vec_id", "left_semi")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(
                l2_distance(F.col("embedding").cast("array<double>"), F.col("qvec")),
                6,
            ).alias("d"),
        )
        .orderBy("d", "vec_id")
        .limit(5)
        .select("vec_id", "label", F.round(F.col("d"), 4).alias("score"))
    )


MRL_KNN_SQL = f"""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0
),
cand AS (
  SELECT e.vec_id, e.label, CAST(e.embedding AS DOUBLE[]) AS v, q.qvec,
         round(list_distance(CAST(e.embedding AS DOUBLE[])[1:{_MRL_DIM}],
                             q.qvec[1:{_MRL_DIM}]), 6) AS cd
  FROM embeddings e CROSS JOIN q
  ORDER BY cd, e.vec_id
  LIMIT {_BQ_CAND}
)
SELECT vec_id, label,
       round(round(list_distance(v, qvec), 6), 4) AS score
FROM cand
ORDER BY round(list_distance(v, qvec), 6), vec_id
LIMIT 5
"""


def mrl_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED Matryoshka ANN — completes the filtered family (IVF in
    round 9, graph + BQ this round): the label predicate pushed into the
    stored-prefix coarse scan, which then reads only (vec_id, label,
    prefix) for qualifying row groups; `_BQ_CAND` candidates over the
    FILTERED corpus, exact full-width rerank. Same no-recall-mechanism
    property as filtered BQ: the prefix rank has no probe set a
    predicate could starve."""
    store = _compressed_store(spark, sf_dir)
    fe = store.filter(F.col("label") == 1)
    qp = store.filter(F.col("vec_id") == 0).select(F.col("prefix").alias("qprefix"))
    cand = (
        fe.select("vec_id", "prefix")
        .crossJoin(F.broadcast(qp))
        .select(
            "vec_id",
            F.round(l2_distance(F.col("prefix"), F.col("qprefix")), 6).alias("cd"),
        )
        .orderBy("cd", "vec_id")
        .limit(_BQ_CAND)
        .select("vec_id")
    )
    q = store.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qvec")
    )
    return (
        fe.select("vec_id", "label", "embedding")
        .join(F.broadcast(cand), "vec_id", "left_semi")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(
                l2_distance(F.col("embedding").cast("array<double>"), F.col("qvec")),
                6,
            ).alias("d"),
        )
        .orderBy("d", "vec_id")
        .limit(5)
        .select("vec_id", "label", F.round(F.col("d"), 4).alias("score"))
    )


MRL_FILTERED_KNN_SQL = f"""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0
),
cand AS (
  SELECT e.vec_id, e.label, CAST(e.embedding AS DOUBLE[]) AS v, q.qvec,
         round(list_distance(CAST(e.embedding AS DOUBLE[])[1:{_MRL_DIM}],
                             q.qvec[1:{_MRL_DIM}]), 6) AS cd
  FROM embeddings e CROSS JOIN q
  WHERE e.label = 1
  ORDER BY cd, e.vec_id
  LIMIT {_BQ_CAND}
)
SELECT vec_id, label,
       round(round(list_distance(v, qvec), 6), 4) AS score
FROM cand
ORDER BY round(list_distance(v, qvec), 6), vec_id
LIMIT 5
"""


#: per-process SQ8 layout artifacts, keyed (fixture, applicationId) —
#: same session-cache posture as _VSTORE_CACHE. Value: (layout_path,
#: params_path); params are persisted BESIDE the layout because SQ8 is a
#: TRAINED compression (per-dim min/max are corpus statistics, like the
#: IVF quantizer) — a reader needs both artifacts or neither.
_SQ8_CACHE: dict = {}


def _sq8_store(spark: SparkSession, sf_dir: str):
    """Build (once per session) and read the X71 SQ8 layout: packed
    byte-code words + full embedding, plus the trained 1-row params
    frame (operators/vector_store.build_sq8_layout)."""
    import hashlib
    import os
    import tempfile

    from pdf_parse_vector_db_spark.operators import vector_store

    key = (os.path.abspath(sf_dir), spark.sparkContext.applicationId)
    if key not in _SQ8_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        dim = int(emb.select(F.size(F.col("embedding")).alias("d")).first()["d"])
        base = os.path.join(
            tempfile.gettempdir(),
            "pdf_parse_vector_db_spark_sq8",
            hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
            + "-"
            + spark.sparkContext.applicationId,
        )
        params = vector_store.build_sq8_layout(emb, os.path.join(base, "layout"), dim)
        params.write.mode("overwrite").parquet(os.path.join(base, "params"))
        _SQ8_CACHE[key] = base
    base = _SQ8_CACHE[key]
    import os as _os

    return (
        spark.read.parquet(_os.path.join(base, "layout")),
        spark.read.parquet(_os.path.join(base, "params")),
    )


def _sq8_rerank(store: DataFrame, cand: DataFrame, q: DataFrame) -> DataFrame:
    """Shared exact-rerank tail: full-precision L2 over just the
    candidate rows (broadcast semi-join), ascending top-5."""
    return (
        store.select("vec_id", "label", "embedding")
        .join(F.broadcast(cand), "vec_id", "left_semi")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(
                l2_distance(F.col("embedding").cast("array<double>"), F.col("qvec")),
                6,
            ).alias("d"),
        )
        .orderBy("d", "vec_id")
        .limit(5)
        .select("vec_id", "label", F.round(F.col("d"), 4).alias("score"))
    )


def sq8_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X71: SQ8 SCALAR-QUANTIZATION ANN — the third classic compression
    tier beside PQ and BQ (Milvus IVF_SQ8 / FAISS ScalarQuantizer): each
    dimension affinely mapped onto one byte against TRAINED per-dim
    (min, max), eight codes packed per STORED BIGINT word
    (operators/vector_store.sq8_pack_expr), so the coarse scan projects
    ONLY (vec_id, label, sq8) — 1 byte/dim instead of the 4-byte float32
    storage width (pruning pinned in tests/test_ann.py). The coarse
    stage ranks by ASYMMETRIC distance (full-precision query vs
    dequantized rows, transform+aggregate in whole-stage codegen — no
    UDF); top-``_BQ_CAND`` candidates rerank exactly. Params (2 x dim
    doubles) broadcast — SQ8's only global state, retrained on rebuild
    like the IVF quantizer."""
    from pdf_parse_vector_db_spark.operators.vector_store import sq8_dequant_expr

    store, params = _sq8_store(spark, sf_dir)
    dim = int(params.select(F.size("mins").alias("d")).first()["d"])
    q = store.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qvec")
    )
    cand = (
        store.select("vec_id", "sq8")
        .crossJoin(F.broadcast(params))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                l2_distance(sq8_dequant_expr("sq8", dim), F.col("qvec")), 6
            ).alias("cd"),
        )
        .orderBy("cd", "vec_id")
        .limit(_BQ_CAND)
        .select("vec_id")
    )
    return _sq8_rerank(store, cand, q)


def _sq8_sql(filtered: bool) -> str:
    """DuckDB twin: recompute the trained params (exact min/max), the
    byte codes, and the dequantized vectors inline — identical double
    arithmetic, ordered list construction so the L2 fold matches Spark's
    left-to-right aggregate bitwise at 6 dp."""
    where = "WHERE e.label = 1" if filtered else ""
    return f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ex AS (SELECT vec_id, generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM e),
prm AS (SELECT pos, min(val) AS mn, max(val) AS mx FROM ex GROUP BY pos),
dq AS (SELECT ex.vec_id,
              list(CASE WHEN mx = mn THEN mn
                        ELSE mn + CAST(LEAST(CAST(255 AS DOUBLE), GREATEST(CAST(0 AS DOUBLE),
                               round((val - mn) / (mx - mn) * CAST(255 AS DOUBLE)))) AS BIGINT)
                             * ((mx - mn) / CAST(255 AS DOUBLE)) END
                   ORDER BY ex.pos) AS dv
       FROM ex JOIN prm ON ex.pos = prm.pos
       GROUP BY ex.vec_id),
q AS (SELECT v AS qvec FROM e WHERE vec_id = 0),
cand AS (SELECT e.vec_id, e.label, e.v, q.qvec,
                round(list_distance(dq.dv, q.qvec), 6) AS cd
         FROM e JOIN dq USING (vec_id) CROSS JOIN q
         {where}
         ORDER BY cd, e.vec_id
         LIMIT {_BQ_CAND})
SELECT vec_id, label,
       round(round(list_distance(v, qvec), 6), 4) AS score
FROM cand
ORDER BY round(list_distance(v, qvec), 6), vec_id
LIMIT 5
"""


SQ8_KNN_SQL = _sq8_sql(filtered=False)


def sq8_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED SQ8 ANN — extends the X66 filtered family (IVF, graph,
    BQ, MRL) to the SQ8 tier: the label predicate pushed into the packed
    coarse scan (PushedFilters on the (vec_id, label, sq8) projection,
    pinned), candidate pool over the FILTERED corpus, exact rerank. Like
    BQ/MRL, the linear coarse rank has no probe set a predicate could
    starve — filtering costs no recall mechanism."""
    from pdf_parse_vector_db_spark.operators.vector_store import sq8_dequant_expr

    store, params = _sq8_store(spark, sf_dir)
    dim = int(params.select(F.size("mins").alias("d")).first()["d"])
    q = store.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qvec")
    )
    fe = store.filter(F.col("label") == 1)
    cand = (
        fe.select("vec_id", "sq8")
        .crossJoin(F.broadcast(params))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                l2_distance(sq8_dequant_expr("sq8", dim), F.col("qvec")), 6
            ).alias("cd"),
        )
        .orderBy("cd", "vec_id")
        .limit(_BQ_CAND)
        .select("vec_id")
    )
    return _sq8_rerank(fe, cand, q)


SQ8_FILTERED_KNN_SQL = _sq8_sql(filtered=True)


def ivf_sq8_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X71b: the COMPOSED Milvus IVF_SQ8 index — the production layering
    of the two prunings this engine already has separately: the IVF
    coarse quantizer cuts the corpus to nprobe cells (at scale: static
    parquet PARTITION pruning, the ivf_partitioned_knn layout), then the
    SQ8 byte codes rank ONLY the probed cells' rows by asymmetric
    distance (at scale: the probed partitions' code column, 1 byte/dim —
    COLUMN pruning inside the partition pruning), and the exact rerank
    reads full floats for just the final candidates. Scan bytes per
    query ≈ nprobe/nlist × dim/8 of the corpus vector bytes — the two
    prunings multiply, which is exactly why IVF_SQ8 is Milvus' default
    memory-lean index. Quantizers pinned as everywhere else: √N-strided
    seeds (ivf_knn), corpus-trained per-dim (min, max) (sq8_knn), so the
    whole probe→ADC→rerank path sits under the DuckDB value hash."""
    from pdf_parse_vector_db_spark.operators.vector_store import sq8_dequant_expr

    store, params = _sq8_store(spark, sf_dir)
    dim = int(params.select(F.size("mins").alias("d")).first()["d"])
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = _ivf_seeds(emb)
    q = store.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qvec")
    )

    key = lambda vec, other, cid: (  # noqa: E731 — (dist-micros, cid) pack
        F.round(l2_distance(vec, other) * 1e6).cast("bigint") * _IVF_KEY_BASE + cid
    )
    probe = (
        seeds.crossJoin(F.broadcast(q))
        .select("cid", key(F.col("cvec"), F.col("qvec"), F.col("cid")).alias("k"))
        .orderBy("k")
        .limit(_IVF_NPROBE)
        .select("cid")
    )
    assign = (
        emb.crossJoin(seeds)
        .groupBy("vec_id")
        .agg(F.min(key(F.col("embedding"), F.col("cvec"), F.col("cid"))).alias("k"))
        .select("vec_id", (F.col("k") % _IVF_KEY_BASE).alias("cluster_id"))
    )
    probed = (
        store.select("vec_id", "sq8")
        .join(assign, "vec_id")
        .join(F.broadcast(probe), assign["cluster_id"] == probe["cid"], "left_semi")
    )
    cand = (
        probed.crossJoin(F.broadcast(params))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                l2_distance(sq8_dequant_expr("sq8", dim), F.col("qvec")), 6
            ).alias("cd"),
        )
        .orderBy("cd", "vec_id")
        .limit(_BQ_CAND)
        .select("vec_id")
    )
    return _sq8_rerank(store, cand, q)


IVF_SQ8_KNN_SQL = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qvec FROM e WHERE vec_id = 0),
seeds AS (
  SELECT vec_id AS cid, v AS cvec
  FROM e WHERE vec_id % {_IVF_SEED_MOD_SQL} = {_IVF_SEED_OFF}
),
probe AS (
  SELECT cid FROM seeds CROSS JOIN q
  ORDER BY CAST(round(list_distance(cvec, qvec) * 1e6) AS BIGINT)
             * {_IVF_KEY_BASE} + cid
  LIMIT {_IVF_NPROBE}
),
assign AS (
  SELECT e.vec_id,
         min(CAST(round(list_distance(e.v, s.cvec) * 1e6)
                  AS BIGINT) * {_IVF_KEY_BASE} + s.cid) % {_IVF_KEY_BASE} AS cluster_id
  FROM e CROSS JOIN seeds s
  GROUP BY e.vec_id
),
ex AS (SELECT vec_id, generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM e),
prm AS (SELECT pos, min(val) AS mn, max(val) AS mx FROM ex GROUP BY pos),
dq AS (SELECT ex.vec_id,
              list(CASE WHEN mx = mn THEN mn
                        ELSE mn + CAST(LEAST(CAST(255 AS DOUBLE), GREATEST(CAST(0 AS DOUBLE),
                               round((val - mn) / (mx - mn) * CAST(255 AS DOUBLE)))) AS BIGINT)
                             * ((mx - mn) / CAST(255 AS DOUBLE)) END
                   ORDER BY ex.pos) AS dv
       FROM ex JOIN prm ON ex.pos = prm.pos
       GROUP BY ex.vec_id),
cand AS (
  SELECT e.vec_id, e.label, e.v, q.qvec,
         round(list_distance(dq.dv, q.qvec), 6) AS cd
  FROM e
  JOIN assign a ON e.vec_id = a.vec_id
  JOIN dq ON dq.vec_id = e.vec_id
  CROSS JOIN q
  WHERE a.cluster_id IN (SELECT cid FROM probe)
  ORDER BY cd, e.vec_id
  LIMIT {_BQ_CAND}
)
SELECT vec_id, label,
       round(round(list_distance(v, qvec), 6), 4) AS score
FROM cand
ORDER BY round(list_distance(v, qvec), 6), vec_id
LIMIT 5
"""


QUERIES = [
    QuerySpec("bq_knn", bq_knn, BQ_KNN_SQL, "X61 binary-quantization ANN over the STORED packed-sign-bit column (coarse scan reads d/8 bytes/vector) + exact rerank (round 9 storage)"),
    QuerySpec("sq8_knn", sq8_knn, SQ8_KNN_SQL, "X71 SQ8 scalar-quantization ANN: trained per-dim byte codes packed 8/word in STORED BIGINT words, asymmetric-distance coarse rank + exact rerank (round 10)"),
    QuerySpec("sq8_filtered_knn", sq8_filtered_knn, SQ8_FILTERED_KNN_SQL, "X71 FILTERED SQ8 ANN: predicate pushed into the packed byte-code coarse scan, exact rerank of filtered candidates (round 10)"),
    QuerySpec("ivf_sq8_knn", ivf_sq8_knn, IVF_SQ8_KNN_SQL, "X71b composed IVF_SQ8 (Milvus default memory-lean index): IVF partition pruning x SQ8 byte-code ADC within probed cells x exact rerank (round 10)"),
    QuerySpec("mrl_filtered_knn", mrl_filtered_knn, MRL_FILTERED_KNN_SQL, "X66 FILTERED Matryoshka ANN: predicate pushed into the stored-prefix coarse scan, full-width rerank of filtered candidates (round 10)"),
    QuerySpec("bq_filtered_knn", bq_filtered_knn, BQ_FILTERED_KNN_SQL, "X66 FILTERED BQ ANN: predicate pushed into the packed coarse scan (PushedFilters pinned), exact rerank of filtered candidates (round 10)"),
    QuerySpec("mrl_knn", mrl_knn, MRL_KNN_SQL, "X61 Matryoshka two-stage ANN over the STORED 16-dim prefix column + full-width rerank (round 9 storage)"),
    QuerySpec("semdedup", semdedup, SEMDEDUP_SQL, "X2 SemDeDup semantic dedup (cluster-bounded pairwise + centroid-rank keep/drop)"),
    QuerySpec("embedding_quantization", embedding_quantization, EMBEDDING_QUANTIZATION_SQL, "X2/X3 int8 quantization error accounting"),
    QuerySpec("embedding_energy_retention", embedding_energy_retention, EMBEDDING_ENERGY_SQL, "X2/X3 prefix-energy truncation audit"),
    QuerySpec("embedding_pca_variance", embedding_pca_variance, EMBEDDING_PCA_VARIANCE_SQL, "X2/X3 top-PC explained-variance share, exact fixed-point (oracle-backed since r5; full spectrum via operators/pca.py + numpy contract)"),
    QuerySpec("power_iteration_top_pc", power_iteration_top_pc, POWER_ITERATION_TOP_PC_SQL, "X31 power-iteration top PC in exact fixed-point (oracle-backed iterative tier)"),
    QuerySpec("dedup_tier_evidence", dedup_tier_evidence, _evidence_sql(), "X2 cross-tier pair evidence audit"),
    QuerySpec("containment_dups", containment_dups, CONTAINMENT_DUPS_SQL, "X2 asymmetric shingle containment tier"),
    QuerySpec("dup_components", dup_components, DUP_COMPONENTS_SQL, "X1/X2 pair-to-cluster connected components"),
    QuerySpec("dup_components_star", dup_components_star, DUP_COMPONENTS_SQL, "X1/X2 star-contraction CC (deep-graph tier)"),
    QuerySpec("dedup_keepers", dedup_keepers, DEDUP_KEEPERS_SQL, "X1/X2 keep-longest survivor per dup cluster"),
    QuerySpec("soft_dedup_weights", soft_dedup_weights, SOFT_DEDUP_WEIGHTS_SQL, "X1/X2 SoftDeDup 1/cluster-size down-weighting: per-source effective-token ledger"),
    QuerySpec("lsh_band_tuning", lsh_band_tuning, LSH_BAND_TUNING_SQL, "X2 empirical banding tuner: 4 (bands,rows) configs over one shared 32-hash signature"),
    QuerySpec("ngram_jaccard_dups", ngram_jaccard_dups, NGRAM_JACCARD_DUPS_SQL, "X2 exact Jaccard near-dup"),
    QuerySpec("ivf_knn", ivf_knn, IVF_KNN_SQL, "IVF ANN top-5, pinned coarse quantizer (oracle-backed since r3)"),
    QuerySpec("ivf_partitioned_knn", ivf_partitioned_knn, IVF_KNN_SQL, "IVF ANN top-5 over the cell-PARTITIONED parquet index: build partitionBy(cluster_id), probe via static partition pruning (round 6)"),
    QuerySpec("ivf_filtered_knn", ivf_filtered_knn, IVF_FILTERED_KNN_SQL, "Milvus-parity FILTERED ANN: scalar predicate pruned before the coarse assignment, widened probe, exact rerank (round 9; reference extract_and_search.py:104-110)"),
    QuerySpec("ivf_cell_balance", ivf_cell_balance, IVF_CELL_BALANCE_SQL, "X45 IVF index-health audit: cell-occupancy distribution + imbalance factor, the quantizer-rebuild trigger (round 6)"),
    QuerySpec("pq_knn", pq_knn, PQ_KNN_SQL, "PQ ADC + exact-rerank ANN top-5, pinned codebooks (oracle-backed since r3)"),
    QuerySpec("lsh_portable_knn", lsh_portable_knn, LSH_PORTABLE_KNN_SQL, "portable E2LSH candidates + exact rerank (pinned projections, oracle-backed)"),
    QuerySpec("lsh_knn", lsh_knn, None, "MLlib LSH ANN top-5 (rows-only)"),
    QuerySpec("lsh_sim_join", lsh_sim_join, None, "MLlib approxSimilarityJoin N×M (rows-only)"),
    QuerySpec("ann_recall", ann_recall, ANN_RECALL_SQL, "IVF recall@10 vs exact tier, pinned quantizer (oracle-backed since r3)"),
    QuerySpec("minhash_near_dups", minhash_near_dups, None, "X2 MinHash+LSH near-dup (rows-only)"),
    QuerySpec("minhash_portable_dups", minhash_portable_dups, MINHASH_PORTABLE_SQL, "X2 MinHash+LSH, portable md5 family"),
    QuerySpec("simhash_near_dups", simhash_near_dups, None, "X2 SimHash near-dup (rows-only)"),
    QuerySpec("simhash_portable_dups", simhash_portable_dups, SIMHASH_PORTABLE_SQL, "X2 SimHash, portable md5-nibble family"),
    QuerySpec("embedding_near_dups", embedding_near_dups, EMBEDDING_NEAR_DUPS_SQL, "X2 semantic near-dup"),
    QuerySpec("embedding_near_dups_ivf", embedding_near_dups_ivf, EMBEDDING_NEAR_DUPS_IVF_SQL, "X2 semantic near-dup, IVF-bucketed scale path (pinned quantizer, oracle-backed since r3)"),
    QuerySpec("knn_join", knn_join, KNN_JOIN_SQL, "X3/X4 batch kNN join, top-3 per query"),
]
