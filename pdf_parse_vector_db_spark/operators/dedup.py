"""Deduplication operators (north-star X1/X2) — exact, MinHash+LSH, SimHash,
and n-gram Jaccard, all engineered for the 100 TB shuffle budget.

Design rules applied throughout:
  * Never shuffle raw text. Every exchange is keyed on fixed-width hashes
    (16-byte md5, 8-byte xxhash64, band signatures).
  * Candidate generation before pairwise comparison: the N² all-pairs join
    only ever runs within a bucket (LSH band, fingerprint band, equal-length
    bucket), which is how near-dedup stays tractable at corpus scale.
  * Signatures are computed map-side in single expressions (one pass over
    the token array per row, no explode→groupBy) wherever possible; MinHash
    needs one explode+groupBy pass and does all `num_hashes` mins in that
    single shuffle.

Hash families: the default MinHash tier uses Spark's xxhash64 and SimHash a
keyed blake2b (packed into one long) — fast but engine-specific, so those
QuerySpecs are rows-only with their correctness contract in the pytest
suite (candidates validated against EXACT n-gram Jaccard on corpora with
planted near-duplicates). `minhash_portable_pairs` derives a
Kirsch-Mitzenmacher affine family from one md5 per shingle — computed
identically by both engines — putting the whole LSH pipeline inside the
DuckDB oracle check at roughly the xxhash64 tier's cost.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdf_parse_vector_db_spark.functions.text import fingerprint_expr, shingles_expr


# ---------------------------------------------------------------------------
# Exact dedup (X1)
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative per canonicalized content hash.
    groupBy on the 16-byte hash (min/min_by agg) — the text itself never
    shuffles; rejoin by id only if callers need dropped columns back."""
    fp = fingerprint_expr(text_col)["fingerprint"]
    keep = (
        docs.select(F.col(id_col), fp.alias("__fp"))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
        .drop("__fp")
    )
    return docs.join(keep, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# Jaccard over word n-gram shingle sets (X2 exact tier)
# ---------------------------------------------------------------------------


def jaccard_expr(a: Column, b: Column) -> Column:
    """|A∩B| / |A∪B| over array-set columns; 0.0 when the union is empty."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    # ansi: the union > 0 CASE arm guards the division
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    docs: DataFrame,
    bucket: Column,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact Jaccard near-dup pairs within equality buckets.

    `bucket` is the blocking key (length band, fp_band, LSH band...). The
    self-join shuffles shingle arrays once, keyed on the bucket — pair
    comparisons never cross buckets, so cost is sum(bucket²), not corpus².
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded 6dp.
    """
    base = docs.select(
        F.col(id_col).alias("__id"),
        bucket.alias("__bucket"),
        shingles_expr(text_col, n).alias("__sh"),
    )
    left = base.select(
        F.col("__id").alias("id_a"), F.col("__bucket"), F.col("__sh").alias("__sh_a")
    )
    right = base.select(
        F.col("__id").alias("id_b"), F.col("__bucket"), F.col("__sh").alias("__sh_b")
    )
    jac = jaccard_expr(F.col("__sh_a"), F.col("__sh_b"))
    return (
        left.join(right, on="__bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (X2 scale tier)
# ---------------------------------------------------------------------------


def minhash_signatures(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """num_hashes-wide MinHash signature per doc.

    Each string shingle is hashed ONCE map-side (xxhash64 over text — the
    only pass that touches string bytes), then exploded as 8-byte longs;
    all num_hashes family minima compute in a single groupBy pass where
    each family value is xxhash64(seed, base) over fixed-width input.
    Exactly one shuffle keyed on id regardless of num_hashes, and map-side
    partial min-aggregation shrinks it to ≤1 row per (id, partition) before
    the exchange. Empty-shingle docs drop (nothing to compare).

    (A fully map-side variant — 32 array_min(transform(...)) projections
    over a shared base-hash array — measures 4× slower here: projection
    collapse inlines the shared array into every signature column and
    recomputes it 32×. The explode+partial-agg shape keeps the base pass
    single and lets codegen fuse the 32 min-aggregates.)"""
    sh = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.transform(shingles_expr(text_col, n), lambda s: F.xxhash64(s))
        ).alias("__h"),
    )
    mins = [
        F.min(F.xxhash64(F.lit(seed), F.col("__h"))).alias(f"h{seed}")
        for seed in range(num_hashes)
    ]
    return sh.groupBy("__id").agg(*mins).withColumnRenamed("__id", id_col)


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LSH candidate pairs: signatures split into `bands` bands of
    num_hashes/bands rows; docs colliding on any band hash are candidates.
    Returns distinct (id_a, id_b) with id_a < id_b.

    Scale shape: band table is (bands × docs) rows of (band_idx, 16-byte
    band key); the self-join shuffles only those narrow rows. Follow with
    `ngram_jaccard_pairs`-style exact verification on the candidates when
    precision matters (see plans/dedup_queries.near_dup_pairs_verified)."""
    rows = num_hashes // bands
    sig = minhash_signatures(docs, n=n, num_hashes=num_hashes, id_col=id_col, text_col=text_col)
    band_cols = [
        F.md5(F.concat_ws("_", *[F.col(f"h{b * rows + r}") for r in range(rows)])).alias(
            f"band{b}"
        )
        for b in range(bands)
    ]
    banded = sig.select(F.col(id_col).alias("__id"), *band_cols)
    stacked = banded.select(
        "__id",
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band_idx"), F.col(f"band{b}").alias("key")) for b in range(bands)])
        ).alias("bk"),
    ).select("__id", F.col("bk.band_idx").alias("band_idx"), F.col("bk.key").alias("key"))
    left = stacked.select(F.col("__id").alias("id_a"), "band_idx", "key")
    right = stacked.select(F.col("__id").alias("id_b"), "band_idx", "key")
    return (
        left.join(right, on=["band_idx", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


#: modulus for the Kirsch-Mitzenmacher hash family: largest prime < 2^32,
#: so lane values and every h1 + i*h2 stay far inside BIGINT range.
_MH_PRIME = 4294967291


def mh_lanes_sql(src: str) -> str:
    """DuckDB CTE body deriving the two 32-bit lanes from `b` (md5 hex) in
    `src` — must mirror the Spark lane extraction bit-for-bit."""
    return (
        f"SELECT id, ('0x' || substring(b, 1, 8))::BIGINT AS h1, "
        f"('0x' || substring(b, 9, 8))::BIGINT AS h2 FROM {src}"
    )


def mh_min_cols_sql(num_hashes: int) -> str:
    """DuckDB aggregate list: per-doc minima of the affine family."""
    return ",\n         ".join(
        f"min((h1 + {i} * h2) % {_MH_PRIME}) AS h{i}" for i in range(num_hashes)
    )


def mh_band_cols_sql(num_hashes: int, bands: int) -> str:
    """DuckDB band-key list: md5 over the '_'-joined signature slice."""
    rows = num_hashes // bands
    return ",\n         ".join(
        "md5(concat_ws('_', "
        + ", ".join(f"h{b * rows + r}" for r in range(rows))
        + f")) AS band{b}"
        for b in range(bands)
    )


def minhash_portable_banded(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Portable LSH band table for one corpus side: (__id, band_idx,
    key) rows, `bands` per doc. This is the piece a production pipeline
    PERSISTS (bucketed by key) so later batches join against stored bands
    instead of recomputing history — see plans/curation.incremental_dedup.

    Hash family (Kirsch-Mitzenmacher): ONE md5 per shingle supplies two
    32-bit lanes h1/h2 (hex substrings both engines parse identically);
    hash i is the affine combination (h1 + i·h2) mod p. One string hash
    per shingle instead of num_hashes of them — the family that makes
    the portable tier cost-competitive with the xxhash64 tier — and the
    signature minima shuffle as BIGINTs, not 32-char hex strings."""
    rows = num_hashes // bands
    sh = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(shingles_expr(text_col, n)).alias("__s"),
    ).select("__id", F.md5(F.col("__s")).alias("__b"))
    lanes = sh.select(
        "__id",
        F.expr("CAST(conv(substring(__b, 1, 8), 16, 10) AS BIGINT)").alias("__h1"),
        F.expr("CAST(conv(substring(__b, 9, 8), 16, 10) AS BIGINT)").alias("__h2"),
    )
    mins = [
        F.min((F.col("__h1") + F.lit(i) * F.col("__h2")) % F.lit(_MH_PRIME)).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = lanes.groupBy("__id").agg(*mins)
    band_cols = [
        F.md5(F.concat_ws("_", *[F.col(f"h{b * rows + r}") for r in range(rows)])).alias(
            f"band{b}"
        )
        for b in range(bands)
    ]
    banded = sig.select("__id", *band_cols)
    return banded.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_idx"), F.col(f"band{b}").alias("key"))
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("__id", F.col("bk.band_idx").alias("band_idx"), F.col("bk.key").alias("key"))


def minhash_portable_pairs(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash+LSH near-dedup with an ENGINE-PORTABLE hash family, so the
    whole find→verify pipeline is DuckDB-oracle-checkable (md5 produces
    identical hex on any engine; the affine integer family and its BIGINT
    minima are exact everywhere).

    Family: ONE md5 per shingle supplies two 32-bit lanes; h_i = (h1 +
    i·h2) mod p (Kirsch-Mitzenmacher) — cost-competitive with the
    xxhash64 tier while staying oracle-portable. Returns (id_a, id_b,
    jaccard) — band-colliding pairs verified by exact Jaccard ≥
    threshold."""
    stacked = minhash_portable_banded(
        docs, n=n, num_hashes=num_hashes, bands=bands, id_col=id_col, text_col=text_col
    )
    cands = (
        stacked.alias("l")
        .join(stacked.alias("r"), on=["band_idx", "key"])
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    shg = docs.select(F.col(id_col).alias("__d"), shingles_expr(text_col, n).alias("__sh"))
    a = shg.select(F.col("__d").alias("id_a"), F.col("__sh").alias("__sh_a"))
    b = shg.select(F.col("__d").alias("id_b"), F.col("__sh").alias("__sh_b"))
    jac = jaccard_expr(F.col("__sh_a"), F.col("__sh_b"))
    return (
        cands.join(a, on="id_a")
        .join(b, on="id_b")
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_portable_sql(
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.1,
    shingles: str = "",
) -> str:
    """The DuckDB twin of minhash_portable_pairs, generated so query and
    oracle share the family constants (Kirsch-Mitzenmacher lanes, see
    minhash_portable_banded)."""
    mins = mh_min_cols_sql(num_hashes)
    bandcols = mh_band_cols_sql(num_hashes, bands)
    stack = "\n    UNION ALL\n".join(
        f"    SELECT id, {b} AS band_idx, band{b} AS key FROM banded" for b in range(bands)
    )
    return f"""
WITH base AS (
  SELECT doc_id AS id, {shingles} AS sh FROM documents
),
sh AS (
  SELECT id, md5(unnest(sh)) AS b FROM base
),
lanes AS (
  {mh_lanes_sql('sh')}
),
sig AS (
  SELECT id,
         {mins}
  FROM lanes GROUP BY id
),
banded AS (
  SELECT id,
         {bandcols}
  FROM sig
),
stacked AS (
{stack}
),
cands AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM stacked l JOIN stacked r ON l.band_idx = r.band_idx AND l.key = r.key
  WHERE l.id < r.id
),
verified AS (
  SELECT c.id_a, c.id_b,
         round(
           CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
                THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.sh, b.sh)))
                ELSE 0.0 END, 6) AS jaccard
  FROM cands c JOIN base a ON c.id_a = a.id JOIN base b ON c.id_b = b.id
)
SELECT id_a, id_b, jaccard FROM verified
WHERE jaccard >= {threshold}
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# SimHash (X2, bitwise tier)
# ---------------------------------------------------------------------------


def simhash_bits_expr(text_col: str, bits: int = 64) -> Column:
    """SimHash bit vector (array<int> of 0/1, length `bits`) computed in ONE
    map-side expression: fold the token array, accumulating per-bit ±1 votes
    from each token's xxhash64, then threshold at 0. No explode, no shuffle,
    stays in codegen. Kept as the readable reference; the hot path uses
    `simhash_packed_expr` (same xxhash64 bit source, nibble-expanded votes,
    packed into one long)."""
    toks = f"split(lower(trim({text_col})), '\\\\s+')"
    return F.expr(
        f"transform("
        f"  aggregate({toks}, "
        f"    transform(sequence(1, {bits}), x -> 0L), "
        f"    (acc, t) -> zip_with(acc, "
        f"      transform(sequence(0, {bits - 1}), b -> CASE WHEN (shiftright(xxhash64(t), b) & 1) = 1 THEN 1L ELSE -1L END), "
        f"      (a, v) -> a + v)), "
        f"  s -> CASE WHEN s >= 0 THEN 1 ELSE 0 END)"
    )


def simhash_packed_expr(text_col: str) -> Column:
    """SimHash-64 packed into ONE signed long, entirely in codegen: per
    token ONE xxhash64 supplies all 64 vote bits (expanded nibble-wise,
    16 shifts + 64 tiny int ops — the same fold shape as the portable
    tier but with no md5/conv string work). The scalar signature is the
    point: bands are bit-slices (shift+mask), hamming distance is
    `bit_count(a ^ b)` — and the only thing that ever shuffles is 8
    bytes per row. Empty/whitespace-only text → all votes 0 → sig -1
    (every vote ties ≥ 0 → all bits set).

    Replaced the earlier Arrow blake2b UDF: same output shape, ~no
    Python in the hot path, and the signature stays inside
    whole-stage codegen."""
    toks = f"filter(split(lower(trim({text_col})), '\\\\s+'), x -> x <> '')"
    nib = "transform(sequence(0, 15), p -> CAST(shiftright(h, 4 * p) & 15 AS INT))"
    votes_of_h = (
        f"flatten(transform({nib}, v -> array("
        "CAST((v & 1) * 2 - 1 AS BIGINT), "
        "CAST((shiftright(v, 1) & 1) * 2 - 1 AS BIGINT), "
        "CAST((shiftright(v, 2) & 1) * 2 - 1 AS BIGINT), "
        "CAST((shiftright(v, 3) & 1) * 2 - 1 AS BIGINT))))"
    )
    votes = (
        f"aggregate(transform({toks}, t -> xxhash64(t)), "
        f"transform(sequence(1, 64), x -> 0L), "
        f"(acc, h) -> zip_with(acc, {votes_of_h}, (a, v) -> a + v))"
    )
    # pack via two 32-bit halves so bit 63 lands in the sign bit through
    # shiftleft (arithmetic 2^63 would overflow under ANSI mode)
    lo = (
        "aggregate(zip_with(slice(__vt, 1, 32), sequence(0, 31), "
        "(v, b) -> CASE WHEN v >= 0 THEN shiftleft(1L, b) ELSE 0L END), "
        "0L, (acc, x) -> acc + x)"
    )
    hi = (
        "aggregate(zip_with(slice(__vt, 33, 32), sequence(0, 31), "
        "(v, b) -> CASE WHEN v >= 0 THEN shiftleft(1L, b) ELSE 0L END), "
        "0L, (acc, x) -> acc + x)"
    )
    # bind the votes array once via the single-element-array trick so the
    # fold isn't re-evaluated for each half
    return F.expr(
        f"element_at(transform(array({votes}), "
        f"__vt -> shiftleft({hi}, 32) | {lo}), 1)"
    )


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 8,
    bits: int = 64,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs by SimHash: candidates collide on at least one of
    `bands` contiguous bit-slices (pigeonhole: hamming ≤ max_hamming with
    bands > max_hamming/ (bits/bands) guarantees a colliding band for true
    near-dups), verified by exact hamming ≤ max_hamming.

    All post-signature work is scalar bit arithmetic in codegen: band keys
    are shift+mask slices of the packed long, verification is
    bit_count(xor) — no arrays cross any exchange."""
    assert bits == 64, "packed-long kernel is fixed at 64 bits"
    width = bits // bands
    mask = (1 << width) - 1
    # repartition = deliberate 8-byte-per-row exchange barrier: projection
    # collapse would otherwise inline the signature fold into every band
    # slice on BOTH join sides (~10 evaluations/row); after the exchange
    # every consumer reads the materialized sig, and the left/right sides
    # share it via ReusedExchange. Costs one tiny fixed-width shuffle,
    # saves recomputing the per-token fold — the right trade at any scale.
    # coalesce makes the signature provably non-nullable; without it the
    # join-key isnotnull constraint is inferred, pushed below the barrier,
    # and re-evaluates the ENTIRE fold inside a Filter on the scan (2×
    # signature cost per side, observed in the executed plan)
    base = docs.select(
        F.col(id_col).alias("__id"),
        F.coalesce(simhash_packed_expr(text_col), F.lit(0)).alias("__sig"),
    ).repartition(F.col("__id"))
    stacked = base.select(
        "__id",
        "__sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftrightunsigned(F.col("__sig"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("__id", "__sig", F.col("bk.band_idx").alias("band_idx"), F.col("bk.key").alias("key"))
    left = stacked.select(F.col("__id").alias("id_a"), F.col("__sig").alias("__sig_a"), "band_idx", "key")
    right = stacked.select(F.col("__id").alias("id_b"), F.col("__sig").alias("__sig_b"), "band_idx", "key")
    return (
        left.join(right, on=["band_idx", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("__sig_a").bitwiseXOR(F.col("__sig_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash, PORTABLE family (X2, bitwise tier with oracle parity)
# ---------------------------------------------------------------------------


def _simhash_portable_votes_sql(text_col: str) -> str:
    """Spark SQL expression: per-row array<long> of 64 SimHash vote sums.

    Hash family is md5-hex nibbles so any engine reproduces it bit-for-bit:
    bit b of token t = (nibble value of hex char b//4 of md5(t)) >> (b%4) & 1.
    One fold over the token array — no explode, no shuffle; the whole
    signature is a map-side codegen expression like `simhash_bits_expr`."""
    toks = f"filter(split(lower(trim({text_col})), '\\\\s+'), x -> x <> '')"
    hashes = f"transform({toks}, t -> md5(t))"
    # per token: decode each of the 16 hex nibbles ONCE, then expand each
    # nibble to its 4 ±1 votes — 16 conv calls per token instead of 64
    # (bench: ~2× faster signature stage than the naive 64-CASE fold)
    nibbles = "transform(sequence(1, 16), p -> CAST(conv(substring(h, p, 1), 16, 10) AS INT))"
    votes_of_h = (
        f"flatten(transform({nibbles}, v -> array("
        "CAST((v & 1) * 2 - 1 AS BIGINT), "
        "CAST((shiftright(v, 1) & 1) * 2 - 1 AS BIGINT), "
        "CAST((shiftright(v, 2) & 1) * 2 - 1 AS BIGINT), "
        "CAST((shiftright(v, 3) & 1) * 2 - 1 AS BIGINT))))"
    )
    return (
        f"aggregate({hashes}, transform(sequence(1, 64), x -> 0L), "
        f"(acc, h) -> zip_with(acc, {votes_of_h}, (a, v) -> a + v))"
    )


def _simhash_portable_band_sql(band: int, width: int) -> str:
    """Band `band` of the thresholded signature packed into an INT: bit j of
    the band = 1 iff vote[band*width + j] >= 0."""
    terms = " + ".join(
        f"(CASE WHEN element_at(__sv, {band * width + j + 1}) >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(width)
    )
    return f"CAST({terms} AS INT)"


def simhash_portable_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash-64 near-dup pairs with an ENGINE-PORTABLE hash family (md5
    nibbles), so candidate generation AND verification sit inside the DuckDB
    oracle check — the bitwise twin of `minhash_portable_pairs`.

    Same execution shape as `simhash_near_pairs`: map-side signature fold,
    band keys are small INTs, candidates collide on (band_idx, key), verify
    is Σ bit_count(xor) over the four band ints ≤ max_hamming. Only 4 ints
    per doc ever shuffle. ~2× the blake2b tier's signature cost (64 CASE
    folds per token) — use that tier when oracle parity isn't needed.
    Returns (id_a, id_b, hamming)."""
    assert 64 % bands == 0
    width = 64 // bands
    sv = docs.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col).alias("__id"),
        F.expr(_simhash_portable_votes_sql(text_col)).alias("__sv"),
    )
    bdf = sv.select(
        "__id",
        *[
            # coalesce → provably non-nullable, so join-key isnotnull
            # constraints fold away instead of re-evaluating the vote fold
            # in pushed-down Filters (see simhash_near_pairs)
            F.coalesce(F.expr(_simhash_portable_band_sql(b, width)), F.lit(0)).alias(
                f"band{b}"
            )
            for b in range(bands)
        ],
        # exchange barrier: stops projection collapse re-inlining the vote
        # fold into each band expr across the three consumers (stack + both
        # rejoin sides); they share the materialized bands via
        # ReusedExchange. 4 INTs + id per row — negligible shuffle.
    ).repartition(F.col("__id"))
    stacked = bdf.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_idx"), F.col(f"band{b}").alias("key"))
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("__id", F.col("bk.band_idx").alias("band_idx"), F.col("bk.key").alias("key"))
    cands = (
        stacked.alias("l")
        .join(stacked.alias("r"), on=["band_idx", "key"])
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    a = bdf.select(
        F.col("__id").alias("id_a"), *[F.col(f"band{b}").alias(f"__a{b}") for b in range(bands)]
    )
    bb = bdf.select(
        F.col("__id").alias("id_b"), *[F.col(f"band{b}").alias(f"__b{b}") for b in range(bands)]
    )
    ham = None
    for b in range(bands):
        term = F.bit_count(F.col(f"__a{b}").bitwiseXOR(F.col(f"__b{b}")))
        ham = term if ham is None else ham + term
    return (
        cands.join(a, on="id_a")
        .join(bb, on="id_b")
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_portable_sql(max_hamming: int = 3, bands: int = 4) -> str:
    """The DuckDB twin of simhash_portable_pairs, generated so query and
    oracle share the bit-extraction formula exactly."""
    width = 64 // bands
    vote_cols = ",\n         ".join(
        f"sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, {b // 4 + 1}, 1)) - 1) >> {b % 4}) & 1 = 1 "
        f"THEN 1 ELSE -1 END) AS v{b}"
        for b in range(64)
    )
    band_cols = ",\n         ".join(
        " + ".join(
            f"(CASE WHEN v{band * width + j} >= 0 THEN {1 << j} ELSE 0 END)" for j in range(width)
        )
        + f" AS band{band}"
        for band in range(bands)
    )
    stack = "\n    UNION ALL\n".join(
        f"    SELECT id, {b} AS band_idx, band{b} AS key FROM bands" for b in range(bands)
    )
    ham = " + ".join(f"bit_count(xor(a.band{b}, b.band{b}))" for b in range(bands))
    return f"""
WITH toks AS (
  SELECT doc_id AS id,
         md5(unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> ''))) AS h
  FROM documents
  WHERE length(trim(text)) > 0
),
votes AS (
  SELECT id,
         {vote_cols}
  FROM toks GROUP BY id
),
bands AS (
  SELECT id,
         {band_cols}
  FROM votes
),
stacked AS (
{stack}
),
cands AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM stacked l JOIN stacked r ON l.band_idx = r.band_idx AND l.key = r.key
  WHERE l.id < r.id
),
pairs AS (
  SELECT c.id_a, c.id_b, CAST({ham} AS INT) AS hamming
  FROM cands c JOIN bands a ON c.id_a = a.id JOIN bands b ON c.id_b = b.id
)
SELECT id_a, id_b, hamming FROM pairs
WHERE hamming <= {max_hamming}
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# Embedding cosine near-dup (X2, semantic tier)
# ---------------------------------------------------------------------------


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    bucket_col: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int | None = None,
) -> DataFrame:
    """Semantic near-dup pairs: exact all-pairs cosine ≥ threshold, computed
    as a blocked matrix product.

    Scale design: rows are hashed into `num_blocks` blocks; each unordered
    block pair (i ≤ j) becomes one `applyInPandas` group whose pairwise
    cosine matrix is a single float64 BLAS matmul. Replication cost is
    O(N·B) narrow rows, compare cost O(N²) stays inside vectorized kernels
    instead of 4M+ per-row Catalyst `aggregate` folds — the standard
    block-nested-loop shape for all-pairs similarity on a cluster (pick
    B ≈ √parallelism; with an LSH/IVF `bucket_col` the same kernel runs
    per bucket and cost drops to Σ bucket²).

    Block-count default (round-8 measurement): UNBUCKETED all-pairs
    wants B=8 (36 block-pair groups ≈ the parallelism); BUCKETED runs
    already have ~√N groups from the buckets themselves, where B=8
    multiplied the Arrow group count 36× for pure overhead — B=2 keeps
    3-way intra-bucket parallelism for hot (skewed) cells and measured
    2.3× faster at sf0.1 with hash-identical output. Pass `num_blocks`
    explicitly to override either default."""
    if num_blocks is None:
        num_blocks = 2 if bucket_col else 8
    cols = [F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")]
    if bucket_col:
        cols.append(F.col(bucket_col).alias("bkt"))
    base = emb.select(*cols)
    blk = F.pmod(F.xxhash64(F.col("id")), F.lit(num_blocks)).cast("int")
    base = base.withColumn("blk", blk)

    spark = emb.sparkSession
    pair_rows = [(i, j) for i in range(num_blocks) for j in range(i, num_blocks)]
    pairs = spark.createDataFrame(pair_rows, "ba int, bb int")
    join_keys = ["ba", "bb", "bkt"] if bucket_col else ["ba", "bb"]

    a_side = pairs.join(base.withColumnRenamed("blk", "ba"), on="ba").withColumn(
        "side", F.lit("a")
    )
    b_side = pairs.join(base.withColumnRenamed("blk", "bb"), on="bb").withColumn(
        "side", F.lit("b")
    )
    both = a_side.unionByName(b_side)

    thr = float(threshold)

    def _compare(key, pdf):
        import numpy as np
        import pandas as pd

        out_empty = pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                                  "id_b": pd.Series(dtype="int64"),
                                  "cosine": pd.Series(dtype="float64")})
        diagonal = key[0] == key[1]
        a = pdf[pdf["side"] == "a"]
        b = pdf[pdf["side"] == "b"]
        if a.empty or b.empty:
            return out_empty
        ma = np.vstack(a["v"].to_numpy()).astype(np.float64)
        mb = np.vstack(b["v"].to_numpy()).astype(np.float64)
        na = np.linalg.norm(ma, axis=1)
        nb = np.linalg.norm(mb, axis=1)
        na[na == 0] = 1.0  # zero-norm rows: cosine defined as 0 (guarded like A4)
        nb[nb == 0] = 1.0
        sims = (ma / na[:, None]) @ (mb / nb[:, None]).T  # ansi: numpy; zero norms remapped to 1 above
        # round-half-up at 6dp to match Spark/DuckDB ROUND semantics
        rounded = np.where(sims >= 0, np.floor(sims * 1e6 + 0.5), np.ceil(sims * 1e6 - 0.5)) / 1e6
        ia, ib = np.nonzero(rounded >= thr)
        ids_a = a["id"].to_numpy()[ia]
        ids_b = b["id"].to_numpy()[ib]
        if diagonal:
            # both orientations of every pair are present — keep the triangle
            keep = ids_a < ids_b
            lo, hi = ids_a, ids_b
        else:
            # disjoint blocks: each unordered pair appears exactly once with
            # arbitrary id orientation — canonicalize instead of filtering
            keep = ids_a != ids_b
            lo = np.minimum(ids_a, ids_b)
            hi = np.maximum(ids_a, ids_b)
        return pd.DataFrame(
            {"id_a": lo[keep], "id_b": hi[keep], "cosine": rounded[ia, ib][keep]}
        )

    return both.groupBy(*join_keys).applyInPandas(
        _compare, schema="id_a long, id_b long, cosine double"
    )
