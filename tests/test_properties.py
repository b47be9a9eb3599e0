"""Property tests (SURVEY §5.2.4): invariants that hold for ALL inputs,
not just fixtures — chunker token conservation, dedup idempotence,
top-k prefix monotonicity.

The chunker properties run hypothesis against the pure-Python fold (the
same function executed inside the Arrow batches); the Spark properties use
seeded random corpora (one session-bound example each — hypothesis driving
Spark jobs per example would be minutes, not seconds).
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from pdf_parse_vector_db_spark.operators import knn
from pdf_parse_vector_db_spark.operators.chunker import chunk_text
from pdf_parse_vector_db_spark.operators.dedup import exact_dedup

# words with no whitespace; paragraphs joined by blank lines like the
# reference's split contract (extract_and_embed.py:63)
_word = st.text(alphabet="abcdefgh", min_size=1, max_size=12)
_para = st.lists(_word, min_size=1, max_size=120).map(" ".join)
_doc = st.lists(_para, min_size=0, max_size=12).map("\n\n".join)


@given(_doc)
@settings(max_examples=150, deadline=None)
def test_chunker_conserves_tokens(text):
    """Every whitespace token of the input appears, in order, exactly once
    across the chunks — the fold never drops or duplicates content."""
    chunks = chunk_text(text, max_tokens=40)
    assert " ".join(chunks).split() == text.split()


@given(_doc)
@settings(max_examples=150, deadline=None)
def test_chunker_budget_or_single_paragraph(text):
    """A chunk exceeds the token budget only when it is a single oversized
    paragraph (reference edge b, extract_and_embed.py:62-77: lone paragraphs
    are never split)."""
    max_tokens = 40
    for c in chunk_text(text, max_tokens=max_tokens):
        if len(c.split()) > max_tokens:
            assert "\n" not in c  # multi-paragraph chunks stay within budget


@given(st.lists(_para, min_size=1, max_size=30))
@settings(max_examples=50, deadline=None)
def test_chunker_deterministic(paras):
    text = "\n\n".join(paras)
    assert chunk_text(text) == chunk_text(text)


def test_exact_dedup_idempotent(spark):
    """A1/X1: dedup(dedup(x)) == dedup(x), including when duplicates have
    differing ids (lowest id is the canonical representative)."""
    rows = [(i, f"text_{i % 7}") for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    once = exact_dedup(docs)
    twice = exact_dedup(once)
    got_once = sorted(tuple(r) for r in once.collect())
    got_twice = sorted(tuple(r) for r in twice.collect())
    assert got_once == got_twice
    assert [r[0] for r in got_once] == list(range(7))  # lowest-id reps


def test_topk_prefix_monotone(spark):
    """W1/W2: top-k is a prefix of top-(k+m) under a total order — the
    over-fetch-then-refine shape (limit=100 → 5) can never change the
    answer, only the candidate pool."""
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [0.1] * 8

    def ids(k):
        df = knn.knn_exact(corpus, q, k=k)
        # deterministic total order: break score ties by vec_id
        return [r.vec_id for r in df.orderBy("score", "vec_id").collect()]

    top5, top20 = ids(5), ids(20)
    assert top5 == top20[:5]


def test_ndv_sketch_error_bound(spark):
    """Sketch tier contract, two layers: the within-bound booleans the
    oracle-checked query surfaces are all TRUE, and the RAW estimates
    (no longer surfaced — they are engine-specific, which is what kept
    the query rows-only through round 8) stay inside the tighter
    measured envelope: HLL++ at rsd=0.02 within 5% of exact, the GK
    median at accuracy 10000 matching exact to rounding."""
    from pyspark.sql import functions as F

    from pdf_parse_vector_db_spark.plans.relational import ndv_sketch_accuracy

    rows = ndv_sketch_accuracy(spark, "/root/testdata/sf0.001").collect()
    assert rows, "no event_type groups"
    for r in rows:
        assert r.ndv_within_bound and r.p50_within_bound, r

    raw = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_ndv"),
            F.approx_count_distinct("user_id", 0.02).alias("hll_ndv"),
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("approx_percentile(value, 0.5, 10000)").alias("sp50"),
        )
        .collect()
    )
    for r in raw:
        assert abs(r.hll_ndv - r.exact_ndv) <= 0.05 * r.exact_ndv, r
        assert abs(r.sp50 - r.p50) <= max(0.01, 0.01 * abs(r.p50)), r


def test_ndv_sketch_null_event_type_group(spark, tmp_path):
    """A NULL event_type is a group of its own (GROUP BY semantics, as in
    the DuckDB twin): its exact NDV is its real distinct-user count, not
    the 0 a plain-equality join back to the NDV leg gave it."""
    from pdf_parse_vector_db_spark.plans.relational import ndv_sketch_accuracy

    rows = [
        (i, i % 5, None if i % 2 else "click", float(i), "{}") for i in range(20)
    ]
    spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.timestamp_seconds(F.col("event_id"))).write.parquet(
        str(tmp_path / "events.parquet")
    )
    got = {r.event_type: r for r in ndv_sketch_accuracy(spark, str(tmp_path)).collect()}
    assert set(got) == {None, "click"}
    assert got[None].exact_ndv == 5 and got["click"].exact_ndv == 5
    assert got[None].ndv_within_bound and got["click"].ndv_within_bound


@given(
    st.lists(st.sampled_from("abcdefghij"), min_size=1, max_size=400),
    st.integers(min_value=2, max_value=20),
)
@settings(max_examples=150, deadline=None)
def test_misra_gries_summary_never_drops_heavy_hitters(terms, k):
    """Core MG invariant (the one the distributed composition relies on):
    for ANY input stream and summary size k, every term with count > n/k
    survives in the summary — run against the same function executed
    inside mapInPandas."""
    import pandas as pd

    from pdf_parse_vector_db_spark.operators.frequent import _misra_gries_partition

    out = list(_misra_gries_partition(k)(iter([pd.DataFrame({"term": terms})])))
    candidates = set(out[0]["term"])
    n = len(terms)
    for t in set(terms):
        if terms.count(t) > n / k:
            assert t in candidates, (t, terms.count(t), n, k)
