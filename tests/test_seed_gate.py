"""Size gate on the IVF coarse-quantizer broadcast (round-8 verdict ask
#8, delivered round 10).

The seed relation (nlist ∝ √N rows of dim floats) is broadcast to every
executor by default — the right plan at any realistic nlist today — but at
N ≈ 10¹⁰ / dim 1536 it reaches ~1.2 GB and must NOT ride a broadcast.
`operators/ivf_index.seed_broadcast_hint` gates the hint on
nlist × dim × 8 B against a configured bound; past the bound the seed
crossJoins plan the shuffled-cartesian fallback. These tests pin BOTH plan
shapes and that the gate never changes values (same rows either side).
"""

from __future__ import annotations

from pdf_parse_vector_db_spark.operators.ivf_index import (
    SEED_BCAST_CONF,
    assign_cells,
    corpus_seeds,
)
from pdf_parse_vector_db_spark.plans.similarity import ivf_knn

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_seed_broadcast_under_bound_plans_broadcast(spark):
    """Default bound (128 MiB): the assignment argmin is a broadcast
    nested-loop join; no CartesianProduct anywhere."""
    df = ivf_knn(spark, SF)
    body = _plan(df)
    assert "BroadcastNestedLoopJoin" in body, body
    assert "CartesianProduct" not in body, body


def test_seed_broadcast_past_bound_falls_back_shuffle(spark):
    """Bound of 1 byte: the seed side joins UNHINTED, handing the decision
    back to Catalyst's size estimate. At fixture scale that estimate still
    auto-broadcasts (tiny seeds), so autoBroadcastJoinThreshold=-1 emulates
    the at-scale stats (a 1.2 GB seed relation is never auto-broadcast):
    the plan must degrade to the shuffled CartesianProduct fallback with
    IDENTICAL result rows — the gate is a physical-plan decision only."""
    want = [tuple(r) for r in ivf_knn(spark, SF).collect()]
    spark.conf.set(SEED_BCAST_CONF, "1")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = ivf_knn(spark, SF)
        got = [tuple(r) for r in df.collect()]
        body = _plan(df)
        assert "CartesianProduct" in body, body
        assert got == want
    finally:
        spark.conf.unset(SEED_BCAST_CONF)
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_corpus_seeds_gate_and_assign_cells(spark):
    """The operators-layer producer honors the same gate, and
    assign_cells inherits whichever decision the producer made —
    identical assignments on both sides of the gate."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = {
        (r.vec_id, r.cluster_id)
        for r in assign_cells(emb, corpus_seeds(emb))
        .select("vec_id", "cluster_id")
        .collect()
    }
    spark.conf.set(SEED_BCAST_CONF, "1")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = assign_cells(emb, corpus_seeds(emb)).select("vec_id", "cluster_id")
        got = {(r.vec_id, r.cluster_id) for r in df.collect()}
        body = _plan(df)
        assert "CartesianProduct" in body, body
    finally:
        spark.conf.unset(SEED_BCAST_CONF)
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert got == base


def test_service_ivf_build_honors_the_gate(spark, tmp_path):
    """The service's per-level IVF build routes its seeds through the same
    gate: with the bound at 0 its plans hold no BroadcastExchange (the
    automatic broadcast of a small relation is off, as above), and the
    ivf-tier response is the one the default bound gives."""
    from pdf_parse_vector_db_spark.api import SparkVectorService
    from pdf_parse_vector_db_spark.sources import manifest as M

    body = "The appellant filed a motion for review of the order. " * 40
    query = "The appellant filed a motion seeking review of the decision. " * 25
    path = str(tmp_path / "wh")
    svc = SparkVectorService(spark, path, manifested=True, auto_compact_commits=0)
    for i in range(6):
        svc.ingest_legal_document(f"case_{i}.pdf", body + f" variant {i}", court_level=3)
    want = svc.search_similar_cases("q.pdf", query, court_level=2, index="ivf")
    version = M.head_version(spark, path)
    store = spark._jsparkSession.sharedState().statusStore()

    def last_execution() -> int:
        execs = store.executionsList()
        return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)

    spark.conf.set(SEED_BCAST_CONF, "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        gated = SparkVectorService(spark, path, manifested=True, auto_compact_commits=0)
        first = last_execution()
        gated._ensure_index("ivf", version, 3)
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        execs = store.executionsList()
        plans = [
            execs.apply(i).physicalPlanDescription()
            for i in range(execs.size())
            if execs.apply(i).executionId() > first
        ]
        got = gated.search_similar_cases("q.pdf", query, court_level=2, index="ivf")
    finally:
        spark.conf.unset(SEED_BCAST_CONF)
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert any("CartesianProduct" in p for p in plans), plans
    assert not any("BroadcastExchange" in p for p in plans), plans
    assert got == want


def test_incremental_dedup_candidate_broadcast_honors_the_gate(spark, monkeypatch):
    """incremental_dedup broadcasts its batch-bounded candidate ids only
    while they fit its byte bound: past it (bound 0, automatic broadcast
    off as above) the history semi-join plans no BroadcastExchange, and
    the rows are the ones the default bound gives."""
    from pdf_parse_vector_db_spark.plans import curation

    def run():
        df = curation.incremental_dedup(spark, SF)
        return [tuple(r) for r in df.collect()], _plan(df)

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        want, hinted = run()
        monkeypatch.setattr(curation, "_INC_CANDS_BCAST_MAX_BYTES", 0)
        got, gated = run()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "BroadcastExchange" in hinted, hinted
    assert "BroadcastExchange" not in gated, gated
    assert got == want and any(r[3] for r in want)
