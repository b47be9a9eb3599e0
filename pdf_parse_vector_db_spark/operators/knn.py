"""Exact k-nearest-neighbor search and the reference's search post-pipeline.

Reference read path (extract_and_search.py:94-131, SURVEY §3.2):
  ANN search (filter court_level == target, L2, limit=100)
  → dedup to best hit per file_id
  → sort ascending by score, take top-5
  → win statistics.

Spark-first restatement:
  - The 1-query × corpus search is NOT a join problem: broadcast the single
    query vector, compute a distance column over the (pushed-down) filtered
    scan, and let Catalyst plan `TakeOrderedAndProject` for the top-k —
    per-partition partial top-k, no full sort, no shuffle of the corpus.
  - The per-file dedup (A1) is one hash shuffle on file_id over at most
    `fetch_k` rows — because it runs AFTER the top-k, not before, the
    shuffle input is 100 rows, not 100 TB. This mirrors the reference's
    over-fetch-then-refine shape (limit=100 → dedup → top 5) exactly.
  - At 100 TB the scan dominates; partition pruning on the filter column
    (plans/ingest.py partitions by court_level) turns it into a fraction
    of the corpus, and the scale tier (operators/ann.py) prunes further.
"""

from __future__ import annotations

import functools
from collections.abc import Sequence
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pdf_parse_vector_db_spark.functions.vector import cosine_similarity, l2_distance
from pdf_parse_vector_db_spark.schemas import (
    DECISION_WON,
    SEARCH_FETCH_K,
    SEARCH_TOP_K,
    VALID_DECISIONS,
)


def distance_col(metric: str, a: Column, b: Column) -> Column:
    """Distance/score column; ascending order = better for both metrics."""
    if metric == "l2":
        return l2_distance(a, b)
    if metric == "cosine":
        # ascending "distance" = 1 - cosine similarity
        return F.lit(1.0) - cosine_similarity(a, b)
    raise ValueError(f"unknown metric: {metric}")


def knn_exact(
    corpus: DataFrame,
    query_vec: Sequence[float] | Column,
    k: int = SEARCH_TOP_K,
    vec_col: str = "embedding",
    metric: str = "l2",
    score_name: str = "score",
) -> DataFrame:
    """Brute-force exact top-k against one query vector.

    `query_vec` may be a Python sequence (becomes a literal array — the
    broadcast-of-one analog of Milvus `data=[vec]`,
    extract_and_search.py:105) or a Column referencing an attached query
    column. Plans as scan → project(distance) → TakeOrderedAndProject:
    embarrassingly parallel, no shuffle beyond the final k-row gather.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec]) if not isinstance(query_vec, Column) else query_vec
    scored = corpus.withColumn(score_name, distance_col(metric, F.col(vec_col), q))
    return scored.orderBy(F.col(score_name).asc()).limit(k)


def knn_exact_blas(
    corpus: DataFrame,
    query_vec: Sequence[float],
    k: int = SEARCH_TOP_K,
    vec_col: str = "embedding",
    metric: str = "l2",
    score_name: str = "score",
) -> DataFrame:
    """knn_exact with the distance kernel in NumPy instead of a Catalyst
    fold — identical answers (tested), different constant factor.

    The zip_with/aggregate expression walks dim elements per row through
    codegen'd per-element lambdas; at the reference's dim=1536 that loses to
    one Arrow transfer + a vectorized batch norm. Crossover is around a few
    hundred dims — below that, prefer `knn_exact` (no Python in the plan).
    Plan shape is unchanged: map (distance) → TakeOrderedAndProject."""
    from pyspark.sql.types import DoubleType

    q = np.asarray(list(query_vec), dtype=np.float64)

    @F.pandas_udf(DoubleType())
    def dist(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy()).astype(np.float64)
        if metric == "l2":
            d = np.sqrt(((m - q) ** 2).sum(axis=1))
        elif metric == "cosine":
            nm = np.linalg.norm(m, axis=1)
            nq = np.linalg.norm(q)
            denom = nm * nq
            denom[denom == 0] = np.inf  # zero-norm → similarity 0 → distance 1
            d = 1.0 - (m @ q) / denom  # ansi: numpy; zero denom remapped to inf above
        else:
            raise ValueError(f"unknown metric: {metric}")
        return pd.Series(d)

    scored = corpus.withColumn(score_name, dist(F.col(vec_col)))
    return scored.orderBy(F.col(score_name).asc()).limit(k)


def mmr_rerank_groups(
    cands: DataFrame,
    lam: float = 0.7,
    k: int = 5,
    group_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rel_col: str = "rel",
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k per query group
    (Carbonell & Goldstein 1998): greedily select
    argmax_d  λ·rel(d) − (1−λ)·max_{s∈selected} cos(d, s).

    The greedy argmax is inherently sequential per group — the textbook
    applyInPandas case: each group is one query's candidate list (fetch
    depth × dim floats), so task memory is bounded by the fetch depth,
    never the corpus. Pairwise sims are one GEMM per group. Deterministic:
    scores round to 9 dp before argmax with an id tie-break, so results
    are stable across partitionings and engines.

    Returns (group_col, rank, id_col, score) with rank 1..k and `score`
    the 9-dp MMR objective exactly as used for selection (surfacing the
    selection value avoids a second rounding, whose half-way boundaries
    the two engines break differently). λ=1 degenerates to plain
    top-k by rel (asserted in tests/test_retrieval.py)."""
    out_schema = f"{group_col} bigint, rank int, {id_col} bigint, score double"

    def mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
        norms = np.linalg.norm(v, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        v = v / norms  # ansi: numpy; zero norms remapped to 1 above
        rel = pdf[rel_col].to_numpy(dtype=np.float64)
        ids = pdf[id_col].to_numpy()
        sims = v @ v.T
        n = len(pdf)
        avail = np.ones(n, dtype=bool)
        max_sim = np.zeros(n, dtype=np.float64)
        ranks, picks, scores = [], [], []
        for r in range(min(k, n)):
            score = lam * rel - (0.0 if r == 0 else 1.0 - lam) * max_sim
            score = np.round(score, 9)
            score[~avail] = -np.inf
            best_score = score.max()
            best = ids[score == best_score].min()
            bidx = int(np.flatnonzero(ids == best)[0])
            avail[bidx] = False
            np.maximum(max_sim, sims[:, bidx], out=max_sim)
            ranks.append(r + 1)
            picks.append(int(best))
            scores.append(float(best_score))  # already 9-dp rounded
        return pd.DataFrame(
            {
                group_col: pdf[group_col].iloc[: len(picks)].to_numpy(),
                "rank": ranks,
                id_col: picks,
                "score": scores,
            }
        )

    return cands.groupBy(group_col).applyInPandas(mmr, out_schema)


@functools.cache
def rank_in_group(
    group_col: str, score_col: str, tiebreak_cols: tuple[str, ...] = ()
) -> Column:
    """row_number() over (group, score asc, tiebreaks asc). Built once per
    signature: a Column is an immutable unresolved expression, and each
    plan that uses it is analysed afresh, so serving requests share it
    instead of rebuilding the window on the driver every call."""
    order = [F.col(score_col).asc()] + [F.col(c).asc() for c in tiebreak_cols]
    return F.row_number().over(Window.partitionBy(group_col).orderBy(*order))


def dedup_best_per_group(
    hits: DataFrame,
    group_col: str = "file_id",
    score_col: str = "score",
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Keep the best (lowest-score) row per group — the reference's
    first-hit-per-file dedup (extract_and_search.py:113-126; input arrives
    sorted so first = best, comment "Use the best score" at :125).

    Window row_number over (group, score asc): one shuffle on the group key;
    map-side it is a partial sort of ≤fetch_k rows. Deterministic tiebreak
    columns make results stable under engine-dependent row order.
    """
    rn = rank_in_group(group_col, score_col, tuple(tiebreak_cols))
    return hits.withColumn("__rn", rn).filter(F.col("__rn") == 1).drop("__rn")


def search_pipeline(
    corpus: DataFrame,
    query_vec: Sequence[float] | Column,
    filter_cond: Column | None = None,
    group_col: str = "file_id",
    vec_col: str = "embedding",
    fetch_k: int = SEARCH_FETCH_K,
    top_k: int = SEARCH_TOP_K,
    metric: str = "l2",
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Full reference read path: filtered over-fetch (limit=100) → best per
    group → ascending top-5 (extract_and_search.py:94-131)."""
    base = corpus.filter(filter_cond) if filter_cond is not None else corpus
    hits = knn_exact(base, query_vec, k=fetch_k, vec_col=vec_col, metric=metric)
    best = dedup_best_per_group(hits, group_col=group_col, tiebreak_cols=tiebreak_cols)
    order = [F.col("score").asc()] + [F.col(c).asc() for c in tiebreak_cols]
    return best.orderBy(*order).limit(top_k)


def win_statistics(results: DataFrame, decision_col: str = "case_decision") -> DataFrame:
    """Win-rate statistics over a result set (extract_and_search_v2.py:161-170):
    conditional counts + divide-by-zero-guarded percentage, rounded to 2
    (jsonify at :361-376). Single-row output; one partial+final hash agg."""
    wins = F.count_if(F.col(decision_col) == DECISION_WON)
    valid = F.count_if(F.col(decision_col).isin(*VALID_DECISIONS))
    total = F.count(F.lit(1))
    return results.agg(
        wins.alias("win_count"),
        valid.alias("total_valid_decisions"),
        (total - valid).alias("invalid_decisions"),
        F.round(
            # ansi: the valid > 0 CASE arm guards the division
            F.when(valid > 0, wins.cast("double") / valid.cast("double") * 100.0).otherwise(0.0), 2
        ).alias("win_percentage"),
        total.alias("result_count"),
    )


def search_response(
    results: DataFrame,
    query_file_name: str,
    input_court_level: int,
    decision_col: str = "case_decision",
    score_col: str = "score",
    id_col: str = "file_id",
    name_col: str = "file_name",
) -> DataFrame:
    """S8: assemble the full nested search response as ONE JSON row —
    `jsonify({status, query{...}, results[...], result_count,
    appellant_statistics{...}})` (extract_and_search_v2.py:361-376; golden
    shape README.md:17-65).

    Single aggregation: the hit structs collect sorted by ascending score
    (sort_array on a score-first struct), statistics ride in the same agg —
    no second pass, no driver-side assembly beyond the 1-row collect.
    The serving facade builds the same dict on the driver from ≤ fetch_k
    rows (search_response_rows); this plan is its reference."""
    wins = F.count_if(F.col(decision_col) == DECISION_WON)
    valid = F.count_if(F.col(decision_col).isin(*VALID_DECISIONS))
    total = F.count(F.lit(1))
    hit = F.struct(
        F.col(score_col).alias("__score"),
        F.struct(
            F.col(decision_col).alias("case_decision"),
            F.col(id_col).alias("file_id"),
            F.col(name_col).alias("file_name"),
            F.col(score_col).alias("score"),
        ).alias("entity"),
    )
    hits = F.transform(F.sort_array(F.collect_list(hit)), lambda h: h["entity"])
    stats = F.struct(
        (total - valid).alias("invalid_decisions"),
        valid.alias("total_valid_decisions"),
        wins.alias("win_count"),
        F.round(
            # ansi: the valid > 0 CASE arm guards the division
            F.when(valid > 0, wins.cast("double") / valid.cast("double") * 100.0)
            .otherwise(0.0),
            2,
        ).alias("win_percentage"),
    )
    echo = F.struct(
        F.lit(query_file_name).alias("file_name"),
        F.lit(int(input_court_level)).alias("input_court_level"),
        F.lit(int(input_court_level) + 1).alias("target_court_level"),
    ).alias("query")
    response = F.struct(
        stats.alias("appellant_statistics"),
        echo,
        total.alias("result_count"),
        hits.alias("results"),
        F.lit("success").alias("status"),
    )
    return results.agg(F.to_json(response).alias("response"))


# -- driver-side tail over a collected candidate set ---------------------------
#
# The serving facade's searches are bounded by SEARCH_FETCH_K: once the
# Spark plan has produced the ≤ fetch_k nearest candidates, everything the
# reference does after its Milvus call (extract_and_search.py:113-126,
# extract_and_search_v2.py:161-170) is Python over ≤ 100 rows. These
# helpers are that tail; dedup_best_per_group and search_response above
# are their Spark reference (tests/test_golden.py pins the equality).


def best_per_file(rows: Sequence, group_size: int = 1) -> list[list]:
    """Each file's first `group_size` rows, files in order of their first
    row. `rows` must arrive in ascending (dist, chunk_id) order, so first
    = best — the reference's first-hit-per-file dedup (comment "Use the
    best score", extract_and_search.py:125) and, for group_size > 1,
    dedup_best_per_group's row_number ≤ group_size."""
    files: dict = {}
    for r in rows:
        hits = files.setdefault(r.file_id, [])
        if len(hits) < group_size:
            hits.append(r)
    return list(files.values())


def _spark_round(x: float, scale: int) -> float:
    """Spark's ``round(DOUBLE, scale)``: HALF_UP on the double's decimal
    string (BigDecimal.valueOf), where Python's round() works on the
    binary value half-to-even (3.125 → 3.13 here, 3.12 there)."""
    q = Decimal(repr(x)).quantize(Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP)
    return float(q)


def _nulls_first(v) -> tuple:
    return (0,) if v is None else (1, v)


def search_response_rows(
    rows: Sequence, query_file_name: str, input_court_level: int, top_k: int
) -> dict:
    """search_response's dict (json.loads of its JSON) from candidate rows
    — chunk_id, file_id, file_name, case_decision and the 4-dp `score`, in
    ascending (dist, chunk_id) order: best per file → first `top_k` files
    → win statistics. Hits order as sort_array orders the score-first
    hit struct (score, then the entity's fields, nulls first), and a NULL
    field is absent, as to_json drops it."""
    top = [hits[0] for hits in best_per_file(rows)][:top_k]
    decisions = [r.case_decision for r in top]
    wins = decisions.count(DECISION_WON)
    valid = sum(d in VALID_DECISIONS for d in decisions)
    entities = [(r.case_decision, r.file_id, r.file_name, r.score) for r in top]
    entities.sort(key=lambda e: (_nulls_first(e[3]), *map(_nulls_first, e)))
    keys = ("case_decision", "file_id", "file_name", "score")
    echo = {
        "file_name": query_file_name,
        "input_court_level": int(input_court_level),
        "target_court_level": int(input_court_level) + 1,
    }
    return {
        "appellant_statistics": {
            "invalid_decisions": len(top) - valid,
            "total_valid_decisions": valid,
            "win_count": wins,
            # ansi: driver-side python; the `if valid` arm guards the division
            "win_percentage": _spark_round(wins / valid * 100.0, 2) if valid else 0.0,
        },
        "query": {k: v for k, v in echo.items() if v is not None},
        "result_count": len(top),
        "results": [
            {k: v for k, v in zip(keys, e) if v is not None} for e in entities
        ],
        "status": "success",
    }
