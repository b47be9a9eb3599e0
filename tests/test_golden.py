"""README golden replay (SURVEY §5.2.3).

The reference repo's only correctness artifact is the sample
request/response in README.md:17-65: 5 results with ascending scores,
win statistics {win_count: 4, total_valid: 5, invalid: 0, win_percentage:
80.0}, and the input/target court_level = 2/3 contract (README.md:26-29).
This test synthesizes a corpus where that exact response is the provable
answer and replays the full read path — filtered over-fetch → per-file
dedup → top-5 → statistics → nested JSON assembly — end to end.
"""

from __future__ import annotations

import hashlib
import json
import math
import random
from types import SimpleNamespace

from pyspark.sql import functions as F

from pdf_parse_vector_db_spark.operators import knn
from pdf_parse_vector_db_spark.schemas import (
    DECISION_LOST,
    DECISION_WON,
    DECISIONS,
    SEARCH_FETCH_K,
)

#: (file_name, court_level, case_decision, [chunk vectors]) — file A carries a
#: decoy worse chunk to prove best-per-file dedup; file X sits at the wrong
#: court level to prove the filter; file F ranks 6th to prove top-5 cutoff.
_CORPUS = [
    ("case_a.pdf", 3, "appellant_won", [[0.1, 0.0], [0.5, 0.0]]),
    ("case_b.pdf", 3, "appellant_lost", [[0.0, 0.2]]),
    ("case_c.pdf", 3, "appellant_won", [[0.3, 0.0]]),
    ("case_d.pdf", 3, "appellant_won", [[0.0, 0.4]]),
    ("case_e.pdf", 3, "appellant_won", [[0.45, 0.0]]),
    ("case_f.pdf", 3, "appellant_lost", [[0.6, 0.0]]),
    ("case_x.pdf", 2, "appellant_lost", [[0.0, 0.0]]),
]

_QUERY_VEC = [0.0, 0.0]
_INPUT_LEVEL = 2  # README.md:27 — target is input + 1


def _sha(name: str) -> str:
    return hashlib.sha256(name.encode()).hexdigest()


def test_readme_golden_replay(spark):
    rows = [
        (name, _sha(name), level, dec, vec)
        for name, level, dec, vecs in _CORPUS
        for vec in vecs
    ]
    corpus = spark.createDataFrame(
        rows,
        "file_name string, file_id string, court_level int, "
        "case_decision string, embedding array<double>",
    )
    top = knn.search_pipeline(
        corpus,
        _QUERY_VEC,
        filter_cond=F.col("court_level") == _INPUT_LEVEL + 1,
        group_col="file_id",
        tiebreak_cols=("file_id",),
    )
    resp_df = knn.search_response(top, "query.pdf", _INPUT_LEVEL)
    resp = json.loads(resp_df.collect()[0].response)

    # response shape == README.md:17-65
    assert set(resp) == {
        "appellant_statistics", "query", "result_count", "results", "status",
    }
    assert resp["status"] == "success"
    assert resp["query"] == {
        "file_name": "query.pdf",
        "input_court_level": 2,
        "target_court_level": 3,
    }
    assert resp["result_count"] == 5

    # 5 hits, ascending scores, best-chunk-per-file, wrong level excluded
    names = [r["file_name"] for r in resp["results"]]
    assert names == ["case_a.pdf", "case_b.pdf", "case_c.pdf", "case_d.pdf", "case_e.pdf"]
    scores = [r["score"] for r in resp["results"]]
    assert scores == sorted(scores)
    assert math.isclose(scores[0], 0.1)  # file A's BEST chunk, not its 0.5 decoy
    for r in resp["results"]:
        assert r["file_id"] == _sha(r["file_name"])
        assert set(r) == {"case_decision", "file_id", "file_name", "score"}

    # statistics — the README's exact numbers (README.md:19-24)
    assert resp["appellant_statistics"] == {
        "invalid_decisions": 0,
        "total_valid_decisions": 5,
        "win_count": 4,
        "win_percentage": 80.0,
    }


def test_win_percentage_zero_guard(spark):
    """extract_and_search_v2.py:166-168 — all-invalid results must yield
    0.0, not a division error."""
    res = spark.createDataFrame(
        [("f1", "invalid"), ("f2", "invalid")], "file_id string, case_decision string"
    )
    row = knn.win_statistics(res).collect()[0]
    assert row.win_percentage == 0.0
    assert row.total_valid_decisions == 0
    assert row.invalid_decisions == 2


def _random_candidates(rng: random.Random) -> list[tuple]:
    """A candidate set as the service's Spark stage yields it: ≤ fetch_k
    (chunk_id, file_id, file_name, case_decision, dist) rows. Distances
    sit a sub-rounding jitter (or nothing) above a few base values, so
    many files tie at the 4-dp score while their raw distances differ;
    some files have a NULL case_decision or file_name."""
    bases = [0.25, 0.3107, 0.5, 1.125]
    rows, cid = [], 0
    for f in range(rng.randint(1, 40)):
        name = None if rng.random() < 0.05 else f"case_{rng.randrange(10**6)}_{f}.pdf"
        fid = _sha(name or f"unnamed {f}")
        dec = rng.choice(DECISIONS + [None])
        for _ in range(rng.randint(1, 5)):
            cid += rng.randint(1, 50)
            jitter = 0.0 if rng.random() < 0.2 else rng.random() * 4e-5
            rows.append((cid, fid, name, dec, rng.choice(bases) + jitter))
    rows.sort(key=lambda r: (r[4], r[0]))
    return rows[:SEARCH_FETCH_K]


def test_driver_tail_matches_spark_search_response(spark):
    """knn.search_response_rows — the serving facade's driver-side dedup,
    top-k, statistics and response — is the Spark reference plan
    (dedup_best_per_group → (dist, chunk_id) top-k → search_response) to
    the byte: key order, hit order among equal 4-dp scores (sort_array
    over the score-first struct, nulls first) and NULL fields dropped as
    to_json drops them."""
    saw_null_decision = saw_score_tie = False
    for seed in range(8):
        cands = spark.createDataFrame(
            _random_candidates(random.Random(seed)),
            "chunk_id long, file_id string, file_name string, "
            "case_decision string, dist double",
        )
        rows = (
            cands.orderBy("dist", "chunk_id")
            .select(
                "chunk_id",
                "file_id",
                "file_name",
                "case_decision",
                F.round("dist", 4).alias("score"),
            )
            .collect()
        )
        best = knn.dedup_best_per_group(
            cands, group_col="file_id", score_col="dist", tiebreak_cols=("chunk_id",)
        )
        for top_k in (0, 1, 5, SEARCH_FETCH_K + 20):
            top = (
                best.orderBy("dist", "chunk_id")
                .limit(top_k)
                .withColumn("score", F.round("dist", 4))
            )
            want = json.loads(
                knn.search_response(top, "query.pdf", _INPUT_LEVEL).collect()[0][0]
            )
            got = knn.search_response_rows(rows, "query.pdf", _INPUT_LEVEL, top_k)
            assert json.dumps(got) == json.dumps(want), (seed, top_k)
            results = want["results"]
            saw_null_decision |= any("case_decision" not in r for r in results)
            saw_score_tie |= any(
                a["score"] == b["score"] for a, b in zip(results, results[1:])
            )
    assert saw_null_decision and saw_score_tie  # the fixture covers both


def test_win_percentage_matches_spark_round(spark):
    """The driver-side win_percentage is Spark's round(wins/valid*100, 2)
    for every (wins, valid) a ≤ fetch_k result can hold. Spark rounds
    HALF_UP on the double's decimal string; Python's round() does not
    (3.125 → 3.12), so the helper must not use it."""
    pairs = [(w, v) for v in range(1, SEARCH_FETCH_K + 1) for w in range(v + 1)]
    pct = F.round(F.col("w").cast("double") / F.col("v").cast("double") * 100.0, 2)
    want = {
        (r.w, r.v): r.pct
        for r in spark.createDataFrame(pairs, "w int, v int")
        .select("w", "v", pct.alias("pct"))
        .collect()
    }
    python_round_differs = 0
    for w, v in pairs:
        hits = [
            SimpleNamespace(
                chunk_id=i,
                file_id=f"f{i:03d}",
                file_name=f"f{i:03d}.pdf",
                case_decision=DECISION_WON if i < w else DECISION_LOST,
                score=0.5,
            )
            for i in range(v)
        ]
        resp = knn.search_response_rows(hits, "q.pdf", 2, SEARCH_FETCH_K)
        stats = resp["appellant_statistics"]
        assert (stats["win_count"], stats["total_valid_decisions"]) == (w, v)
        assert stats["win_percentage"] == want[(w, v)], (w, v)
        python_round_differs += round(w / v * 100.0, 2) != want[(w, v)]
    assert python_round_differs  # e.g. 1/32: Spark 3.13, round() 3.12


def test_score_rounding_matches_spark_round(spark):
    """_spark_round(x, 4), which gives every exact score served from the
    driver matrix, equals Spark's round(DOUBLE, 4) on 60k seeded doubles:
    sqrt-shaped distances over the whole unit-vector range and near 0,
    constructed .xxxx5 ties and their nextafter neighbours. Spark reads
    the double's Double.toString, which on JDK 17 is not always the
    shortest repr the helper reads, so the equality is pinned here."""
    import numpy as np

    rng = np.random.default_rng(20261019)
    dists = np.sqrt(rng.uniform(0.0, 4.0, 20_000))
    small = np.sqrt(rng.uniform(0.0, 1e-6, 5_000))
    ties = (rng.integers(0, 20_000, 10_000) + 0.5) / 1e4
    xs = np.concatenate([
        dists,
        small,
        ties,
        np.nextafter(ties, 0.0),
        np.nextafter(ties, 3.0),
        np.nextafter(dists[:2_500], 0.0),
        np.nextafter(dists[:2_500], 3.0),
    ]).tolist()
    assert len(xs) >= 50_000
    got = [knn._spark_round(x, 4) for x in xs]
    want = [
        r.s
        for r in spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i int, x double")
        .select("i", F.round("x", 4).alias("s"))
        .orderBy("i")
        .collect()
    ]
    bad = [(x, g, w) for x, g, w in zip(xs, got, want) if g != w]
    assert not bad, bad[:5]
    assert sum(round(x, 4) != w for x, w in zip(xs, want))  # round() differs
