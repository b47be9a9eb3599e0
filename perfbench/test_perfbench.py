"""Self-tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys
from decimal import Decimal

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import serve  # noqa: E402
from stats import Outcomes, percentile, row_digest, tail_percentile  # noqa: E402
from tracing import _covered_ms  # noqa: E402


# -- percentile rule -----------------------------------------------------------

@pytest.mark.parametrize("n,want", [
    (0, None), (19, None), (20, 50), (39, 50), (40, 75),
    (99, 75), (100, 90), (199, 90), (200, 95), (999, 95), (1000, 99),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want
    if want is not None:
        assert n * (100 - want) / 100 >= 10


def test_percentile_matches_numpy_linear():
    xs = list(np.random.default_rng(1).exponential(size=37))
    for p in (0, 25, 50, 75, 90, 100):
        assert percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)))


# -- failure accounting ------------------------------------------------------

def test_failed_frac_counts_raises_and_failed_checks():
    out = Outcomes()
    out.record(True)
    out.record(False, "search 3: ValueError")  # a call that raised
    out.record(False, "exact 4: file missing")  # an output that failed its check
    out.record(True)
    assert (out.attempted, out.failed) == (4, 2)
    assert out.failed_frac == 0.5
    other = Outcomes()
    other.record(False, "durability")
    out.merge(other)
    assert (out.attempted, out.failed) == (5, 3)
    assert len(out.errors) == 3
    assert Outcomes().failed_frac == 1.0  # nothing attempted is not a pass


# -- seeded generator ----------------------------------------------------------

def _tables(d):
    return {n: pq.read_table(os.path.join(d, f"{n}.parquet"))
            for n in ("documents", "embeddings", "lineitem")}


def test_corpus_is_a_function_of_the_seed(tmp_path):
    kw = dict(n_doc=120, n_emb=80, n_orders=300, n_parts=50)
    gen.write_corpus(str(tmp_path / "a"), 7, **kw)
    gen.write_corpus(str(tmp_path / "b"), 7, **kw)
    gen.write_corpus(str(tmp_path / "c"), 8, **kw)
    a, b, c = (_tables(str(tmp_path / x)) for x in "abc")
    assert all(a[n].equals(b[n]) for n in a)
    assert not a["documents"].equals(c["documents"])
    docs = a["documents"].to_pydict()
    assert docs["n_chars"] == [len(t) for t in docs["text"]]


def test_near_duplicate_chains_keep_length():
    rng = np.random.default_rng(3)
    texts = gen._texts(rng, 200, n_chains=4, chain_len=6)
    lengths: dict[int, int] = {}
    for t in texts:
        lengths[len(t)] = lengths.get(len(t), 0) + 1
    # each chain is six same-length documents
    assert sum(1 for v in lengths.values() if v >= 6) >= 4


def _take(it, n):
    return [next(it) for _ in range(n)]


def test_request_stream_is_seeded_with_a_fixed_mix():
    texts = [f"alpha beta gamma delta {i}" for i in range(30)]
    a = _take(gen.requests(5, texts), 60)
    assert a == _take(gen.requests(5, texts), 60)
    assert a != _take(gen.requests(6, texts), 60)
    assert [r["rid"] for r in a] == list(range(60))
    repeats = [r for r in a if r["file_name"] != f"query_{r['rid']}.pdf"]
    assert 11 <= len(repeats) <= 12  # 4 per block; the very first cannot repeat
    assert {r["court_level"] for r in a} == {0, 1, 2, 3}


def test_ingest_docs_are_unseen_and_seeded():
    texts = ["one two three", "four five six"]
    a = _take(gen.ingest_docs(9, texts), 10)
    assert a == _take(gen.ingest_docs(9, texts), 10)
    assert len({d["file_name"] for d in a}) == 10
    assert all(d["text"] not in texts and 1 <= d["court_level"] <= 4 for d in a)


# -- digests -------------------------------------------------------------------

def test_digest_is_order_and_engine_spelling_insensitive():
    rows = [(1, "a", 0.5), (2, "b", 1.0), (3, None, 2.25)]
    d = row_digest(rows, ["id", "name", "score"])
    assert d == row_digest(list(reversed(rows)), ["id", "name", "score"])
    # same values as another engine spells them, columns in another order
    other = [("b", Decimal("1.0"), 2.0), (None, 2.25, 3), ("a", 0.5, 1.0)]
    assert d == row_digest(other, ["name", "score", "id"])


def test_digest_catches_a_known_mismatch():
    rows = [(1, "a", 0.5), (2, "b", 1.0)]
    d = row_digest(rows, ["id", "name", "score"])
    assert d != row_digest([(1, "a", 0.5), (2, "b", 1.0001)], ["id", "name", "score"])
    assert d != row_digest(rows[:1], ["id", "name", "score"])
    assert d != row_digest(rows + rows[:1], ["id", "name", "score"])
    assert d != row_digest(rows, ["id", "name", "value"])


# -- serving checks ------------------------------------------------------------

def _response(req, hits, wins=1, valid=2):
    return {
        "status": "success",
        "query": {"file_name": req["file_name"], "input_court_level": req["court_level"],
                  "target_court_level": req["court_level"] + 1},
        "results": hits,
        "result_count": len(hits),
        "appellant_statistics": {
            "invalid_decisions": len(hits) - valid, "total_valid_decisions": valid,
            "win_count": wins, "win_percentage": round(wins / valid * 100.0, 2),
        },
    }


def _hit(fid, score):
    return {"case_decision": "won", "file_id": fid, "file_name": f"{fid}.pdf", "score": score}


def test_golden_shape_check():
    req = {"file_name": "q.pdf", "court_level": 1}
    good = _response(req, [_hit("a", 0.1), _hit("b", 0.2), _hit("c", 0.3)])
    assert serve.check_shape(good, req) == ""
    assert serve.check_shape(dict(good, status="error"), req)
    assert serve.check_shape(dict(good, result_count=2), req)
    assert serve.check_shape(_response(req, [_hit("a", 0.2), _hit("b", 0.1)]), req)
    assert serve.check_shape(_response(req, [_hit("a", 0.1), _hit("a", 0.2)]), req)
    assert serve.check_shape(_response(req, [_hit("a", 0.1), _hit("b", 0.2)], wins=2, valid=1), req)


def test_exact_check_against_brute_force():
    emb = np.array([[0.0, 0.0], [1.0, 0.0], [0.0, 2.0], [3.0, 0.0], [5.0, 5.0]])
    rows = {
        "chunk_id": np.arange(5),
        "file_id": np.array(list("abcde"), dtype=object),
        "court_level": np.array([2, 2, 2, 2, 3]),
        "embedding": emb,
    }
    req = {"file_name": "q.pdf", "court_level": 1}
    want = serve.top_files(rows, [0.0, 0.0], 2)
    assert [f for f, _ in want] == ["a", "b", "c", "d"]
    ok = {"results": [_hit(f, round(d, 4)) for f, d in want]}
    assert serve.check_exact(rows, req, ok, [0.0, 0.0]) == ""
    swapped = {"results": [_hit("a", 0.0), _hit("b", 1.0), _hit("e", 2.0), _hit("d", 3.0)]}
    assert "missing" in serve.check_exact(rows, req, swapped, [0.0, 0.0])
    off = {"results": [_hit(f, round(d, 4) + 0.01) for f, d in want]}
    assert "score" in serve.check_exact(rows, req, off, [0.0, 0.0])


def test_driver_time_is_wall_minus_job_cover():
    assert _covered_ms(0, 100, [(10, 30), (20, 40), (90, 150), (-5, 2)]) == 42
    assert _covered_ms(0, 100, []) == 0


def test_benchmark_json_names_the_printed_metrics():
    import json

    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
