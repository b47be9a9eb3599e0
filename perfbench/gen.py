"""Seeded inputs for every workload.

Everything the program sees is made here, from numbers alone: no fixture
directory is read. Two kinds of input:

* ``write_corpus(out_dir, seed, ...)`` writes parquet tables in the
  fixture schemas the registry queries expect (``documents``,
  ``embeddings``, ``lineitem``). Word-salad documents over a 31-word
  vocabulary, unit-norm 64-dim embeddings with labels 0-9, and a
  Poisson(4) order/part relation. Near-duplicate chains are planted in
  ``documents`` (same length, a few same-length word swaps per link), so
  the dedup and connected-components queries have real clusters to find.
* ``requests(...)`` / ``ingest_docs(...)`` make the serving request
  streams from the corpus texts.

The same seed always gives byte-identical tables and streams.
"""

from __future__ import annotations

import itertools
import os
from collections import deque
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "key agg row scan slow fast table value part hash merge batch a the line "
    "sort window spark order data column join small customer query big group "
    "stream filter vector"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
#: search requests per block, and how many of them repeat a recent text
BLOCK = 20
REPEATS_PER_BLOCK = 4
#: court levels searched (0..LEVELS-1); ingests land on 1..LEVELS
LEVELS = 4

#: words grouped by length: a swap inside a group keeps n_chars, which is
#: the bucket key of the n-gram dedup queries
_SAME_LEN = {}
for _w in VOCAB:
    _SAME_LEN.setdefault(len(_w), []).append(_w)


def _texts(rng: np.random.Generator, n_doc: int, n_chains: int, chain_len: int):
    lengths = rng.integers(10, 101, n_doc)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    offsets = np.r_[0, np.cumsum(lengths)]
    docs = [list(words[offsets[i]:offsets[i + 1]]) for i in range(n_doc)]
    # near-duplicate chains: each link copies the previous one and swaps
    # two words for others of the same length
    slots = rng.choice(n_doc, n_chains * chain_len, replace=False)
    for c in range(n_chains):
        ids = slots[c * chain_len:(c + 1) * chain_len]
        cur = docs[int(ids[0])]
        for d in ids[1:]:
            cur = list(cur)
            for p in rng.integers(0, len(cur), 2):
                pool = _SAME_LEN[len(cur[p])]
                cur[p] = pool[int(rng.integers(0, len(pool)))]
            docs[int(d)] = cur
    return [" ".join(d) for d in docs]


def write_corpus(
    out_dir: str,
    seed: int,
    n_doc: int = 500,
    n_emb: int = 500,
    n_orders: int = 15_000,
    n_parts: int = 2_000,
) -> None:
    """Write the fixture-schema tables."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, n_doc, n_emb])
    texts = _texts(rng, n_doc, n_chains=max(1, n_doc // 50), chain_len=6)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(np.arange(n_doc), type=pa.int64()),
            "text": texts,
            "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }),
        os.path.join(out_dir, "documents.parquet"),
    )
    vecs = rng.standard_normal((n_emb, 64))  # the engine's EMBEDDING_DIM
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(n_emb), type=pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), type=pa.int32()),
        }),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    n_li = 4 * n_orders
    lok = np.sort(rng.integers(0, n_orders, n_li))
    pq.write_table(
        pa.table({
            "l_orderkey": pa.array(lok, type=pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_parts, n_li), type=pa.int64()),
        }),
        os.path.join(out_dir, "lineitem.parquet"),
    )


def read_texts(corpus_dir: str) -> list[str]:
    return pq.read_table(
        os.path.join(corpus_dir, "documents.parquet"), columns=["text"]
    ).column("text").to_pylist()


def requests(seed: int, texts: list[str]) -> Iterator[dict]:
    """An endless search request stream, in blocks of ``BLOCK`` requests
    with a fixed mix shuffled within the block: ``REPEATS_PER_BLOCK``
    re-send one of the last 8 texts (what the response cache serves), the
    rest are new texts (a corpus text with three words rewritten) at court
    levels 0..LEVELS-1. A fixed share of repeats keeps the cost of a
    window's mix the same from seed to seed."""
    rng = np.random.default_rng([seed, 7])
    recent: deque[dict] = deque(maxlen=8)
    kinds = np.array([True] * REPEATS_PER_BLOCK + [False] * (BLOCK - REPEATS_PER_BLOCK))
    rid = itertools.count()
    while True:
        for repeat in rng.permutation(kinds):
            if repeat and recent:
                yield dict(recent[int(rng.integers(0, len(recent)))], rid=next(rid))
                continue
            words = texts[int(rng.integers(0, len(texts)))].split()
            for p in rng.integers(0, len(words), 3):
                words[p] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            i = next(rid)
            req = {
                "rid": i,
                "file_name": f"query_{i}.pdf",
                "text": " ".join(words),
                "court_level": int(rng.integers(0, LEVELS)),
            }
            recent.append(req)
            yield req


def ingest_docs(seed: int, texts: list[str]) -> Iterator[dict]:
    """Endless unseen documents to ingest: corpus texts with a seeded
    12-word suffix, stored at court levels 1..LEVELS (the levels searches
    target)."""
    rng = np.random.default_rng([seed, 11])
    for i in itertools.count():
        base = texts[int(rng.integers(0, len(texts)))]
        tail = " ".join(VOCAB[int(k)] for k in rng.integers(0, len(VOCAB), 12))
        yield {
            "file_name": f"ingest_{seed}_{i}.pdf",
            "text": f"{base} {tail}",
            "court_level": 1 + int(rng.integers(0, LEVELS)),
        }
