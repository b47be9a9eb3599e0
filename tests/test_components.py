"""Connected components (operators/components.py): hand-built graphs with
known components, chain deeper than one propagation round, and the
pair→cluster query contract."""

from __future__ import annotations

from pdf_parse_vector_db_spark.operators.components import connected_components


def _resolve(spark, pairs):
    df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    return {
        r.doc_id: r.component_id for r in connected_components(df).collect()
    }


def test_two_separate_components(spark):
    got = _resolve(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_chain_needs_multiple_rounds(spark):
    # a path graph 1-2-...-10: min label must walk the full diameter
    got = _resolve(spark, [(i, i + 1) for i in range(1, 10)])
    assert set(got.values()) == {1}
    assert len(got) == 10


def test_cycle_and_isolated_pair(spark):
    got = _resolve(spark, [(5, 6), (6, 7), (7, 5), (100, 200)])
    assert got[5] == got[6] == got[7] == 5
    assert got[100] == got[200] == 100


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_random_graphs_match_union_find(spark):
    """Distributed label propagation must agree with sequential union-find
    on randomized graphs (fixed seed — deterministic across runs)."""
    import random

    rng = random.Random(7)
    for _ in range(5):
        n_nodes = rng.randint(2, 40)
        n_edges = rng.randint(1, 60)
        pairs = [
            (rng.randint(1, n_nodes), rng.randint(1, n_nodes))
            for _ in range(n_edges)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        if not pairs:
            continue
        got = _resolve(spark, pairs)
        want = _union_find(pairs)
        assert got == want, (pairs, got, want)


def _resolve_star(spark, pairs):
    from pdf_parse_vector_db_spark.operators.components import (
        connected_components_star,
    )

    df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    return {
        r.doc_id: r.component_id
        for r in connected_components_star(df).collect()
    }


def test_star_matches_propagation_on_basics(spark):
    for pairs in (
        [(1, 2), (2, 3), (10, 11)],
        [(5, 6), (6, 7), (7, 5), (100, 200)],
        [(i, i + 1) for i in range(1, 10)],
    ):
        assert _resolve_star(spark, pairs) == _resolve(spark, pairs)


def test_star_handles_deep_path_graph(spark):
    """The point of star contraction: a 60-node path (diameter 59) must
    resolve to one component without 59 propagation rounds."""
    got = _resolve_star(spark, [(i, i + 1) for i in range(1, 60)])
    assert set(got.values()) == {1}
    assert len(got) == 60


def test_star_raises_at_its_round_cap(spark, monkeypatch):
    """Star contraction that exhausts MAX_ITERATIONS raises, as min-label
    does: one round cannot contract a 10-node path to stars, and the
    truncated edges would label it as several components."""
    import pytest

    from pdf_parse_vector_db_spark.operators import components

    monkeypatch.setattr(components, "MAX_ITERATIONS", 1)
    with pytest.raises(ValueError, match="did not converge"):
        _resolve_star(spark, [(i, i + 1) for i in range(1, 10)])


def test_star_random_graphs_match_union_find(spark):
    import random

    rng = random.Random(13)
    for _ in range(4):
        n_nodes = rng.randint(2, 40)
        n_edges = rng.randint(1, 60)
        pairs = [
            (rng.randint(1, n_nodes), rng.randint(1, n_nodes))
            for _ in range(n_edges)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        if not pairs:
            continue
        got = _resolve_star(spark, pairs)
        want = _union_find(pairs)
        assert got == want, (pairs, got, want)


def test_reliable_checkpoint_switch_same_results(spark, tmp_path):
    """Round-11 scale-safety switch: with the conf-gated reliable
    checkpoint dir set, every localCheckpoint lineage cut reroutes through
    DataFrame.checkpoint into that directory — identical results, and the
    checkpoint files actually land there (node-loss-safe posture)."""
    import os

    from pdf_parse_vector_db_spark.session import RELIABLE_CHECKPOINT_DIR_CONF

    pairs = [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10), (50, 51)]
    base = _resolve(spark, pairs)
    cdir = str(tmp_path / "reliable_ckpt")
    spark.conf.set(RELIABLE_CHECKPOINT_DIR_CONF, cdir)
    try:
        got = _resolve(spark, pairs)
    finally:
        spark.conf.unset(RELIABLE_CHECKPOINT_DIR_CONF)
    assert got == base
    # the cut really went through the reliable dir
    assert os.path.isdir(cdir) and any(os.scandir(cdir))
    # and with the conf unset again, stock localCheckpoint still works
    assert _resolve(spark, pairs) == base


def test_reliable_checkpoint_dir_set_once_per_conf_value(spark, tmp_path):
    """setCheckpointDir makes a new <dir>/<uuid> subdirectory per call and
    getCheckpointDir reports that subdirectory, so the shim must remember
    the conf value it set: three lineage cuts share one subdirectory, and
    a new conf value moves them to a new one."""
    import os

    from pdf_parse_vector_db_spark.session import RELIABLE_CHECKPOINT_DIR_CONF

    df = spark.range(10)
    cdir = str(tmp_path / "ckpt_once")
    spark.conf.set(RELIABLE_CHECKPOINT_DIR_CONF, cdir)
    try:
        for _ in range(3):
            assert df.localCheckpoint().count() == 10
        assert len(os.listdir(cdir)) == 1
        other = str(tmp_path / "ckpt_other")
        spark.conf.set(RELIABLE_CHECKPOINT_DIR_CONF, other)
        df.localCheckpoint().count()
        assert len(os.listdir(other)) == 1
        assert spark.sparkContext.getCheckpointDir().startswith(
            "file:" + other + "/"
        )
    finally:
        spark.conf.unset(RELIABLE_CHECKPOINT_DIR_CONF)


def test_local_checkpoint_shim_keeps_storage_level(spark, tmp_path):
    """The shim keeps DataFrame.localCheckpoint's signature: storageLevel
    is forwarded to the stock cut, and accepted (and ignored) in reliable
    mode."""
    from pyspark import StorageLevel

    from pdf_parse_vector_db_spark.session import RELIABLE_CHECKPOINT_DIR_CONF

    df = spark.range(5)
    cut = df.localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)
    assert cut.count() == 5
    spark.conf.set(RELIABLE_CHECKPOINT_DIR_CONF, str(tmp_path / "ckpt_sl"))
    try:
        cut = df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        assert cut.count() == 5
    finally:
        spark.conf.unset(RELIABLE_CHECKPOINT_DIR_CONF)
