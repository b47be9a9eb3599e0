"""Connected components (operators/components.py): hand-built graphs with
known components, chain deeper than one propagation round, and the
pair→cluster query contract. Tests of the Spark loop take the
`spark_loop` fixture, which closes the driver gate; the rest run where
the gate sends them, on the driver for these small graphs."""

from __future__ import annotations

import random

import pytest

from pdf_parse_vector_db_spark.operators import components, driver
from pdf_parse_vector_db_spark.operators.components import connected_components


@pytest.fixture()
def spark_loop(monkeypatch):
    """A driver gate of 0 bytes: connected_components runs its Spark loop."""
    monkeypatch.setattr(driver, "DRIVER_PULL_MAX_BYTES", 0)


def _resolve(spark, pairs):
    df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    return {
        r.doc_id: r.component_id for r in connected_components(df).collect()
    }


def test_two_separate_components(spark):
    got = _resolve(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_chain_needs_multiple_rounds(spark, spark_loop):
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


def _random_pairs(rng, n_graphs):
    """Random pair lists (no self-pairs) of up to 40 nodes and 60 pairs."""
    for _ in range(n_graphs):
        n_nodes = rng.randint(2, 40)
        n_edges = rng.randint(1, 60)
        pairs = [
            (rng.randint(1, n_nodes), rng.randint(1, n_nodes))
            for _ in range(n_edges)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        if pairs:
            yield pairs


def test_random_graphs_match_union_find(spark):
    """Components on the driver must agree with sequential union-find on
    randomized graphs (fixed seed — deterministic across runs)."""
    for pairs in _random_pairs(random.Random(7), 5):
        got = _resolve(spark, pairs)
        want = _union_find(pairs)
        assert got == want, (pairs, got, want)


def test_random_graphs_match_union_find_on_the_spark_loop(spark, spark_loop):
    for pairs in _random_pairs(random.Random(7), 5):
        got = _resolve(spark, pairs)
        want = _union_find(pairs)
        assert got == want, (pairs, got, want)


def test_min_labels_matches_union_find_at_any_depth():
    """The driver's propagation with pointer jumping, without Spark: random
    graphs over negative and positive ids, and paths of shuffled ids far
    deeper than the Spark loop's step cap."""
    import numpy as np

    rng = random.Random(11)
    for _ in range(200):
        n = rng.randint(2, 100)
        pairs = [(rng.randint(-n, n), rng.randint(-n, n)) for _ in range(rng.randint(1, 150))]
        ids, comp = components.min_labels(*np.array(pairs).T)
        assert dict(zip(ids.tolist(), comp.tolist())) == _union_find(pairs)
    for seed in range(3):
        order = np.random.default_rng(seed).permutation(5_000).astype(np.int32)
        ids, comp = components.min_labels(order[:-1], order[1:])
        assert ids.dtype == np.int32 and ids.tolist() == list(range(5_000))
        assert set(comp.tolist()) == {0}


def test_deep_path_resolves_on_the_driver_and_raises_on_the_spark_loop(
    spark, monkeypatch
):
    """A path of diameter 2×MAX_ITERATIONS + 9 is exact on the driver, where
    no round cap applies, and exhausts the Spark loop's cap at gate 0."""
    n = 2 * components.MAX_ITERATIONS + 10
    ids = random.Random(3).sample(range(1, 10 * n), n)
    pairs = list(zip(ids, ids[1:]))
    assert _resolve(spark, pairs) == _union_find(pairs) == {i: min(ids) for i in ids}
    monkeypatch.setattr(driver, "DRIVER_PULL_MAX_BYTES", 0)
    with pytest.raises(ValueError, match="did not converge"):
        _resolve(spark, pairs)


def test_odd_diameter_path_converges_a_round_sooner(spark, spark_loop, monkeypatch):
    """Each Spark round runs two steps and tests the second against the
    first. A path of diameter 9 is stable after 9 steps, so it converges in
    5 rounds (10 steps), and the same labels come back; testing against the
    labels from before both steps took 6 rounds, one more convergence
    action."""
    pairs = [(i, i + 1) for i in range(1, 10)]
    monkeypatch.setattr(components, "MAX_ITERATIONS", 10)
    assert _resolve(spark, pairs) == {i: 1 for i in range(1, 11)}
    monkeypatch.setattr(components, "MAX_ITERATIONS", 8)
    with pytest.raises(ValueError, match="did not converge"):
        _resolve(spark, pairs)


def test_driver_result_keeps_the_id_type_in_one_job(spark, monkeypatch):
    """Below the gate the pair list is collected in one Spark job, and the
    components come back as a local frame with the Spark loop's schema."""
    import uuid

    from pyspark.sql.types import IntegerType

    df = spark.createDataFrame([(7, 3), (3, 9), (20, 21)], "id_a int, id_b int")
    sc = spark.sparkContext
    group = f"cc-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "driver components")
    try:
        comp = connected_components(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert [f.dataType for f in comp.schema] == [IntegerType(), IntegerType()]
    assert "LocalTableScan" in comp._jdf.queryExecution().executedPlan().toString()
    assert {tuple(r) for r in comp.collect()} == {
        (3, 3), (7, 3), (9, 3), (20, 20), (21, 20)
    }
    monkeypatch.setattr(driver, "DRIVER_PULL_MAX_BYTES", 0)
    assert connected_components(df).schema == comp.schema


def test_ids_the_driver_cannot_take_run_the_spark_loop(spark, monkeypatch):
    """String ids, and an id column holding a NULL, run the Spark loop even
    below the gate: string labels are the lexicographic minimum, and a
    NULL id gives what the loop gives at gate 0."""
    words = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("z", "y")], "id_a string, id_b string"
    )
    got = {r.doc_id: r.component_id for r in connected_components(words).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "y": "y", "z": "y"}
    pairs = [(1, 2), (2, None), (None, 5), (5, 6)]
    below = _resolve(spark, pairs)
    monkeypatch.setattr(driver, "DRIVER_PULL_MAX_BYTES", 0)
    assert below == _resolve(spark, pairs)
    assert below[1] == below[2] == 1 and below[5] == below[6] == 5


def _resolve_star(spark, pairs):
    from pdf_parse_vector_db_spark.operators.components import (
        connected_components_star,
    )

    df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    return {
        r.doc_id: r.component_id
        for r in connected_components_star(df).collect()
    }


def test_star_matches_propagation_on_basics(spark, spark_loop):
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
    monkeypatch.setattr(components, "MAX_ITERATIONS", 1)
    with pytest.raises(ValueError, match="did not converge"):
        _resolve_star(spark, [(i, i + 1) for i in range(1, 10)])


def test_star_random_graphs_match_union_find(spark):
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


def test_reliable_checkpoint_switch_same_results(spark, tmp_path, spark_loop):
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
