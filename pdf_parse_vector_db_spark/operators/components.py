"""Connected components over near-dup pairs (north-star X1/X2 extension).

Near-dup detection emits PAIRS; dedup needs CLUSTERS (keep one doc per
component, drop the rest). The bridge is connected components: label every
doc with the minimum doc_id reachable through the pair graph.

Two tiers behind one size gate (operators/driver.py). A pair list the
gate admits — near-dup graphs of a few thousand edges — is pulled to the
driver once over Arrow and resolved in NumPy by min-label propagation
with pointer jumping, exact at any diameter. Above the gate the data
never leaves the cluster: Pregel-style min-label propagation runs as a
driver-bounded loop of DataFrame joins — each iteration is one shuffle
join of the label frame against the (symmetrized) edge list plus a
min-agg, label frames are localCheckpoint()ed to cut lineage, and the
loop exits when a step changes no label (one scalar count per double
step). Iterations needed = graph diameter, and near-dup components are
shallow (dup clusters are cliques or near-cliques from banding, diameter
≤ ~3), so the loop runs 2-4 rounds in practice. For adversarially deep
graphs `connected_components_star` implements the large-star/small-star
contraction (Kiveris et al., "Connected Components in MapReduce"), which
converges in O(log² n) rounds on any topology — the 100 TB deep-graph
tier, always on Spark; GraphFrames' run is the same pattern packaged.

No reference citation: the reference dedups only by exact file_id match
(extract_and_embed.py:85-131); components are the driver-mandated
LLM-pipeline extension (BASELINE.json).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from pdf_parse_vector_db_spark.operators import driver

MAX_ITERATIONS = 20


def _min_label_step(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous min-label propagation step (name-keyed joins so two
    steps compose in a single plan without attribute ambiguity).

    `edges` MUST carry a self-loop per node (added once in
    `connected_components` before the checkpoint): min over the CLOSED
    neighborhood {self} ∪ Γ(node) equals least(own, min(neighbors)), so
    the step is ONE join + ONE aggregate — the round-10 optimization
    dropped the old second (left) join + coalesce per step, removing an
    exchange from every propagation step of every caller."""
    return (
        edges.select(F.col("src").alias("via"), F.col("dst").alias("node"))
        .join(labels, on="node")
        .groupBy(F.col("via").alias("node"))
        .agg(F.min("label").alias("label"))
    )


def min_labels(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The components of the undirected edges (a[i], b[i]) on the driver:
    (every node id ascending, its component's minimum id).

    Labels are node ranks, so a smaller label is a smaller id. Each round
    lowers both endpoints of every edge, and both endpoints' labels
    (hooking their roots), to the edge's smaller label, then jumps
    pointers (lab ← lab[lab]) until each label is a root. Labels only
    fall and each stays inside its node's component, so the loop ends;
    it ends when a round changes nothing, when every edge joins equal
    labels that are roots, and a component's minimum keeps its own
    label, so that root is the minimum. Pointer jumping makes the round
    count logarithmic in practice, never more than the diameter's."""
    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ai, bi = inv[: a.size], inv[a.size :]
    lab = np.arange(ids.size)
    while True:
        la, lb = lab[ai], lab[bi]
        m = np.minimum(la, lb)
        new = lab.copy()
        for at in (ai, bi, la, lb):
            np.minimum.at(new, at, m)
        while not np.array_equal(jumped := new[new], new):
            new = jumped
        if np.array_equal(new, lab):
            return ids, ids[lab]
        lab = new


def connected_components(
    pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b"
) -> DataFrame:
    """Resolve undirected pairs to components.

    Returns (doc_id, component_id) for every node appearing in `pairs`,
    where component_id is the minimum doc_id in the node's component.
    Deterministic fixpoint — engine-portable, so oracle-checkable against
    a recursive-CTE transitive closure.

    A pair list under the driver gate (driver.pull_ids) is collected once
    and resolved by min_labels; the result is a local DataFrame with the
    Spark loop's schema, so the caller's plan goes on in Spark. A pair list
    over the gate, or whose ids are not integral, differ in type or hold
    a NULL, runs the Spark loop (_spark_components)."""
    cols = driver.pull_ids(pairs, a_col, b_col)
    if cols is None:
        return _spark_components(pairs, a_col, b_col)
    a, b = pairs.schema[a_col], pairs.schema[b_col]
    # the Spark loop's schema: a node is as nullable as the pair columns,
    # a min() label always is
    schema = StructType(
        [
            StructField("doc_id", a.dataType, a.nullable or b.nullable),
            StructField("component_id", a.dataType),
        ]
    )
    return driver.frame(pairs.sparkSession, schema, *min_labels(*cols))


def _spark_components(pairs: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """connected_components above the driver gate: min-label propagation
    as a loop of DataFrame joins, capped at MAX_ITERATIONS steps.

    Job-floor economics (round 8): the symmetrized edge relation is
    checkpointed ONCE (lazily — it materializes inside the first round's
    job) instead of re-deriving its union+distinct chain in every round's
    plan; each materialization runs TWO propagation steps and tests the
    second against the first (min-label updates are monotone
    non-increasing, so a second step that changes nothing proves the
    first reached the fixpoint — found one round sooner on odd-diameter
    graphs than testing against the labels before both steps); and the
    convergence signal rides a fused `chg` flag in the checkpointed frame
    instead of a separate old-vs-new shuffle join. Measured 4.8 s → 1.7 s
    on the dbscan eps-graph at sf0.1 with identical labels."""
    sym = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst")).union(
        pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    )
    # self-loops make each step's min range over the CLOSED neighborhood,
    # halving the step's join count (see _min_label_step)
    edges = (
        sym.union(
            sym.select(F.col("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    # sticky labels: start every node at itself
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )
    for _ in range(MAX_ITERATIONS // 2):
        once = _min_label_step(edges, labels)
        twice = _min_label_step(edges, once)
        # LAZY checkpoint + convergence agg in ONE action (round 11): the
        # agg's job materializes the checkpoint as it reads it, so each
        # double-step round costs one driver action instead of two (the
        # former eager cut paid its own job, then the agg paid another);
        # the frame is node-sized, no memory-cliff risk. The flag compares
        # the two steps: `once` is read twice in one plan, whose exchange
        # Spark reuses, so the earlier test adds no exchange
        flagged = (
            twice.join(
                once.select("node", F.col("label").alias("prev")), on="node"
            )
            .select(
                "node",
                "label",
                (F.col("label") < F.col("prev")).cast("long").alias("chg"),
            )
            .localCheckpoint(eager=False)
        )
        changed = flagged.agg(F.sum("chg")).first()[0]
        labels = flagged.select("node", "label")
        if not changed:
            break
    else:
        # LOUD non-convergence (round 11): min-label propagation needs
        # graph-diameter rounds; exhausting the cap used to RETURN the
        # truncated (wrong) fixpoint silently — exactly how
        # dbscan_clusters_halo's sf0.1 eps-graph (diameter > 20) produced
        # 77 clusters where the true closure has 72. Deep graphs belong on
        # connected_components_star (O(log² n) rounds, any topology).
        raise ValueError(
            f"connected_components did not converge within {MAX_ITERATIONS} "
            "propagation steps (graph diameter exceeds the cap); use "
            "connected_components_star for deep graphs"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component_id"))


def connected_components_star(
    pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b"
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond") — the deep-graph tier.

    Min-label propagation needs diameter rounds; star contraction halves
    component heights instead, converging in O(log² n) rounds on ANY
    topology — a path graph of length 10⁶ finishes in ~20 rounds where
    propagation would need 10⁶. Each round is two grouped aggregates +
    joins on node ids (fixed-width exchanges), checkpointed to cut
    lineage; convergence is a 1-row (count, xor-of-hashes) edge-set
    fingerprint per round, so the data never leaves the cluster.

    Large-star: every neighbor v > u re-points to m = min(Γ(u) ∪ {u}).
    Small-star: every neighbor v ≤ u (plus u itself) re-points to the
    minimum of that closed neighborhood. At fixpoint the edges form stars
    rooted at component minima.

    Same (doc_id, component_id) contract as `connected_components` —
    equivalence on identical inputs is asserted in tests/test_components.py,
    and the dup_components_star query shares the recursive-CTE oracle."""
    nodes = (
        pairs.select(F.col(a_col).alias("n"))
        .union(pairs.select(F.col(b_col).alias("n")))
        .distinct()
    )
    # canonical directed edge (u, v) with v < u — LAZY cut: the first
    # fingerprint's agg job materializes it (one action per round, the
    # same fusion as the propagation loop's convergence flag; round 11)
    edges = (
        pairs.select(
            F.greatest(F.col(a_col), F.col(b_col)).alias("u"),
            F.least(F.col(a_col), F.col(b_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def fingerprint(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor, not sum: a sum of 2^63-scale hashes overflows under
            # ANSI mode; xor is closed over long and order-independent
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        return (row["n"], row["h"])

    fp = fingerprint(edges)
    for _ in range(MAX_ITERATIONS):
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.col("u"), F.min("v")).alias("m")
        )
        # large-star: (v, m(u)) for strictly larger neighbors v of u
        large = (
            sym.join(mins, on="u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"), F.col("m").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over the large-star output (canonical v < u direction)
        e2 = (
            large.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        mins2 = e2.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            e2.join(mins2, on="u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        edges = small.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct().localCheckpoint(eager=False)  # fused with the fingerprint
        new_fp = fingerprint(edges)
        if new_fp == fp:
            break
        fp = new_fp
    else:
        # the same LOUD cap as connected_components: a truncated
        # contraction leaves non-root edges, so its labels are wrong
        raise ValueError(
            f"connected_components_star did not converge within "
            f"{MAX_ITERATIONS} rounds"
        )
    # at fixpoint every non-root points straight at its component root
    labels = edges.groupBy("u").agg(F.min("v").alias("component_id"))
    return (
        nodes.join(labels, on=nodes.n == labels.u, how="left")
        .select(
            F.col("n").alias("doc_id"),
            F.coalesce(F.col("component_id"), F.col("n")).alias("component_id"),
        )
    )
