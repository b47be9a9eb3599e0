"""Iterative graph analytics as unrolled relational plans (north-star ext).

pagerank_bipartite runs PageRank (Brin & Page 1998, damping 0.85) on the
bipartite user <-> event-type interaction graph, with a FIXED number of
iterations (3) unrolled into the plan. Unrolling is the honest way to make
an iterative algorithm oracle-checkable: both engines evaluate the exact
same finite dataflow, so every intermediate rank is comparable — unlike a
converge-until-epsilon loop whose trip count could differ per engine.
The open-ended variant of iterate-to-fixpoint already exists in the repo as
the large-star/small-star connected-components operator
(operators/components.py), which is the right tool when the iteration count
is data-dependent.

Scale posture (100 TB): each iteration is one join edges⋈ranks on src
(ranks is |nodes| rows — co-partitioned with edges on the join key after
the first shuffle, and AQE reuses that partitioning across the unrolled
iterations) followed by a groupBy(dst) sum with map-side partials. Degree
is precomputed once and rides along the edge rows. This is exactly the
Pregel-as-joins formulation GraphX/GraphFrames lower to; Spark caches the
loop-invariant edge relation once. Emitting only the event-type side keeps
the result constant-size; per-user ranks stay distributed.

No reference citation: the reference has no graph stage; driver-mandated
extension (BASELINE.json north_star).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from pdf_parse_vector_db_spark.operators import driver
from pdf_parse_vector_db_spark.plans.registry import QuerySpec
from pdf_parse_vector_db_spark.sources.registry import load_table

_DAMP = 0.85
_ITERS = 3


def pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank over the user<->event_type bipartite graph;
    returns the event-type nodes' rank after each iteration (r1..r3), so
    the oracle checks the whole trajectory, not just the endpoint."""
    events = load_table(spark, sf_dir, "events", spread=True)
    directed = events.select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("t:"), F.col("event_type")).alias("dst"),
    ).distinct()
    edges = directed.unionByName(
        directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    # every node has degree >= 1 in both directions, so deg's key set IS the
    # node set; edges_w carries the source degree along each edge row.
    # MEASURED: localCheckpoint()ing edges_w here is a loss (3.4 s -> 5.2 s
    # at sf0.1) — the relation is events-sized, so eagerly materializing it
    # costs more than the 3 re-derivations of the cheap scan+distinct; the
    # kcore/LPA cuts win only because their contracted edge relations are
    # orders of magnitude smaller than their build cost
    edges_w = edges.join(deg, on="src")
    nodes = deg.select(F.col("src").alias("node"))
    nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))

    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        # ansi: n counts the node set this very row belongs to -> n >= 1
        "node", (F.lit(1.0) / F.col("n")).alias("r")
    )
    iter_ranks = []
    for _ in range(_ITERS):
        contribs = (
            edges_w.join(ranks, edges_w["src"] == ranks["node"])
            .groupBy("dst")
            # ansi: od = groupBy count over edges -> >= 1 for every source
            .agg(F.sum(F.col("r") / F.col("od")).alias("c"))
        )
        ranks = (
            nodes.crossJoin(F.broadcast(nn))
            .join(contribs, nodes["node"] == contribs["dst"], "left")
            .select(
                "node",
                (
                    # ansi: n = node-set count, >= 1 wherever a node row exists
                    F.lit(1 - _DAMP) / F.col("n")
                    + F.lit(_DAMP) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("r"),
            )
        )
        iter_ranks.append(ranks)

    out = iter_ranks[0].select("node", F.round("r", 6).alias("r1"))
    for i, df in enumerate(iter_ranks[1:], start=2):
        out = out.join(df.select("node", F.round("r", 6).alias(f"r{i}")), on="node")
    return out.filter(F.col("node").startswith("t:")).orderBy("node")


def _pr_iter_sql(prev: str, cur: str) -> str:
    return f"""
c{cur} AS (
  SELECT e.dst AS node, sum(r.r / e.od) AS c
  FROM edges_w e JOIN r{prev} r ON e.src = r.node
  GROUP BY 1
),
r{cur} AS (
  SELECT nodes.node,
         {1 - _DAMP} / nn.n + {_DAMP} * coalesce(c{cur}.c, 0.0) AS r
  FROM nodes CROSS JOIN nn LEFT JOIN c{cur} ON nodes.node = c{cur}.node
)"""


PAGERANK_BIPARTITE_SQL = (
    """
WITH directed AS (
  SELECT DISTINCT 'u:' || CAST(user_id AS VARCHAR) AS src,
                  't:' || event_type AS dst
  FROM events
),
edges AS (
  SELECT src, dst FROM directed
  UNION ALL
  SELECT dst AS src, src AS dst FROM directed
),
deg AS (SELECT src, count(*) AS od FROM edges GROUP BY 1),
edges_w AS (SELECT e.src, e.dst, d.od FROM edges e JOIN deg d USING (src)),
nodes AS (SELECT src AS node FROM deg),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
r0 AS (SELECT node, 1.0 / n AS r FROM nodes CROSS JOIN nn),"""
    + ",".join(_pr_iter_sql(i, i + 1) for i in range(_ITERS))
    + """
SELECT r1.node,
       round(r1.r, 6) AS r1, round(r2.r, 6) AS r2, round(r3.r, 6) AS r3
FROM r1 JOIN r2 USING (node) JOIN r3 USING (node)
WHERE node LIKE 't:%'
ORDER BY node
"""
)


# --------------------------------------------------------------------------
# Triangle counting (the clustering-coefficient primitive) on the nation
# trade graph. Graph construction is the scale-heavy half: the fact-side
# join lineitem⋈orders plus two broadcast dim hops (customer, supplier)
# yields (customer_nation, supplier_nation) pairs, contracted to DISTINCT
# undirected edges with map-side partials — the classic "project a huge
# bipartite fact relation down to a dim-sized graph" reduction. Triangle
# enumeration then runs on the contracted graph with the standard ordered
# join (a < b < c, each triangle counted exactly once; Schank & Wagner
# 2005's edge-ordering trick); at dim scale that is a broadcast 3-way join,
# and on a large graph the same plan shuffles on the shared edge endpoint.
# Per-nation participation counts (a triangle credits all 3 corners) give a
# 25-row result with every count under the oracle hash.
# --------------------------------------------------------------------------


def nation_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem", spread=True)
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .select(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    e1 = pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = pairs.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = pairs.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tris = e1.join(e2, on="y").join(e3, on=["x", "z"])
    corners = (
        tris.select(F.col("x").alias("nationkey"))
        .unionAll(tris.select(F.col("y").alias("nationkey")))
        .unionAll(tris.select(F.col("z").alias("nationkey")))
    )
    return (
        corners.groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .join(F.broadcast(nation), F.col("nationkey") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("nation"), "n_triangles")
        .orderBy("nation")
    )


NATION_TRIANGLES_SQL = """
WITH pairs AS (
  SELECT DISTINCT least(c_nationkey, s_nationkey) AS a,
                  greatest(c_nationkey, s_nationkey) AS b
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE c_nationkey <> s_nationkey),
tris AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM pairs e1
  JOIN pairs e2 ON e2.a = e1.b
  JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b),
corners AS (
  SELECT x AS nationkey FROM tris
  UNION ALL SELECT y FROM tris
  UNION ALL SELECT z FROM tris)
SELECT n_name AS nation, CAST(count(*) AS BIGINT) AS n_triangles
FROM corners JOIN nation ON nationkey = n_nationkey
GROUP BY n_name
ORDER BY nation
"""


_KCORE_K = 90
_KCORE_ROUNDS = 3


def _co_order_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical co-order part graph (x < y): parts are adjacent when
    some order contains both. Built by per-order ARRAY pair expansion —
    groupBy order, sorted distinct part array, map-side (i < j) slice
    explosion — instead of the li ⋈ li self-join: one exchange of the
    600k-row (o, p) relation rather than two plus the join, with the
    identical 1.2M-edge output (asserted equal in tests/test_new_ops.py).
    The pair count is Σ deg(order)² either way; the array form just
    stops paying the join machinery for it."""
    li = (
        load_table(spark, sf_dir, "lineitem", spread=True)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    return (
        li.groupBy("o")
        .agg(F.sort_array(F.collect_set("p")).alias("ps"))
        .select(F.posexplode("ps").alias("i", "x"), F.col("ps"))
        .select(
            "x",
            F.explode(
                F.slice(
                    "ps",
                    F.col("i") + F.lit(2),
                    F.greatest(F.lit(0), F.size("ps") - F.col("i") - 1),
                )
            ).alias("y"),
        )
        .distinct()
    )


def kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 unrolled rounds of k-core peeling (k=90) on the part co-order
    graph (parts are adjacent when some order contains both).

    k-core decomposition (Seidman 1983, public) repeatedly deletes nodes
    of degree < k; the fixpoint is the k-core. Like PageRank above, a
    FIXED unroll keeps the dataflow finite and oracle-comparable — and
    three rounds is exactly the Pregel shape a fixpoint loop would
    iterate, so the per-round plan (degree agg → alive filter →
    edge semi-join) is the scale-relevant artifact. Emits one row per
    round: survivors and surviving edges.

    Scale shape: each round is a map-side-combined degree count over edge
    endpoints plus two semi-joins of edges against the (shrinking) alive
    set; the alive set broadcasts once it fits, and AQE picks that up
    automatically. The co-order edge build is the only corpus-sized
    shuffle (distinct on a fixed-width pair key).
    """
    edges = (
        _co_order_edges(spark, sf_dir)
        # loop-invariant input of an unrolled iteration: every round's
        # degree agg, semi-joins, AND the per-round count aggregates
        # re-derive this subplan from scratch otherwise (the edge build
        # alone ran ~8x at sf0.1). localCheckpoint materializes the
        # contracted |E|-row relation once and TRUNCATES lineage — unlike
        # .cache(), whose InMemoryRelation pins the pre-AQE plan of every
        # downstream join (measured 8.4 s -> 73 s!). Standard Pregel/
        # GraphX practice: persist the edge relation, iterate on top.
        # EAGER (round-8 lesson): a lazy cut here folds the whole build +
        # every peel round into ONE job, whose peak memory at sf1 OOM'd an
        # 8 GB heap — the eager materialization frees the build's shuffle
        # state before the rounds run. The job floor it pays is real but
        # bounded; the memory cliff is not.
        .localCheckpoint()
    )
    rounds = []
    for r in range(1, _KCORE_ROUNDS + 1):
        deg = (
            edges.select(F.col("x").alias("n"))
            .unionAll(edges.select(F.col("y").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # LAZY cut (round 11): alive feeds round r's two semi-joins (inside
        # the eager edges materialization, which computes it once) AND the
        # final per-round count job — without the cut that last job
        # re-derived every round's degree aggregation from the raw edge
        # checkpoint a second time
        alive = (
            deg.filter(F.col("c") >= _KCORE_K)
            .select("n")
            .localCheckpoint(eager=False)
        )
        # per-round localCheckpoint: round r's edge relation feeds its own
        # count AND round r+1's degree agg — without the cut each consumer
        # re-derives every prior round's semi-joins from the raw edge build
        edges = (
            edges.join(alive.withColumnRenamed("n", "x"), "x", "left_semi")
            .join(alive.withColumnRenamed("n", "y"), "y", "left_semi")
            .localCheckpoint()  # eager — see the build checkpoint note
        )
        rounds.append(
            alive.agg(F.count(F.lit(1)).cast("bigint").alias("nodes")).crossJoin(
                edges.agg(F.count(F.lit(1)).cast("bigint").alias("edges"))
            ).select(F.lit(r).cast("int").alias("round"), "nodes", "edges")
        )
    out = rounds[0]
    for r_df in rounds[1:]:
        out = out.unionAll(r_df)
    return out.orderBy("round")


def _kcore_sql() -> str:
    parts = [
        """
e0 AS (
  SELECT DISTINCT a.p AS x, b.p AS y
  FROM (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem) b
    ON a.o = b.o AND a.p < b.p
)"""
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f"""
a{r} AS (
  SELECT n FROM (
    SELECT n, count(*) AS c FROM (
      SELECT x AS n FROM e{r - 1} UNION ALL SELECT y FROM e{r - 1}
    ) GROUP BY n
  ) WHERE c >= {_KCORE_K}
), e{r} AS (
  SELECT e.x, e.y FROM e{r - 1} e
  JOIN a{r} ax ON e.x = ax.n
  JOIN a{r} ay ON e.y = ay.n
)"""
        )
    selects = " UNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS round,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM a{r}) AS nodes,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM e{r}) AS edges"
        for r in range(1, _KCORE_ROUNDS + 1)
    )
    return "WITH " + ",".join(parts) + "\n" + selects + "\nORDER BY round"


KCORE_PEEL_SQL = _kcore_sql()


_LPA_ROUNDS = 3


def _lpa_top(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """label_propagation on the driver over the canonical edges (x[i],
    y[i]): the top-20 (community, n_nodes) of round _LPA_ROUNDS.

    Labels are node ranks, so a smaller label is a smaller id. A round
    counts every (node, neighbour's label) pair with np.unique, which
    sorts them by (node, label); a stable sort by (node, count DESC)
    then leaves each node's most frequent, smallest label first —
    mode(label, true), and the oracle's row_number over (c DESC, label
    ASC)."""
    ids, src = np.unique(np.concatenate([x, y]), return_inverse=True)
    dst = np.concatenate([src[x.size :], src[: x.size]])  # both directions
    n = ids.size
    lab = np.arange(n)
    for _ in range(_LPA_ROUNDS):
        keys, counts = np.unique(src * n + lab[dst], return_counts=True)
        node = keys // n
        best = np.lexsort((-counts, node))
        first = np.flatnonzero(np.diff(node[best], prepend=-1))
        lab = (keys % n)[best[first]]
    labels, sizes = np.unique(lab, return_counts=True)
    top = np.lexsort((labels, -sizes))[:20]
    return ids[labels[top]], sizes[top]


def label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 unrolled rounds of synchronous label propagation (Raghavan et
    al. 2007, public) on the part co-order graph — the cheap community
    detector: every node starts as its own label; each round it adopts
    the most frequent label among its neighbors (ties → smallest label,
    so the rounds are deterministic and oracle-comparable). Emits the 20
    largest round-3 communities.

    An edge list under the driver gate (driver.pull_ids) is collected
    once and the rounds run in NumPy (_lpa_top); the 20 rows come back
    as a local DataFrame with the Spark rounds' schema.

    Above the gate, the scale shape per round: edges join the
    |nodes|-row label table on the neighbor key (co-partitioned after
    the first exchange), then ONE node-keyed exchange:
    `mode(label, deterministic=true)` is exactly
    most-frequent-with-lowest-tie-break, so the round-2 shape's
    (node,label) count exchange + per-node argmax window (two exchanges
    and a sort per round) collapses into a single partial-aggregating
    mode(). The oracle keeps the equivalent window formulation — DuckDB's
    mode() tie-break is unspecified, Spark's deterministic one is pinned.
    """
    und = _co_order_edges(spark, sf_dir)
    cols = driver.pull_ids(und, "x", "y")
    if cols is None:
        return _spark_lpa(und)
    return driver.frame(
        spark,
        StructType(
            [
                StructField("community", und.schema["x"].dataType),
                StructField("n_nodes", LongType(), nullable=False),
            ]
        ),
        *_lpa_top(*cols),
    )


def _spark_lpa(und: DataFrame) -> DataFrame:
    """label_propagation above the driver gate, over the canonical edges
    `und` (x < y): the rounds as joins and mode() aggregates."""
    # checkpoint the canonical edges BEFORE symmetrizing: the union reads
    # und twice, and without the cut the whole array-expansion build would
    # run twice inside the edges materialization (lazy: it rides the
    # eager edges materialization below, so no extra job)
    und = und.localCheckpoint(eager=False)
    edges = und.unionAll(
        und.select(F.col("y").alias("x"), F.col("x").alias("y"))
    ).localCheckpoint()  # EAGER — the sf1 memory-cliff lesson, see kcore_peel
    labels = edges.select(F.col("x").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(_LPA_ROUNDS):
        neigh = edges.join(
            labels.withColumnRenamed("node", "y"), "y"
        ).select(F.col("x").alias("node"), "label")
        labels = neigh.groupBy("node").agg(
            F.expr("mode(label, true)").alias("label")
        )
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .orderBy(F.desc("n_nodes"), F.asc("label"))
        .limit(20)
        .select(F.col("label").alias("community"), "n_nodes")
    )


def _lpa_sql() -> str:
    head = """
WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
und AS (SELECT DISTINCT a.p AS x, b.p AS y FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
edges AS (SELECT x, y FROM und UNION ALL SELECT y, x FROM und),
l0 AS (SELECT DISTINCT x AS node, x AS label FROM edges)"""
    rounds = []
    for r in range(1, _LPA_ROUNDS + 1):
        rounds.append(f"""
c{r} AS (
  SELECT e.x AS node, l.label, count(*) AS c
  FROM edges e JOIN l{r - 1} l ON e.y = l.node
  GROUP BY 1, 2
), l{r} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
    FROM c{r}
  ) WHERE rn = 1
)""")
    return (
        head
        + ","
        + ",".join(rounds)
        + f"""
SELECT label AS community, CAST(count(*) AS BIGINT) AS n_nodes
FROM l{_LPA_ROUNDS}
GROUP BY label
ORDER BY n_nodes DESC, community ASC
LIMIT 20"""
    )


LABEL_PROPAGATION_SQL = _lpa_sql()


_SSSP_HOPS = 3
_SSSP_SOURCE = 0  # nationkey of the source


def sssp_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop single-source shortest path on the weighted nation
    trade graph (edge weight = the pair's average nonnegative transit
    time in integer milli-days): 3 unrolled Bellman-Ford relaxations from nation
    0 — the Pregel SSSP shape as joins, with exact integer path costs so
    the whole distance table sits under the oracle hash. Unreachable
    (within 3 hops) nations are omitted.
    """
    li = load_table(spark, sf_dir, "lineitem", spread=True)
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.least("c_nationkey", "s_nationkey").alias("u"),
            F.greatest("c_nationkey", "s_nationkey").alias("v"),
        )
        .agg(
            # per-row clamp: the synthetic generator allows shipdates before
            # the order date; transit time is floored at 0 so edge weights
            # are proper nonnegative costs
            F.expr(
                "sum(greatest(datediff(l_shipdate, o_orderdate), 0)) * 1000"
                " div count(*)"
            ).alias("w")
        )
    )
    edges = pairs.select("u", "v", "w").unionAll(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    ).localCheckpoint()  # loop-invariant — see kcore_peel
    dist = edges.select(F.col("u").alias("node")).distinct().select(
        "node",
        F.when(F.col("node") == _SSSP_SOURCE, F.lit(0).cast("bigint")).otherwise(
            F.lit(None).cast("bigint")
        ).alias("d"),
    )
    for _ in range(_SSSP_HOPS):
        relax = (
            edges.join(dist.withColumnRenamed("node", "u").withColumnRenamed("d", "du"), "u")
            .filter(F.col("du").isNotNull())
            .select(F.col("v").alias("node"), (F.col("du") + F.col("w")).alias("cand"))
        )
        dist = (
            dist.join(relax.groupBy("node").agg(F.min("cand").alias("best")), "node", "left")
            .select(
                "node",
                F.least(
                    F.coalesce(F.col("d"), F.lit(2**62)),
                    F.coalesce(F.col("best"), F.lit(2**62)),
                ).alias("d"),
            )
            .select(
                "node", F.when(F.col("d") < 2**62, F.col("d")).alias("d")
            )
        )
    return (
        dist.filter(F.col("d").isNotNull())
        .join(F.broadcast(nation), F.col("node") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("nation"), F.col("d").alias("dist_milli"))
        .orderBy("dist_milli", "nation")
    )


def _sssp_sql() -> str:
    head = f"""
WITH pairs AS (
  SELECT least(c_nationkey, s_nationkey) AS u,
         greatest(c_nationkey, s_nationkey) AS v,
         CAST(sum(greatest(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)), 0)) * 1000
              // count(*) AS BIGINT) AS w
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE c_nationkey <> s_nationkey
  GROUP BY 1, 2
),
edges AS (SELECT u, v, w FROM pairs UNION ALL SELECT v, u, w FROM pairs),
d0 AS (
  SELECT node, CASE WHEN node = {_SSSP_SOURCE} THEN CAST(0 AS BIGINT) END AS d
  FROM (SELECT DISTINCT u AS node FROM edges)
)"""
    rounds = []
    for r in range(1, _SSSP_HOPS + 1):
        rounds.append(f"""
r{r} AS (
  SELECT e.v AS node, min(d.d + e.w) AS best
  FROM edges e JOIN d{r - 1} d ON e.u = d.node
  WHERE d.d IS NOT NULL
  GROUP BY e.v
), d{r} AS (
  SELECT d.node,
         CASE WHEN least(coalesce(d.d, 4611686018427387904),
                         coalesce(r.best, 4611686018427387904))
                   < 4611686018427387904
              THEN least(coalesce(d.d, 4611686018427387904),
                         coalesce(r.best, 4611686018427387904)) END AS d
  FROM d{r - 1} d LEFT JOIN r{r} r ON d.node = r.node
)""")
    return (
        head
        + ","
        + ",".join(rounds)
        + f"""
SELECT n_name AS nation, d AS dist_milli
FROM d{_SSSP_HOPS} JOIN nation ON node = n_nationkey
WHERE d IS NOT NULL
ORDER BY dist_milli, nation"""
    )


SSSP_BOUNDED_SQL = _sssp_sql()


def clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per nation on the contracted trade
    graph — triangles(v) / (deg(v)·(deg(v)−1)/2), the neighborhood-
    density metric complementing the raw triangle counts. Reuses the
    nation_triangles construction: contracted distinct edges, ordered
    a<b<c triangle join, per-corner counts, joined to degrees.
    """
    li = load_table(spark, sf_dir, "lineitem", spread=True)
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .select(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    deg = (
        pairs.select(F.col("a").alias("n"))
        .unionAll(pairs.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e1 = pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = pairs.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = pairs.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tris = e1.join(e2, on="y").join(e3, on=["x", "z"])
    corners = (
        tris.select(F.col("x").alias("n"))
        .unionAll(tris.select(F.col("y").alias("n")))
        .unionAll(tris.select(F.col("z").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("tri"))
    )
    return (
        deg.join(corners, "n", "left")
        .join(F.broadcast(nation), F.col("n") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.col("deg").cast("bigint").alias("degree"),
            F.coalesce(F.col("tri"), F.lit(0)).cast("bigint").alias("triangles"),
            # try_divide: a degree-1 node has no neighbor pairs — clustering
            # is undefined -> NULL on both engines (DuckDB x/0 is natively
            # NULL); the tested near-complete trade graph never hits it, a
            # sparse production graph would
            F.round(
                F.try_divide(
                    F.coalesce(F.col("tri"), F.lit(0)).cast("double"),
                    F.col("deg") * (F.col("deg") - 1) / 2.0,  # ansi: literal 2.0
                ),
                6,
            ).alias("clustering"),
        )
        .orderBy("nation")
    )


CLUSTERING_COEFFICIENT_SQL = """
WITH pairs AS (
  SELECT DISTINCT least(c_nationkey, s_nationkey) AS a,
                  greatest(c_nationkey, s_nationkey) AS b
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE c_nationkey <> s_nationkey),
deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT a AS n FROM pairs UNION ALL SELECT b FROM pairs
  ) GROUP BY n),
tris AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM pairs e1
  JOIN pairs e2 ON e2.a = e1.b
  JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b),
corners AS (
  SELECT n, CAST(count(*) AS BIGINT) AS tri FROM (
    SELECT x AS n FROM tris UNION ALL SELECT y FROM tris UNION ALL SELECT z FROM tris
  ) GROUP BY n)
SELECT n_name AS nation, deg AS degree,
       CAST(coalesce(tri, 0) AS BIGINT) AS triangles,
       round(CAST(coalesce(tri, 0) AS DOUBLE) / (deg * (deg - 1) / 2.0), 6)
         AS clustering
FROM deg LEFT JOIN corners USING (n)
JOIN nation ON n = n_nationkey
ORDER BY nation
"""


def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the contracted trade graph (Newman 2002,
    public): the Pearson correlation of endpoint degrees over edges —
    positive = hubs link hubs, negative = hub-and-spoke mixing. Both
    edge directions enter the sum (the standard undirected convention).
    All sufficient statistics are exact integers (degrees, their products
    summed over edges); one double division at the end.

    Degenerate-input contract: on a REGULAR graph (every node the same
    degree — true of the near-complete 25-nation co-trade graph at small
    scale factors) the variance terms are exactly 0 and assortativity is
    mathematically undefined; both engines return NULL (``try_divide``
    here, ``nullif`` in the oracle) rather than raising — ANSI mode
    otherwise throws DIVIDE_BY_ZERO even for double division.
    """
    li = load_table(spark, sf_dir, "lineitem", spread=True)
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .select(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    deg = (
        pairs.select(F.col("a").alias("n"))
        .unionAll(pairs.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    both = pairs.unionAll(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    e = (
        both.join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
    )
    stats = e.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("da").alias("sx"),
        F.sum("db").alias("sy"),
        # ansi(x3): da/db are degrees of the CONTRACTED nation graph —
        # bounded by the nation count (25) at any scale factor, so every
        # product is <= 625 and the edge-sum <= ~4e5
        F.sum(F.col("da") * F.col("db")).alias("sxy"),  # ansi: bounded degrees
        F.sum(F.col("da") * F.col("da")).alias("sxx"),  # ansi: bounded degrees
        F.sum(F.col("db") * F.col("db")).alias("syy"),  # ansi: bounded degrees
    )
    m, sx, sy = [F.col(c).cast("double") for c in ("m", "sx", "sy")]
    sxy, sxx, syy = [F.col(c).cast("double") for c in ("sxy", "sxx", "syy")]
    return stats.select(
        F.col("m").cast("bigint").alias("directed_edges"),
        F.round(
            F.try_divide(
                m * sxy - sx * sy,
                F.sqrt((m * sxx - sx * sx) * (m * syy - sy * sy)),
            ),
            6,
        ).alias("assortativity"),
    )


DEGREE_ASSORTATIVITY_SQL = """
WITH pairs AS (
  SELECT DISTINCT least(c_nationkey, s_nationkey) AS a,
                  greatest(c_nationkey, s_nationkey) AS b
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE c_nationkey <> s_nationkey),
deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT a AS n FROM pairs UNION ALL SELECT b FROM pairs
  ) GROUP BY n),
e AS (
  SELECT da.d AS da, db.d AS db
  FROM (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs) x
  JOIN deg da ON x.a = da.n
  JOIN deg db ON x.b = db.n),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(da) AS BIGINT) AS sx, CAST(sum(db) AS BIGINT) AS sy,
         CAST(sum(da * db) AS BIGINT) AS sxy,
         CAST(sum(da * da) AS BIGINT) AS sxx,
         CAST(sum(db * db) AS BIGINT) AS syy
  FROM e)
SELECT m AS directed_edges,
       round((m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
             / nullif(sqrt((m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                           * (m * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)), 0), 6)
         AS assortativity
FROM stats
"""


_AA_CAND_MOD = 10  # candidate parts: p_partkey % 10 == 0 (the blocking knob)
_AA_TOPK = 50


def adamic_adar_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the supplier–part bipartite graph: Adamic–Adar
    score for candidate part pairs, AA(a,b) = Σ_{s ∈ suppliers(a) ∩
    suppliers(b)} 1/ln(deg(s)) — rare shared suppliers are stronger
    evidence than ubiquitous ones. Top-50 pairs by score.

    Scale shape: pair generation is the per-supplier self-join — bounded
    by restricting CANDIDATE parts to p_partkey % 10 == 0 (at production
    scale this knob is the LSH/embedding-blocking tier; degrees still
    come from the FULL graph so scores are unbiased, and deg-1 suppliers
    are pruned before pairing since they cannot co-occur). Scoring is
    integer-exact: each supplier contributes round(1e6/ln(deg)) micros, a
    BIGINT whose sum is order-independent — no float accumulation drift
    between engines. Final cut is TakeOrderedAndProject (top-k, never a
    global sort)."""
    li = load_table(spark, sf_dir, "lineitem", spread=True)
    sp = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct()
    # ansi: deg >= 2 enforced below, ln(deg) >= ln 2 > 0
    deg = (
        sp.groupBy("s")
        .agg(F.count(F.lit(1)).alias("deg"))
        .filter(F.col("deg") >= 2)
        .withColumn(
            # ansi: deg >= 2 filtered above, ln(deg) >= ln 2 > 0
            "w_micros", F.round(F.lit(1e6) / F.log(F.col("deg"))).cast("bigint")
        )
    )
    cand = sp.filter(F.col("p") % _AA_CAND_MOD == 0)
    a = cand.select("s", F.col("p").alias("part_a"))
    b = cand.select("s", F.col("p").alias("part_b"))
    pairs = (
        a.join(b, on="s")
        .filter(F.col("part_a") < F.col("part_b"))
        .join(F.broadcast(deg), on="s")
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_suppliers"),
            F.sum("w_micros").cast("long").alias("aa_score_micros"),
        )
        .orderBy(F.desc("aa_score_micros"), "part_a", "part_b")
        .limit(_AA_TOPK)
    )


ADAMIC_ADAR_LINKPRED_SQL = f"""
WITH sp AS (
  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
),
deg AS (
  SELECT s, count(*) AS deg,
         CAST(round(1e6 / ln(count(*))) AS BIGINT) AS w_micros
  FROM sp GROUP BY s HAVING count(*) >= 2
),
cand AS (SELECT s, p FROM sp WHERE p % {_AA_CAND_MOD} = 0)
SELECT a.p AS part_a, b.p AS part_b,
       CAST(count(*) AS BIGINT) AS common_suppliers,
       CAST(sum(d.w_micros) AS BIGINT) AS aa_score_micros
FROM cand a
JOIN cand b ON a.s = b.s AND a.p < b.p
JOIN deg d ON d.s = a.s
GROUP BY a.p, b.p
ORDER BY aa_score_micros DESC, part_a, part_b
LIMIT {_AA_TOPK}
"""


QUERIES = [
    QuerySpec("adamic_adar_linkpred", adamic_adar_linkpred, ADAMIC_ADAR_LINKPRED_SQL, "Adamic-Adar link prediction on the supplier-part bipartite graph (integer-micros scoring)"),
    QuerySpec("pagerank_bipartite", pagerank_bipartite, PAGERANK_BIPARTITE_SQL, "3-iteration unrolled PageRank on the interaction graph"),
    QuerySpec("nation_triangles", nation_triangles, NATION_TRIANGLES_SQL, "ordered-join triangle counting on the contracted trade graph"),
    QuerySpec("kcore_peel", kcore_peel, KCORE_PEEL_SQL, "3-round unrolled k-core peeling on the part co-order graph"),
    QuerySpec("label_propagation", label_propagation, LABEL_PROPAGATION_SQL, "3-round synchronous LPA communities (min-label tie-break)"),
    QuerySpec("sssp_bounded", sssp_bounded, SSSP_BOUNDED_SQL, "3-hop Bellman-Ford SSSP with exact integer path costs"),
    QuerySpec("clustering_coefficient", clustering_coefficient, CLUSTERING_COEFFICIENT_SQL, "per-node local clustering coefficient on the contracted trade graph"),
    QuerySpec("degree_assortativity", degree_assortativity, DEGREE_ASSORTATIVITY_SQL, "Newman degree-mixing coefficient from exact integer edge statistics"),
]
