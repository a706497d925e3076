"""Graph analytics over relational co-occurrence: triangle counting
and clustering coefficient on the part co-purchase graph (parts are
linked when some order contains both). Complements the near-dup graph
ops in dedup_ext.py (connected components, PageRank) with the classic
wedge/triangle machinery — community density, recommendation signals,
graph health metrics — expressed as pure joins.

Scale notes (100 TB):
- Edge construction is the per-order pair expansion: C(k,2) per
  k-item order, bounded by basket size; the DISTINCT collapses
  multiplicity with map-side combine on the (a,b) key.
- Triangle counting is the two-join node-iterator form. Edges are
  oriented a<b by id here; at scale orient low-degree → high-degree
  instead ((degree, id) lexicographic) — that bounds per-vertex wedge
  fan-out by graph arboricity (the Schank/Wagner trick) and tames
  power-law hubs. Orientation is a 1-line change to the edge builder;
  the join topology is identical.
- Each join shuffles on a single vertex key; skewed hub vertices are
  exactly what AQE skew-split handles, or pre-salt the wedge join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load
from .common import tracked_persist

CAT = "graph"


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected co-purchase edges (a < b by part id)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    l1 = li.alias("l1")
    l2 = li.alias("l2")
    return (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_partkey") < F.col("l2.l_partkey")),
        )
        .select(
            F.col("l1.l_partkey").alias("a"), F.col("l2.l_partkey").alias("b")
        )
        .distinct()
    )


@register(
    "q_triangle_count",
    oracle="""
        WITH e AS (
            SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
            FROM lineitem l1 JOIN lineitem l2
              ON l1.l_orderkey = l2.l_orderkey
             AND l1.l_partkey < l2.l_partkey
        ), deg AS (
            SELECT v, COUNT(*) AS d
            FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
            GROUP BY 1
        ), tri AS (
            SELECT COUNT(*) AS n_triangles
            FROM e e1
            JOIN e e2 ON e2.a = e1.b
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        ), nodes AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                   CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
            FROM deg
        ), edges AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e
        )
        SELECT n_nodes, n_edges,
               CAST(n_triangles AS BIGINT) AS n_triangles,
               n_wedges,
               round(3.0 * n_triangles / nullif(CAST(n_wedges AS DOUBLE),
                                                0.0), 6)
                   AS clustering_coeff
        FROM nodes, edges, tri
    """,
    category=CAT,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1: exact triangle count + global clustering coefficient of the
    co-purchase graph, by the node-iterator join: for each oriented
    edge (a,b) and wedge (b,c), a triangle exists iff (a,c) is also an
    edge — two equi-joins, no adjacency lists materialized per vertex.
    Clustering coefficient = 3·triangles / wedges, wedges = Σ C(d,2).

    Scale: see module docstring — at power-law scale, orient edges by
    (degree, id) instead of raw id to bound wedge fan-out by
    arboricity; topology of the two joins is unchanged. The edge set
    is persisted across its three consumers (degree pass + both join
    sides) so the expansion join runs once.
    """
    e = tracked_persist(copurchase_edges(spark, sf_dir))
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    nodes = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) div 2")).cast("long").alias("n_wedges"),
    )
    edges = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return (
        nodes.join(F.broadcast(edges))
        .join(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.round(
                F.lit(3.0)
                * F.col("n_triangles")
                / F.nullif(F.col("n_wedges").cast("double"), F.lit(0.0)),
                6,
            ).alias("clustering_coeff"),
        )
    )


_BFS_SQL = """
    WITH RECURSIVE e AS (
        SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        FROM {lineitem} l1 JOIN {lineitem} l2
          ON l1.l_orderkey = l2.l_orderkey
         AND l1.l_partkey <> l2.l_partkey
    ), seed AS (
        SELECT MIN(a) AS s FROM e
    ), walk(node, dist) AS (
        SELECT s, 0 FROM seed
        UNION ALL
        SELECT e.b, w.dist + 1
        FROM walk w JOIN e ON e.a = w.node
        WHERE w.dist < 2
    ), hops AS (
        SELECT node, MIN(dist) AS dist FROM walk GROUP BY 1
    )
    SELECT CAST(dist AS BIGINT) AS dist, COUNT(*) AS n_parts,
           MIN(node) AS min_part, MAX(node) AS max_part
    FROM hops GROUP BY 1
"""


@register(
    "q_recursive_bfs", oracle=_BFS_SQL.format(lineitem="lineitem"), category=CAT
)
def q_recursive_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2: bounded BFS via WITH RECURSIVE (new in Spark 4) — hop
    distances from the lowest-keyed part through the co-purchase
    graph, depth ≤ 2, reported as ring sizes. The identical SQL text
    runs on both engines; Spark executes the recursion as iterative
    UnionLoop steps over the frontier.

    Scale: per-iteration work is frontier ⋈ edges — one keyed shuffle
    per hop, the same message-passing economics as the PageRank loop
    (dedup_ext.py). The UNION ALL + post-hoc MIN(dist) keeps each
    iteration append-only (no per-step distinct barrier); bound the
    frontier at web scale by de-duplicating every k hops or switching
    to the CC-style iterate-to-fixpoint with early termination.
    """
    return spark.sql(_BFS_SQL, lineitem=load(spark, sf_dir, "lineitem"))


_RECS_SQL = """
    WITH op AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM {lineitem}
    ), freq AS (
        SELECT p, COUNT(*) AS c FROM op GROUP BY 1
    ), n AS (
        SELECT CAST(COUNT(DISTINCT o) AS DOUBLE) AS n_orders FROM op
    ), pairs AS (
        SELECT a.p AS pa, b.p AS pb, COUNT(*) AS c_ab
        FROM op a JOIN op b ON a.o = b.o AND a.p <> b.p
        GROUP BY 1, 2
    ), scored AS (
        SELECT pa, pb, c_ab,
               c_ab * n.n_orders / (fa.c * fb.c) AS lift
        FROM pairs
        JOIN freq fa ON fa.p = pairs.pa
        JOIN freq fb ON fb.p = pairs.pb
        CROSS JOIN n
    )
    SELECT pa AS part, pb AS also_bought, c_ab AS n_co_orders,
           round(lift, 6) AS lift
    FROM (SELECT *, row_number() OVER (PARTITION BY pa
                        ORDER BY lift DESC, pb ASC) AS rn
          FROM scored)
    WHERE rn <= 3
"""


@register(
    "q_copurchase_recs", oracle=_RECS_SQL.format(lineitem="lineitem"), category=CAT
)
def q_copurchase_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3: "customers also bought" — top-3 recommendations per part
    ranked by lift = P(b|a)/P(b) = c_ab·N/(c_a·c_b), the co-occurrence
    association rule every retail/content recommender starts from
    (lift > 1 ⇒ genuinely associated, not just popular).

    Determinism: lift is one double expression of exact integers —
    the same dag in both engines — and the per-part top-3 ties on the
    recommended part id.

    Scale: the pair expansion is per-order C(k,2) (basket-size
    bounded); pair counts map-side combine on (a,b); the frequency
    tables join by single part keys (broadcast if parts fit, else
    co-keyed shuffles); the rank window partitions by part. Popular-
    pair skew lands in the pair aggregation, which partial-aggregates
    before the shuffle — the classic market-basket plan.
    """
    return spark.sql(_RECS_SQL, lineitem=load(spark, sf_dir, "lineitem"))


_LPA_ITERS = 3


@register(
    "q_label_propagation",
    oracle="""
        WITH e AS (
            SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
            FROM lineitem l1 JOIN lineitem l2
              ON l1.l_orderkey = l2.l_orderkey
             AND l1.l_partkey < l2.l_partkey
        ),
        und AS (
            SELECT a AS v, b AS u FROM e
            UNION ALL SELECT b AS v, a AS u FROM e
        ),
        l0 AS (
            SELECT DISTINCT v, v AS lbl
            FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        ),
        v1 AS (SELECT und.v, l.lbl, COUNT(*) AS c
               FROM und JOIN l0 l ON und.u = l.v GROUP BY 1, 2),
        l1 AS (SELECT v, lbl FROM (
                   SELECT v, lbl, ROW_NUMBER() OVER (
                       PARTITION BY v ORDER BY c DESC, lbl ASC) AS r
                   FROM v1) WHERE r = 1),
        v2 AS (SELECT und.v, l.lbl, COUNT(*) AS c
               FROM und JOIN l1 l ON und.u = l.v GROUP BY 1, 2),
        l2 AS (SELECT v, lbl FROM (
                   SELECT v, lbl, ROW_NUMBER() OVER (
                       PARTITION BY v ORDER BY c DESC, lbl ASC) AS r
                   FROM v2) WHERE r = 1),
        v3 AS (SELECT und.v, l.lbl, COUNT(*) AS c
               FROM und JOIN l2 l ON und.u = l.v GROUP BY 1, 2),
        l3 AS (SELECT v, lbl FROM (
                   SELECT v, lbl, ROW_NUMBER() OVER (
                       PARTITION BY v ORDER BY c DESC, lbl ASC) AS r
                   FROM v3) WHERE r = 1)
        SELECT CAST(lbl AS BIGINT) AS community,
               CAST(COUNT(*) AS BIGINT) AS size
        FROM l3
        GROUP BY lbl
        ORDER BY size DESC, community ASC
        LIMIT 20
    """,
    category=CAT,
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4: community detection by synchronous label propagation
    (Raghavan et al. 2007) over the co-purchase graph — 3 fixed
    iterations, each node adopting its neighbors' most frequent label
    with ties to the SMALLEST label. Complements G1–G3: q_dedup_clusters
    finds connected components (min-label fixpoint); LPA finds denser
    sub-communities within them.

    Determinism: synchronous updates + the (count DESC, label ASC)
    argmax make every iteration a pure function of the previous
    labeling — no traversal order, no RNG (the async/random-order
    variant of LPA is deliberately NOT used). The oracle unrolls the
    identical 3 iterations as CTEs.

    Scale: the undirected edge frame is hash-partitioned on the
    message key ONCE and persisted — every iteration's edges⋈labels
    join then reuses that partitioning (only the |V|-sized label frame
    moves), and the per-node argmax is a `max_by(lbl, (c, −lbl))`
    aggregate (one map-side-combinable shuffle), not a window sort.
    Iteration count is fixed; the label frame never exceeds |V| rows.
    The top-20 is TakeOrderedAndProject. (Measured at sf0.1: window →
    max_by plus edge co-partitioning cut the median 3.9 → 3.2 s; the
    rest is local-mode stage overhead across 3 chained iterations,
    which amortizes on a real cluster.)
    """
    e = copurchase_edges(spark, sf_dir)
    und = (
        e.select(F.col("a").alias("v"), F.col("b").alias("u"))
        .unionAll(e.select(F.col("b").alias("v"), F.col("a").alias("u")))
        .repartition("u")
    )
    und = tracked_persist(und)
    labels = (
        und.select("v").distinct().select("v", F.col("v").alias("lbl"))
    )
    for _ in range(_LPA_ITERS):
        votes = (
            und.join(labels.withColumnRenamed("v", "u"), "u")
            .groupBy("v", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = votes.groupBy("v").agg(
            F.max_by(
                "lbl", F.struct(F.col("c"), (-F.col("lbl")).alias("nl"))
            ).alias("lbl")
        )
    return (
        labels.groupBy(F.col("lbl").cast("long").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("size"))
        .orderBy(F.desc("size"), F.asc("community"))
        .limit(20)
    )


_BF_HOPS = 3


@register(
    "q_shortest_path_bf",
    oracle=f"""
        WITH pairs AS (
            SELECT l1.l_partkey AS a, l2.l_partkey AS b, COUNT(*) AS cnt
            FROM lineitem l1 JOIN lineitem l2
              ON l1.l_orderkey = l2.l_orderkey
             AND l1.l_partkey < l2.l_partkey
            GROUP BY 1, 2
        ), edges AS (
            SELECT a AS u, b AS v, 1 + 1000 // cnt AS w FROM pairs
            UNION ALL
            SELECT b, a, 1 + 1000 // cnt FROM pairs
        ), src AS (
            SELECT MIN(l_partkey) AS s FROM lineitem
        ), d0 AS (
            SELECT s AS node, CAST(0 AS BIGINT) AS dist FROM src
        ), d1 AS (
            SELECT node, MIN(dist) AS dist FROM (
                SELECT node, dist FROM d0
                UNION ALL
                SELECT e.v, d.dist + e.w FROM d0 d JOIN edges e ON d.node = e.u
            ) GROUP BY node
        ), d2 AS (
            SELECT node, MIN(dist) AS dist FROM (
                SELECT node, dist FROM d1
                UNION ALL
                SELECT e.v, d.dist + e.w FROM d1 d JOIN edges e ON d.node = e.u
            ) GROUP BY node
        ), d3 AS (
            SELECT node, MIN(dist) AS dist FROM (
                SELECT node, dist FROM d2
                UNION ALL
                SELECT e.v, d.dist + e.w FROM d2 d JOIN edges e ON d.node = e.u
            ) GROUP BY node
        )
        SELECT CAST(node AS BIGINT) AS node, CAST(dist AS BIGINT) AS dist
        FROM d3
    """,
    category=CAT,
)
def q_shortest_path_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5: weighted single-source shortest paths, {_BF_HOPS} Bellman–
    Ford relaxation rounds over the co-purchase graph (edge weight
    1 + 1000//cooccurrence — strong ties are cheap). Completes the
    graph family's algorithm classes: BFS rings (G2), label
    propagation (G4), PageRank (dedup), connected components
    (clusters), and now RELAXATION — the Pregel iteration shape
    (join frontier ⋈ edges, min-combine) every distributed SSSP uses.

    Exactness: integer weights ⇒ exact BIGINT path costs; each round
    is a deterministic min, and the oracle unrolls the identical
    three rounds as CTEs (the G4 convention for bounded iteration).

    Scale: per round, one dist⋈edges join (both sides keyable on the
    node) + a min-combine aggregate — partials merge map-side, the
    frontier never materializes on the driver. Unbounded SSSP
    iterates to fixpoint with convergence detection; the bounded
    form is the oracle-checkable core.

    Building it runs jobs: the edges and each round's distances are
    pinned with ``localCheckpoint(eager=True)``. The lazy unroll (the
    same loop without the checkpoints) gives equal output but its plan
    doubles per hop — each round's distances feed both the union and
    the relaxation join — and it was slower: build + toPandas at
    sf0.1, 4 cores, 3 alternating warm rounds, 5.45–6.48 s lazy vs
    4.56–5.07 s eager.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("p2")
    )
    pairs = (
        li.join(
            l2,
            (F.col("l_orderkey") == F.col("o2"))
            & (F.col("l_partkey") < F.col("p2")),
        )
        .groupBy(F.col("l_partkey").alias("a"), F.col("p2").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = F.lit(1) + F.expr("1000 div cnt")
    edges = (
        pairs.select(F.col("a").alias("u"), F.col("b").alias("v"), w.alias("w"))
        .unionByName(
            pairs.select(
                F.col("b").alias("u"), F.col("a").alias("v"), w.alias("w")
            )
        )
        .localCheckpoint(eager=True)
    )
    src = li.agg(F.min("l_partkey").alias("node")).select(
        "node", F.lit(0).cast("long").alias("dist")
    )
    dist = src
    for _ in range(_BF_HOPS):
        relaxed = dist.join(edges, dist.node == edges.u).select(
            F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return dist.select(F.col("node").cast("long"), F.col("dist").cast("long"))
