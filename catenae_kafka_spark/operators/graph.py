"""Graph operators: weighted PageRank via iterative joins.

Connected components (the other classic) lives with the dedup stack
(llm_dedup.cluster_near_dups — pointer-jumping union-find). PageRank
here completes the iterative-algorithm surface: rank refreshes are a
fixed number of join+agg rounds, each expressible as plain DataFrame
ops, so Catalyst/AQE optimizes every round and nothing ever leaves the
JVM.

Scale shape: the rank table is O(nodes) — joined against the
aggregated edge table each round (edges aggregate ONCE up front, the
per-round shuffle carries only (node, contribution) pairs). With a
fixed iteration count the oracle is the same recurrence unrolled in
SQL, so the driver hash-checks real numeric parity, not just shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from catenae_kafka_spark.catalog import catalog
from catenae_kafka_spark.operators.checkpointing import make_checkpointer, materialize
from catenae_kafka_spark.registry import REGISTRY

DAMPING = 0.85
ITERATIONS = 3


def pagerank(
    edges: DataFrame,
    damping: float = DAMPING,
    iterations: int = ITERATIONS,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    checkpoint_every: int = 4,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Weighted PageRank, fixed iteration count.

    ``edges`` is (src, dst, w) with w > 0. Dangling nodes (no out-edges)
    keep only the teleport share. Returns (node, rank) with rank summing
    to ~1 over non-dangling + dangling reachable nodes.

    The helper is generic over ``iterations``, so the rank lineage is
    TRUNCATED every ``checkpoint_every`` rounds (the connected_components
    discipline): without it each round nests the previous plan inside
    two more joins and a 20-iteration run compiles a 40-join tree.
    ``localCheckpoint`` by default (fine for local/driver runs); pass
    ``checkpoint_dir`` for a storage-backed reliable checkpoint that
    survives executor loss on a real cluster. The registered 3-round
    q_pagerank never hits the threshold, so its plan (and its parity
    with the unrolled-SQL oracle) is unchanged."""
    ckpt = make_checkpointer(edges.sparkSession, checkpoint_dir)
    out_w = edges.groupBy(src).agg(F.sum(weight).alias("out_w"))
    norm = edges.join(out_w, src).select(
        F.col(src).alias("u"),
        F.col(dst).alias("v"),
        (F.col(weight) / F.col("out_w")).alias("p"),
    )
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    if iterations > 1:
        # Reused by EVERY round: materialize once instead of embedding
        # the edge normalization + node dedup into each round's plan.
        # Catalyst does not common-subexpression-eliminate repeated
        # DataFrame subtrees, so without this the edge-BUILD pipeline
        # (a fact⋈fact join for q_pagerank) is re-planned and
        # re-executed per reference — measured 14 lineitem scans / 69
        # Exchanges / 0 ReusedExchange in q_pagerank's physical plan
        # (optimization r13, guide §5: materialize reused
        # intermediates; same discipline as connected_components).
        # Was gated on iterations > checkpoint_every, which left the
        # registered 3-round queries unmaterialized.
        norm = ckpt(norm)
        nodes = ckpt(nodes)
    n_nodes = nodes.count()  # driver scalar: node count, not data rows
    if n_nodes == 0:
        # an empty edge slice (e.g. a filtered day with no activity) is
        # routine at scale — return empty ranks with the right schema
        # instead of dividing by zero on the teleport share
        return nodes.withColumn("rank", F.lit(0.0))
    teleport = (1.0 - damping) / n_nodes
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    for i in range(iterations):
        contrib = (
            norm.join(ranks, norm.u == ranks.node)
            .groupBy("v")
            .agg(F.sum(F.col("p") * F.col("rank")).alias("inflow"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.v, "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < iterations:
            ranks = ckpt(ranks)
    return ranks


@REGISTRY.register(
    "q_pagerank",
    tags=("graph", "iterative"),
    oracle=f"""
WITH edges AS MATERIALIZED (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
         COUNT(*) * 1.0 AS w
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer c ON o_custkey = c.c_custkey
  JOIN supplier s ON l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
  GROUP BY c.c_nationkey, s.s_nationkey
), outw AS MATERIALIZED (
  SELECT src, SUM(w) AS ow FROM edges GROUP BY src
), norm AS MATERIALIZED (
  SELECT e.src AS u, e.dst AS v, e.w / o.ow AS p
  FROM edges e JOIN outw o ON e.src = o.src
), nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION SELECT dst FROM edges
  )
), n AS MATERIALIZED (
  SELECT COUNT(*) AS cnt FROM nodes
), r0 AS MATERIALIZED (
  SELECT node, 1.0 / n.cnt AS rank FROM nodes CROSS JOIN n
), r1 AS MATERIALIZED (
  SELECT nodes.node,
         (1 - {DAMPING}) / n.cnt
           + {DAMPING} * COALESCE(SUM(norm.p * r0.rank), 0) AS rank
  FROM nodes CROSS JOIN n
  LEFT JOIN norm ON norm.v = nodes.node
  LEFT JOIN r0 ON r0.node = norm.u
  GROUP BY nodes.node, n.cnt
), r2 AS MATERIALIZED (
  SELECT nodes.node,
         (1 - {DAMPING}) / n.cnt
           + {DAMPING} * COALESCE(SUM(norm.p * r1.rank), 0) AS rank
  FROM nodes CROSS JOIN n
  LEFT JOIN norm ON norm.v = nodes.node
  LEFT JOIN r1 ON r1.node = norm.u
  GROUP BY nodes.node, n.cnt
), r3 AS MATERIALIZED (
  SELECT nodes.node,
         (1 - {DAMPING}) / n.cnt
           + {DAMPING} * COALESCE(SUM(norm.p * r2.rank), 0) AS rank
  FROM nodes CROSS JOIN n
  LEFT JOIN norm ON norm.v = nodes.node
  LEFT JOIN r2 ON r2.node = norm.u
  GROUP BY nodes.node, n.cnt
)
SELECT node, ROUND(rank, 8) AS rank FROM r3
""",
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the international trade graph (customer
    nation → supplier nation, weight = shipment count), 3 iterations.
    Iterative joins over a node-count-bounded rank table; edges
    aggregate once from the fact table, each round's shuffle carries
    only (node, contribution) pairs. The oracle is the identical
    recurrence unrolled in SQL — real numeric parity at 8dp."""
    c = catalog(spark, sf_dir)
    cust = c.customer.select("c_custkey", "c_nationkey")
    supp = c.supplier.select("s_suppkey", "s_nationkey")
    edges = (
        c.lineitem.select("l_orderkey", "l_suppkey")
        .join(c.orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count("*").cast("double").alias("w"))
    )
    ranks = pagerank(edges)
    return ranks.select("node", F.round("rank", 8).alias("rank"))


@REGISTRY.register(
    "q_triangle_count",
    tags=("graph",),
    oracle="""
WITH baskets AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), edges AS MATERIALIZED (
  SELECT a.p_brand AS u, b.p_brand AS v
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY a.p_brand, b.p_brand
  HAVING COUNT(*) >= 80
)
SELECT CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
       CAST((
         SELECT COUNT(*)
         FROM edges e1
         JOIN edges e2 ON e1.v = e2.u
         JOIN edges e3 ON e1.u = e3.u AND e2.v = e3.v
       ) AS BIGINT) AS n_triangles
""",
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the brand co-purchase graph — the classic
    distributed-graph-mining kernel (clustering coefficient, community
    density). The canonical u<v edge orientation makes each triangle
    counted exactly once via the two-path + closure join; at scale the
    standard refinement orders by degree so high-degree hubs never
    anchor the 2-path explosion, and the closure join stays an
    equi-join on (u, v) pairs — never a cartesian."""
    from catenae_kafka_spark.operators.composites import brand_baskets

    c = catalog(spark, sf_dir)
    baskets = brand_baskets(c)
    a = baskets.select("l_orderkey", F.col("p_brand").alias("u"))
    b = baskets.select("l_orderkey", F.col("p_brand").alias("v"))
    edges = materialize(
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 80)
        .select("u", "v")
    )
    e1 = edges
    e2 = edges.select(F.col("u").alias("v"), F.col("v").alias("w"))
    e3 = edges.select(F.col("u").alias("u3"), F.col("v").alias("w3"))
    paths = e1.join(e2, "v")
    tri = paths.join(
        e3, (paths.u == e3.u3) & (paths.w == e3.w3)
    )
    n_edges = edges.count()  # scalar graph stat, not data rows
    return tri.agg(
        F.lit(n_edges).cast("long").alias("n_edges"),
        F.count("*").alias("n_triangles"),
    )


@REGISTRY.register(
    "q_bfs_khop",
    tags=("graph",),
    oracle="""
WITH RECURSIVE baskets AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), weighted AS MATERIALIZED (
  SELECT a.p_brand AS u, b.p_brand AS v, CAST(COUNT(*) AS BIGINT) AS w
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY a.p_brand, b.p_brand
), top_edges AS MATERIALIZED (
  SELECT u, v FROM (
    SELECT u, v, ROW_NUMBER() OVER (ORDER BY w DESC, u, v) AS rn
    FROM weighted
  ) WHERE rn <= 40
), sym AS MATERIALIZED (
  SELECT u, v FROM top_edges UNION ALL SELECT v, u FROM top_edges
), seed AS MATERIALIZED (
  SELECT u AS node FROM (
    SELECT u, ROW_NUMBER() OVER (ORDER BY w DESC, u, v) AS rn
    FROM weighted
  ) WHERE rn = 1
), walk AS (
  SELECT node, 0 AS d FROM seed
  UNION ALL
  SELECT s.v, w.d + 1
  FROM walk w JOIN sym s ON s.u = w.node
  WHERE w.d < 2
)
SELECT node, CAST(MIN(d) AS INT) AS dist
FROM walk GROUP BY node
""",
)
def q_bfs_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS (k = 2 hops) from a seed node over the brand
    co-purchase graph, returning each reachable node's minimum hop
    distance — the reachability kernel behind contamination spread,
    citation expansion, and dedup-cluster neighborhood queries.

    The seed is the heaviest edge's endpoint (deterministic
    (weight, u, v) rank), so the walk is non-trivial at every scale
    factor without a hard-coded node name.

    Frontier-expansion shape: each round joins the CURRENT frontier
    (never the accumulated visited set) against the symmetrized edge
    list, then one min-dist groupBy folds the new frontier in. At
    scale the edge list is the big side, partitioned by source node;
    the frontier is rounds-bounded and broadcastable; k rounds = k
    keyed shuffles, the same schedule Pregel-style systems run. The
    graph is sparsified to the top-40 heaviest edges by deterministic
    (weight, u, v) rank, so sparsity is data-size-independent. The
    oracle is the identical walk as a depth-bounded recursive CTE.
    """
    from catenae_kafka_spark.operators.composites import brand_baskets

    c = catalog(spark, sf_dir)
    baskets = brand_baskets(c)
    a = baskets.select("l_orderkey", F.col("p_brand").alias("u"))
    b = baskets.select("l_orderkey", F.col("p_brand").alias("v"))
    # weighted is brand-pair bounded (~C(25,2) rows) and referenced by
    # BOTH the top-edges and seed windows (and transitively by every
    # frontier round) — materialize it once so the basket-build
    # pipeline isn't re-planned/re-executed per reference (optimization
    # r13, guide §5; Catalyst does not CSE repeated DataFrame subtrees:
    # measured 20 lineitem scans / 79 Exchanges in this query's plan).
    weighted = materialize(
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("w"))
    )
    w_rank = Window.orderBy(F.col("w").desc(), "u", "v")
    top_edges = (
        weighted.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= 40)
        .select("u", "v")
    )
    sym = top_edges.unionByName(
        top_edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).cache()

    seed = (
        weighted.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(F.col("u").alias("node"), F.lit(0).alias("d"))
    )
    dist = seed
    frontier = dist
    for depth in (1, 2):
        neighbors = (
            F.broadcast(frontier.select(F.col("node").alias("u")))
            .join(sym, "u")
            .select(F.col("v").alias("node"), F.lit(depth).alias("d"))
            .distinct()
        )
        dist = (
            dist.unionByName(neighbors)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
        )
        frontier = dist.filter(F.col("d") == depth)
    return dist.select("node", F.col("d").cast("int").alias("dist"))


@REGISTRY.register(
    "q_graph_common_neighbors",
    tags=("graph",),
    oracle="""
WITH baskets AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), edges AS MATERIALIZED (
  SELECT a.p_brand AS u, b.p_brand AS v
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY a.p_brand, b.p_brand
  HAVING COUNT(*) >= 80
), sym AS MATERIALIZED (
  SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
), deg AS MATERIALIZED (
  SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u
), cn AS MATERIALIZED (
  SELECT n1.v AS a, n2.v AS b, CAST(COUNT(*) AS BIGINT) AS common
  FROM sym n1 JOIN sym n2 ON n1.u = n2.u AND n1.v < n2.v
  GROUP BY n1.v, n2.v
)
SELECT cn.a, cn.b, cn.common,
       ROUND(cn.common * 1.0 / (da.d + db.d - cn.common), 6) AS nb_jaccard
FROM cn JOIN deg da ON cn.a = da.node JOIN deg db ON cn.b = db.node
""",
)
def q_graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural node similarity on the brand co-purchase graph:
    common-neighbor counts + neighborhood Jaccard for every node pair
    sharing at least one neighbor — the link-prediction / related-item
    kernel. The pair space is generated by the keyed self-join of the
    symmetric adjacency on the SHARED NEIGHBOR (each neighbor x
    contributes deg(x)^2/2 pairs), never nodes x nodes; degrees are a
    node-cardinality aggregate broadcast back. At scale the standard
    hub-cap refinement (drop or sample neighbors above a degree
    ceiling before the self-join) bounds the quadratic term exactly
    like the basket-size bound in q_basket_lift."""
    from catenae_kafka_spark.operators.composites import brand_baskets

    c = catalog(spark, sf_dir)
    baskets = brand_baskets(c)
    a = baskets.select("l_orderkey", F.col("p_brand").alias("u"))
    b = baskets.select("l_orderkey", F.col("p_brand").alias("v"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 80)
        .select("u", "v")
    )
    sym = materialize(
        edges.unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    n1 = sym.select(F.col("u").alias("x"), F.col("v").alias("a"))
    n2 = sym.select(F.col("u").alias("x"), F.col("v").alias("b"))
    cn = (
        n1.join(n2, "x")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("common"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    return (
        cn.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            "a",
            "b",
            "common",
            F.round(
                F.col("common") / (F.col("da") + F.col("db") - F.col("common")), 6
            ).alias("nb_jaccard"),
        )
    )


@REGISTRY.register(
    "q_shortest_path_bf",
    tags=("graph",),
    oracle="""
WITH baskets AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), weighted AS MATERIALIZED (
  SELECT a.p_brand AS u, b.p_brand AS v, CAST(COUNT(*) AS BIGINT) AS w
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY a.p_brand, b.p_brand
  HAVING COUNT(*) >= 80
), sym AS MATERIALIZED (
  SELECT u, v, CAST(FLOOR(1000000.0 / w) AS BIGINT) AS cost FROM weighted
  UNION ALL
  SELECT v AS u, u AS v, CAST(FLOOR(1000000.0 / w) AS BIGINT) AS cost FROM weighted
), seed AS MATERIALIZED (SELECT MIN(u) AS s FROM sym),
d0 AS MATERIALIZED (SELECT s AS node, CAST(0 AS BIGINT) AS d FROM seed),
r1 AS MATERIALIZED (SELECT e.v AS node, MIN(d0.d + e.cost) AS d
       FROM d0 JOIN sym e ON e.u = d0.node GROUP BY e.v),
d1 AS MATERIALIZED (SELECT node, CAST(MIN(d) AS BIGINT) AS d FROM
       (SELECT * FROM d0 UNION ALL SELECT * FROM r1) GROUP BY node),
r2 AS MATERIALIZED (SELECT e.v AS node, MIN(d1.d + e.cost) AS d
       FROM d1 JOIN sym e ON e.u = d1.node GROUP BY e.v),
d2 AS MATERIALIZED (SELECT node, CAST(MIN(d) AS BIGINT) AS d FROM
       (SELECT * FROM d1 UNION ALL SELECT * FROM r2) GROUP BY node),
r3 AS MATERIALIZED (SELECT e.v AS node, MIN(d2.d + e.cost) AS d
       FROM d2 JOIN sym e ON e.u = d2.node GROUP BY e.v),
d3 AS MATERIALIZED (SELECT node, CAST(MIN(d) AS BIGINT) AS d FROM
       (SELECT * FROM d2 UNION ALL SELECT * FROM r3) GROUP BY node)
SELECT node, d AS dist_micro FROM d3
""",
)
def q_shortest_path_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest paths by BOUNDED BELLMAN-FORD (3
    relaxation rounds) over the brand co-purchase graph, edge cost =
    floor(1e6 / co-occurrence) so strong associations are short hops —
    the weighted-reachability kernel (influence radius, related-item
    distance). Exact: costs and distances are BIGINT throughout;
    the oracle unrolls the same three relaxations as CTEs.

    Scale shape: the distance table is NODE-cardinality and joins the
    edge list as the broadcast side each round (identical to
    q_pagerank's iteration discipline); each relaxation is one keyed
    aggregation on the destination node. k rounds = k bounded
    broadcast-join + agg stages, never an unbounded transitive
    closure; unreached nodes simply stay absent."""
    from catenae_kafka_spark.operators.composites import brand_baskets

    c = catalog(spark, sf_dir)
    baskets = brand_baskets(c)
    a = baskets.select("l_orderkey", F.col("p_brand").alias("u"))
    b = baskets.select("l_orderkey", F.col("p_brand").alias("v"))
    # brand-pair bounded; referenced by sym (both union sides) and the
    # seed — materialize once (optimization r13, guide §5: measured 60
    # lineitem scans / 236 Exchanges in this query's plan without it)
    weighted = materialize(
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= 80)
    )
    cost = F.floor(F.lit(1000000.0) / F.col("w")).cast("bigint")
    sym = weighted.select("u", "v", cost.alias("cost")).unionAll(
        weighted.select(
            F.col("v").alias("u"), F.col("u").alias("v"), cost.alias("cost")
        )
    )
    sym = sym.cache()  # reused by all 3 relaxation rounds
    seed = sym.agg(F.min("u").alias("node")).select(
        "node", F.lit(0).cast("bigint").alias("d")
    )
    dist = seed
    for _ in range(3):
        relaxed = (
            sym.join(
                F.broadcast(dist.select(F.col("node").alias("u"), "d")), "u"
            )
            .groupBy(F.col("v").alias("node"))
            .agg(F.min(F.col("d") + F.col("cost")).alias("d"))
        )
        dist = (
            dist.unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("d").cast("bigint").alias("d"))
        )
    return dist.select("node", F.col("d").alias("dist_micro"))


@REGISTRY.register(
    "q_collab_filter",
    tags=("graph", "recommender"),
    oracle="""
WITH baskets AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), edges AS MATERIALIZED (
  SELECT a.p_brand AS u, b.p_brand AS v
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY a.p_brand, b.p_brand
  HAVING COUNT(*) >= 80
), sym AS MATERIALIZED (
  SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
), deg AS MATERIALIZED (
  SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u
), cn AS MATERIALIZED (
  SELECT n1.v AS a, n2.v AS b, CAST(COUNT(*) AS BIGINT) AS common
  FROM sym n1 JOIN sym n2 ON n1.u = n2.u AND n1.v <> n2.v
  GROUP BY n1.v, n2.v
), sim AS MATERIALIZED (
  SELECT cn.a, cn.b,
         CAST(FLOOR(cn.common * 1000000.0 / (da.d + db.d - cn.common))
              AS BIGINT) AS sim_micro
  FROM cn JOIN deg da ON cn.a = da.node JOIN deg db ON cn.b = db.node
), owned AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey, bk.p_brand
  FROM orders o JOIN baskets bk ON o.o_orderkey = bk.l_orderkey
), scores AS MATERIALIZED (
  SELECT ow.o_custkey, s.b AS rec_brand,
         CAST(SUM(s.sim_micro) AS BIGINT) AS score_micro
  FROM owned ow JOIN sim s ON ow.p_brand = s.a
  WHERE NOT EXISTS (
    SELECT 1 FROM owned o2
    WHERE o2.o_custkey = ow.o_custkey AND o2.p_brand = s.b
  )
  GROUP BY ow.o_custkey, s.b
)
SELECT o_custkey, rec_brand, score_micro FROM (
  SELECT o_custkey, rec_brand, score_micro,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY score_micro DESC, rec_brand) AS rn
  FROM scores
) WHERE rn = 1
""",
)
def q_collab_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: recommend each customer the
    highest-scoring brand they have NOT bought, score = sum of
    neighborhood-Jaccard similarity (micro-unit BIGINT, so the sum is
    exact) between the candidate and every brand they have bought —
    the classic related-item recommender built on
    q_graph_common_neighbors' similarity edges.

    Scale shape: the item-item similarity table is ITEM-cardinality
    (tiny vs users) and BROADCAST to the per-customer ownership join;
    the not-owned exclusion is a LEFT ANTI on (customer, brand); top-1
    is a per-customer window over candidate-cardinality rows. The
    user-facing fact table shuffles once on the customer key."""
    from catenae_kafka_spark.operators.composites import brand_baskets

    c = catalog(spark, sf_dir)
    baskets = brand_baskets(c)
    a = baskets.select("l_orderkey", F.col("p_brand").alias("u"))
    b = baskets.select("l_orderkey", F.col("p_brand").alias("v"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 80)
        .select("u", "v")
    )
    sym = materialize(
        edges.unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    n1 = sym.select(F.col("u").alias("x"), F.col("v").alias("a"))
    n2 = sym.select(F.col("u").alias("x"), F.col("v").alias("b"))
    cn = (
        n1.join(n2, "x")
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("common"))
    )
    sim = (
        cn.join(F.broadcast(deg.select(F.col("node").alias("a"), F.col("d").alias("da"))), "a")
        .join(F.broadcast(deg.select(F.col("node").alias("b"), F.col("d").alias("db"))), "b")
        .select(
            "a",
            "b",
            F.floor(
                F.col("common")
                * F.lit(1000000.0)
                / (F.col("da") + F.col("db") - F.col("common"))
            )
            .cast("bigint")
            .alias("sim_micro"),
        )
    )
    owned = materialize(
        c.orders.select("o_custkey", "o_orderkey")
        .join(baskets, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_custkey", "p_brand")
        .distinct()
    )
    cand = owned.join(
        F.broadcast(sim.select(F.col("a").alias("p_brand"), "b", "sim_micro")),
        "p_brand",
    )
    not_owned = cand.join(
        owned.select(
            F.col("o_custkey"), F.col("p_brand").alias("b")
        ),
        ["o_custkey", "b"],
        "left_anti",
    )
    scores = not_owned.groupBy("o_custkey", F.col("b").alias("rec_brand")).agg(
        F.sum("sim_micro").cast("bigint").alias("score_micro")
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("score_micro").desc(), "rec_brand"
    )
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "rec_brand", "score_micro")
    )


@REGISTRY.register(
    "q_graph_assortativity",
    tags=("graph",),
    oracle="""
WITH baskets AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), weighted AS MATERIALIZED (
  SELECT a.p_brand AS u, b.p_brand AS v, CAST(COUNT(*) AS BIGINT) AS w
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY a.p_brand, b.p_brand
), edges AS MATERIALIZED (
  SELECT u, v FROM (
    SELECT u, v, ROW_NUMBER() OVER (ORDER BY w DESC, u, v) AS rn FROM weighted
  ) WHERE rn <= 60
), sym AS MATERIALIZED (
  SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
), deg AS MATERIALIZED (
  SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u
), xy AS MATERIALIZED (
  SELECT du.d AS x, dv.d AS y
  FROM sym JOIN deg du ON sym.u = du.node JOIN deg dv ON sym.v = dv.node
), s AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM xy
)
SELECT n AS n_directed_edges,
       CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                 * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) = 0
            THEN NULL
            ELSE CAST(FLOOR(
              (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
              / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                     * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
              * 1000000) AS BIGINT) END AS assortativity_micro
FROM s
""",
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph: Pearson
    correlation of endpoint degrees over the symmetric edge list —
    positive = hubs link hubs (assortative), negative = hub-and-spoke
    (disassortative); the one-number structural summary used to pick
    partition/sampling strategies for graph workloads.

    All five power sums accumulate in BIGINT over the edge list (one
    aggregation after two broadcast degree joins), so the correlation
    is a deterministic function of exact integers — same discipline
    as q_acf_daily; emitted floored to micro-units."""
    from catenae_kafka_spark.operators.composites import brand_baskets

    c = catalog(spark, sf_dir)
    baskets = brand_baskets(c)
    a = baskets.select("l_orderkey", F.col("p_brand").alias("u"))
    b = baskets.select("l_orderkey", F.col("p_brand").alias("v"))
    weighted = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("w"))
    )
    # top-60 strongest edges (the q_bfs_khop construction): the >=80
    # threshold yields the COMPLETE K25 graph on these fixtures, whose
    # degree variance is zero - assortativity needs degree spread
    edges = (
        weighted.select(
            "u",
            "v",
            F.row_number()
            .over(Window.orderBy(F.col("w").desc(), "u", "v"))
            .alias("rn"),
        )
        .filter(F.col("rn") <= 60)
        .select("u", "v")
    )
    sym = materialize(
        edges.unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    xy = (
        sym.join(
            F.broadcast(deg.select(F.col("node").alias("u"), F.col("d").alias("x"))),
            "u",
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("v"), F.col("d").alias("y"))),
            "v",
        )
        .select("x", "y")
    )
    s = xy.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    n, sx, sy = F.col("n").cast("double"), F.col("sx").cast("double"), F.col("sy").cast("double")
    varprod = (n * F.col("sxx") - sx * F.col("sx")) * (
        n * F.col("syy") - sy * F.col("sy")
    )
    # a degree-REGULAR graph (the thresholded sf0.01 fixture graph is
    # one) has zero degree variance: correlation is undefined -> NULL
    return s.select(
        F.col("n").alias("n_directed_edges"),
        F.when(varprod == 0, F.lit(None).cast("bigint"))
        .otherwise(
            F.floor(
                (n * F.col("sxy") - sx * F.col("sy"))
                / F.sqrt(varprod)
                * 1000000
            ).cast("bigint")
        )
        .alias("assortativity_micro"),
    )


@REGISTRY.register(
    "q_kcore_peel",
    tags=("graph",),
    oracle="""
WITH baskets AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), weighted AS MATERIALIZED (
  SELECT a.p_brand AS u, b.p_brand AS v, CAST(COUNT(*) AS BIGINT) AS w
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY a.p_brand, b.p_brand
), edges AS MATERIALIZED (
  SELECT u, v FROM (
    SELECT u, v, ROW_NUMBER() OVER (ORDER BY w DESC, u, v) AS rn FROM weighted
  ) WHERE rn <= 60
), sym0 AS MATERIALIZED (
  SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
), keep1 AS MATERIALIZED (
  SELECT u FROM sym0 GROUP BY u HAVING COUNT(*) >= 4
), sym1 AS MATERIALIZED (
  SELECT s.u, s.v FROM sym0 s
  JOIN keep1 a ON s.u = a.u JOIN keep1 b ON s.v = b.u
), keep2 AS MATERIALIZED (
  SELECT u FROM sym1 GROUP BY u HAVING COUNT(*) >= 4
), sym2 AS MATERIALIZED (
  SELECT s.u, s.v FROM sym1 s
  JOIN keep2 a ON s.u = a.u JOIN keep2 b ON s.v = b.u
), keep3 AS MATERIALIZED (
  SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM sym2 GROUP BY u
  HAVING COUNT(*) >= 4
)
SELECT u AS node, deg FROM keep3
""",
)
def q_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-core extraction by BOUNDED ITERATIVE PEELING (3 rounds) over
    the top-60-edge co-purchase graph: repeatedly drop nodes with
    degree < k and the edges touching them — the dense-subgraph kernel
    behind community seeding and spam-ring detection. The oracle
    unrolls the same three peels as CTEs; surviving nodes and their
    final (within-core) degrees are the result.

    Each peel round is one degree aggregation (node-cardinality) plus
    two BROADCAST semi-joins of the surviving-node list against the
    edge table — the q_pagerank iteration discipline; k rounds = k
    bounded stages, and the edge table only ever shrinks."""
    from catenae_kafka_spark.operators.composites import brand_baskets

    c = catalog(spark, sf_dir)
    baskets = brand_baskets(c)
    a = baskets.select("l_orderkey", F.col("p_brand").alias("u"))
    b = baskets.select("l_orderkey", F.col("p_brand").alias("v"))
    weighted = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("w"))
    )
    edges = (
        weighted.select(
            "u",
            "v",
            F.row_number()
            .over(Window.orderBy(F.col("w").desc(), "u", "v"))
            .alias("rn"),
        )
        .filter(F.col("rn") <= 60)
        .select("u", "v")
    )
    # Materialize the (<=120-row) symmetrized edge list ONCE before the
    # peel loop (optimization r13, guide §5): each peel round's plan
    # embeds the previous round's, and Catalyst does not CSE repeated
    # DataFrame subtrees, so the basket-build pipeline was duplicated
    # near-exponentially — measured 100 lineitem scans / 374 Exchanges
    # / 0 ReusedExchange in this query's physical plan (identical rows
    # after; rung numbers in OPTIMIZATION_r13.md).
    sym = materialize(
        edges.unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    )
    k = 4
    for rnd in range(3):
        deg = sym.groupBy("u").agg(F.count("*").alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("u")
        if rnd == 2:
            final = deg.filter(F.col("deg") >= k).select(
                F.col("u").alias("node"), F.col("deg").cast("bigint").alias("deg")
            )
            return final
        sym = sym.join(F.broadcast(keep), "u", "left_semi").join(
            F.broadcast(keep.select(F.col("u").alias("v"))), "v", "left_semi"
        )


_LPA_ROUNDS = 2


@REGISTRY.register(
    "q_label_propagation",
    tags=("graph", "iterative"),
    oracle="""
WITH directed AS MATERIALIZED (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer c ON o_custkey = c.c_custkey
  JOIN supplier s ON l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
  GROUP BY c.c_nationkey, s.s_nationkey
), edges AS MATERIALIZED (
  SELECT u, v, CAST(SUM(w) AS BIGINT) AS w FROM (
    SELECT src AS u, dst AS v, w FROM directed
    UNION ALL
    SELECT dst AS u, src AS v, w FROM directed
  ) both_dirs GROUP BY u, v
), l0 AS MATERIALIZED (
  SELECT DISTINCT u AS node, u AS label FROM edges
), v1 AS MATERIALIZED (
  SELECT e.u, l.label, CAST(SUM(e.w) AS BIGINT) AS s
  FROM edges e JOIN l0 l ON e.v = l.node GROUP BY e.u, l.label
), l1 AS MATERIALIZED (
  SELECT u AS node, label FROM (
    SELECT u, label,
           ROW_NUMBER() OVER (PARTITION BY u ORDER BY s DESC, label) AS rn
    FROM v1
  ) r WHERE rn = 1
), v2 AS MATERIALIZED (
  SELECT e.u, l.label, CAST(SUM(e.w) AS BIGINT) AS s
  FROM edges e JOIN l1 l ON e.v = l.node GROUP BY e.u, l.label
), l2 AS (
  SELECT u AS node, label FROM (
    SELECT u, label,
           ROW_NUMBER() OVER (PARTITION BY u ORDER BY s DESC, label) AS rn
    FROM v2
  ) r WHERE rn = 1
)
SELECT node, label FROM l2
""",
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation (community detection)
    over the symmetrized nation trade graph, 2 rounds.

    Classic LPA is order-dependent; this is the deterministic batch
    variant: every round, each node simultaneously adopts the label with
    the greatest total incident edge weight among its neighbors, ties
    broken by smallest label — so the recurrence is exactly unrollable
    in SQL and the driver hash-checks real label parity.

    Scale shape: labels table is O(nodes); each round is one
    edges-with-labels join + a (node,label) aggregation + a per-node
    arg-max window. Edge weights aggregate once up front; with a fixed
    round count nothing iterative leaves the JVM, and the per-round
    shuffle carries only (node, label, weight) triples — the same
    bounded-rounds discipline as pagerank/k-core/Bellman-Ford here.
    """
    c = catalog(spark, sf_dir)
    cust = c.customer.select("c_custkey", "c_nationkey")
    supp = c.supplier.select("s_suppkey", "s_nationkey")
    directed = (
        c.lineitem.select("l_orderkey", "l_suppkey")
        .join(
            c.orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
    )
    # nation-pair bounded (<=600 rows); referenced by every LPA round
    # plus the label init — materialize once (optimization r13, guide
    # §5: measured 6 lineitem scans / 32 Exchanges in this query's
    # plan without it; the edge build is a fact⋈fact join)
    edges = materialize(
        directed.select(F.col("src").alias("u"), F.col("dst").alias("v"), "w")
        .unionAll(
            directed.select(
                F.col("dst").alias("u"), F.col("src").alias("v"), "w"
            )
        )
        .groupBy("u", "v")
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    labels = edges.select(F.col("u").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    pick = Window.partitionBy("u").orderBy(F.col("s").desc(), F.col("label"))
    for _ in range(_LPA_ROUNDS):
        votes = (
            edges.join(labels, edges.v == labels.node)
            .groupBy("u", "label")
            .agg(F.sum("w").cast("bigint").alias("s"))
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(pick))
            .filter(F.col("rn") == 1)
            .select(F.col("u").alias("node"), "label")
        )
    return labels


@REGISTRY.register(
    "q_rec_precision",
    tags=("graph", "recommender", "evaluation"),
    oracle="""
WITH baskets AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), train_o AS MATERIALIZED (
  SELECT o_orderkey, o_custkey FROM orders
  WHERE o_orderdate < TIMESTAMP '1999-01-01'
), test_o AS MATERIALIZED (
  SELECT o_orderkey, o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1999-01-01'
), tb AS MATERIALIZED (
  SELECT b.l_orderkey, b.p_brand FROM baskets b
  JOIN train_o t ON b.l_orderkey = t.o_orderkey
), edges AS MATERIALIZED (
  SELECT a.p_brand AS u, b.p_brand AS v
  FROM tb a JOIN tb b ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY a.p_brand, b.p_brand HAVING COUNT(*) >= 50
), sym AS MATERIALIZED (
  SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
), deg AS MATERIALIZED (
  SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u
), cn AS MATERIALIZED (
  SELECT n1.v AS a, n2.v AS b, CAST(COUNT(*) AS BIGINT) AS common
  FROM sym n1 JOIN sym n2 ON n1.u = n2.u AND n1.v <> n2.v
  GROUP BY n1.v, n2.v
), sim AS MATERIALIZED (
  SELECT cn.a, cn.b,
         CAST(FLOOR(cn.common * 1000000.0 / (da.d + db.d - cn.common))
              AS BIGINT) AS sim_micro
  FROM cn JOIN deg da ON cn.a = da.node JOIN deg db ON cn.b = db.node
), owned AS MATERIALIZED (
  SELECT DISTINCT t.o_custkey, b.p_brand
  FROM train_o t JOIN baskets b ON t.o_orderkey = b.l_orderkey
), scores AS MATERIALIZED (
  SELECT ow.o_custkey, s.b AS rec_brand,
         CAST(SUM(s.sim_micro) AS BIGINT) AS score_micro
  FROM owned ow JOIN sim s ON ow.p_brand = s.a
  WHERE NOT EXISTS (
    SELECT 1 FROM owned o2
    WHERE o2.o_custkey = ow.o_custkey AND o2.p_brand = s.b
  )
  GROUP BY ow.o_custkey, s.b
), top1 AS MATERIALIZED (
  SELECT o_custkey, rec_brand FROM (
    SELECT o_custkey, rec_brand,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY score_micro DESC, rec_brand) AS rn
    FROM scores
  ) WHERE rn = 1
), test_owned AS MATERIALIZED (
  SELECT DISTINCT t.o_custkey, b.p_brand
  FROM test_o t JOIN baskets b ON t.o_orderkey = b.l_orderkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users_with_rec,
       CAST(COUNT(tw.p_brand) AS BIGINT) AS n_hits,
       CASE WHEN COUNT(*) = 0 THEN NULL
            ELSE (CAST(COUNT(tw.p_brand) AS BIGINT) * 1000000) // COUNT(*)
       END AS precision_micro
FROM top1
LEFT JOIN test_owned tw
  ON top1.o_custkey = tw.o_custkey AND top1.rec_brand = tw.p_brand
""",
)
def q_rec_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline recommender evaluation with a TEMPORAL train/test split:
    train the item-item CF of q_collab_filter only on pre-1999 orders,
    emit each customer's top-1 unowned-brand recommendation, and score
    precision@1 against what they actually bought from 1999 on — the
    leakage-free evaluation loop (no future co-occurrence ever reaches
    the similarity model; complements q_split_leakage's audit).

    Exact: similarity and scores are micro-unit BIGINTs, precision is
    floor division; the top-1 tie-break (score DESC, brand) is total.

    Scale shape: identical to q_collab_filter (brand-cardinality sim
    table broadcast, one customer-keyed shuffle) plus one broadcast
    hash join of the top-1 table against test ownership; the final
    metric is a 3-column global agg."""
    from catenae_kafka_spark.operators.composites import brand_baskets

    c = catalog(spark, sf_dir)
    baskets = brand_baskets(c)
    split = F.lit("1999-01-01").cast("timestamp")
    train_o = c.orders.filter(F.col("o_orderdate") < split).select(
        "o_orderkey", "o_custkey"
    )
    test_o = c.orders.filter(F.col("o_orderdate") >= split).select(
        "o_orderkey", "o_custkey"
    )
    tb = baskets.join(
        train_o.select("o_orderkey"),
        baskets["l_orderkey"] == F.col("o_orderkey"),
    ).select("l_orderkey", "p_brand")
    a = tb.select("l_orderkey", F.col("p_brand").alias("u"))
    b = tb.select("l_orderkey", F.col("p_brand").alias("v"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 50)
        .select("u", "v")
    )
    sym = materialize(
        edges.unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    n1 = sym.select(F.col("u").alias("x"), F.col("v").alias("a"))
    n2 = sym.select(F.col("u").alias("x"), F.col("v").alias("b"))
    cn = (
        n1.join(n2, "x")
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("common"))
    )
    sim = (
        cn.join(
            F.broadcast(deg.select(F.col("node").alias("a"), F.col("d").alias("da"))),
            "a",
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("b"), F.col("d").alias("db"))),
            "b",
        )
        .select(
            "a",
            "b",
            F.floor(
                F.col("common")
                * F.lit(1000000.0)
                / (F.col("da") + F.col("db") - F.col("common"))
            )
            .cast("bigint")
            .alias("sim_micro"),
        )
    )
    owned = materialize(
        train_o.join(baskets, train_o["o_orderkey"] == baskets["l_orderkey"])
        .select("o_custkey", "p_brand")
        .distinct()
    )
    cand = owned.join(
        F.broadcast(sim.select(F.col("a").alias("p_brand"), "b", "sim_micro")),
        "p_brand",
    )
    not_owned = cand.join(
        owned.select(
            F.col("o_custkey").alias("ck2"), F.col("p_brand").alias("b2")
        ),
        (F.col("o_custkey") == F.col("ck2")) & (F.col("b") == F.col("b2")),
        "left_anti",
    )
    scores = not_owned.groupBy("o_custkey", F.col("b").alias("rec_brand")).agg(
        F.sum("sim_micro").cast("bigint").alias("score_micro")
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("score_micro").desc(), F.col("rec_brand")
    )
    top1 = (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "rec_brand")
    )
    test_owned = (
        test_o.join(baskets, test_o["o_orderkey"] == baskets["l_orderkey"])
        .select(F.col("o_custkey").alias("tck"), F.col("p_brand").alias("tb"))
        .distinct()
    )
    hits = top1.join(
        test_owned,
        (F.col("o_custkey") == F.col("tck")) & (F.col("rec_brand") == F.col("tb")),
        "left",
    )
    return hits.agg(
        F.count("*").cast("bigint").alias("n_users_with_rec"),
        F.count("tb").cast("bigint").alias("n_hits"),
    ).select(
        "n_users_with_rec",
        "n_hits",
        F.expr(
            "CASE WHEN n_users_with_rec = 0 THEN NULL "
            "ELSE (n_hits * 1000000) div n_users_with_rec END"
        ).alias("precision_micro"),
    )


@REGISTRY.register(
    "q_graph_modularity",
    tags=("graph",),
    oracle="""
WITH directed AS MATERIALIZED (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
         CAST(COUNT(*) AS BIGINT) AS w
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer c ON o_custkey = c.c_custkey
  JOIN supplier s ON l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
  GROUP BY src, dst
), sym AS MATERIALIZED (
  SELECT u, v, CAST(SUM(w) AS BIGINT) AS w FROM (
    SELECT src AS u, dst AS v, w FROM directed
    UNION ALL SELECT dst, src, w FROM directed
  ) GROUP BY u, v
), comm AS MATERIALIZED (
  SELECT n_nationkey AS node, n_regionkey AS c FROM nation
), t AS MATERIALIZED (
  SELECT CAST(SUM(w) AS BIGINT) AS tw FROM sym
), per AS MATERIALIZED (
  SELECT cu.c,
         CAST(SUM(CASE WHEN cu.c = cv.c THEN sym.w ELSE 0 END) AS BIGINT)
           AS intra,
         CAST(SUM(sym.w) AS BIGINT) AS s_c
  FROM sym
  JOIN comm cu ON sym.u = cu.node
  JOIN comm cv ON sym.v = cv.node
  GROUP BY cu.c
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
       (SELECT tw FROM t) AS total_weight_2m,
       CAST(FLOOR(CAST(SUM(intra * (SELECT tw FROM t) - s_c * s_c)
                       AS DOUBLE)
                  / (CAST((SELECT tw FROM t) AS DOUBLE)
                     * (SELECT tw FROM t))
                  * 1000000) AS BIGINT) AS modularity_micro
FROM per
""",
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Newman modularity of the REGION partition over the
    international trade graph: does trade cluster within regions more
    than a degree-preserving random graph would predict? Q =
    sum_c [intra_c/2W - (s_c/2W)^2] — the standard community-quality
    score, here scoring a GIVEN partition (the dimension hierarchy)
    rather than a discovered one (complements q_label_propagation,
    which discovers labels, and q_graph_assortativity).

    Exactness: edge weights, intra-community sums and weighted degrees
    are BIGINT; Q's numerator sum_c (intra_c*2W - s_c^2) is exact
    integer; only the final normalization is one shared IEEE division,
    floored to micro-units.

    Scale shape: the trade graph aggregates once from the fact table
    (broadcast dims); everything after runs on the <=625-edge nation
    graph with the 25-row community map broadcast twice."""
    c0 = catalog(spark, sf_dir)
    cust = c0.customer.select("c_custkey", "c_nationkey")
    supp = c0.supplier.select("s_suppkey", "s_nationkey")
    directed = (
        c0.lineitem.select("l_orderkey", "l_suppkey")
        .join(
            c0.orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count("*").cast("bigint").alias("w"))
    )
    sym = materialize(
        directed.select(F.col("src").alias("u"), F.col("dst").alias("v"), "w")
        .unionAll(
            directed.select(F.col("dst").alias("u"), F.col("src").alias("v"), "w")
        )
        .groupBy("u", "v")
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    comm = c0.nation.select(
        F.col("n_nationkey").alias("node"), F.col("n_regionkey").alias("c")
    )
    t = sym.agg(F.sum("w").cast("bigint").alias("tw"))
    per = (
        sym.join(
            F.broadcast(comm.select(F.col("node").alias("u"), F.col("c").alias("cu"))),
            "u",
        )
        .join(
            F.broadcast(comm.select(F.col("node").alias("v"), F.col("c").alias("cv"))),
            "v",
        )
        .groupBy(F.col("cu").alias("c"))
        .agg(
            F.sum(F.when(F.col("cu") == F.col("cv"), F.col("w")).otherwise(0))
            .cast("bigint")
            .alias("intra"),
            F.sum("w").cast("bigint").alias("s_c"),
        )
    )
    return per.crossJoin(F.broadcast(t)).agg(
        F.count("*").cast("bigint").alias("n_communities"),
        F.max("tw").cast("bigint").alias("total_weight_2m"),
        F.floor(
            F.sum(
                F.col("intra") * F.col("tw") - F.col("s_c") * F.col("s_c")
            ).cast("double")
            / (F.max("tw").cast("double") * F.max("tw"))
            * 1000000
        )
        .cast("bigint")
        .alias("modularity_micro"),
    )


@REGISTRY.register(
    "q_rec_coverage",
    tags=("graph", "recommender", "evaluation"),
    oracle="""
WITH baskets AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), edges AS MATERIALIZED (
  SELECT a.p_brand AS u, b.p_brand AS v
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY a.p_brand, b.p_brand HAVING COUNT(*) >= 80
), sym AS MATERIALIZED (
  SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
), deg AS MATERIALIZED (
  SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u
), cn AS MATERIALIZED (
  SELECT n1.v AS a, n2.v AS b, CAST(COUNT(*) AS BIGINT) AS common
  FROM sym n1 JOIN sym n2 ON n1.u = n2.u AND n1.v <> n2.v
  GROUP BY n1.v, n2.v
), sim AS MATERIALIZED (
  SELECT cn.a, cn.b,
         CAST(FLOOR(cn.common * 1000000.0 / (da.d + db.d - cn.common))
              AS BIGINT) AS sim_micro
  FROM cn JOIN deg da ON cn.a = da.node JOIN deg db ON cn.b = db.node
), owned AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey, bk.p_brand
  FROM orders o JOIN baskets bk ON o.o_orderkey = bk.l_orderkey
), scores AS MATERIALIZED (
  SELECT ow.o_custkey, s.b AS rec_brand,
         CAST(SUM(s.sim_micro) AS BIGINT) AS score_micro
  FROM owned ow JOIN sim s ON ow.p_brand = s.a
  WHERE NOT EXISTS (
    SELECT 1 FROM owned o2
    WHERE o2.o_custkey = ow.o_custkey AND o2.p_brand = s.b
  )
  GROUP BY ow.o_custkey, s.b
), top1 AS MATERIALIZED (
  SELECT o_custkey, rec_brand FROM (
    SELECT o_custkey, rec_brand,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY score_micro DESC, rec_brand) AS rn
    FROM scores
  ) WHERE rn = 1
)
SELECT CAST((SELECT COUNT(DISTINCT o_custkey) FROM owned) AS BIGINT)
         AS n_users_with_history,
       CAST((SELECT COUNT(*) FROM top1) AS BIGINT) AS n_users_with_rec,
       CAST((SELECT COUNT(DISTINCT rec_brand) FROM top1) AS BIGINT)
         AS n_brands_recommended,
       CAST((SELECT COUNT(DISTINCT p_brand) FROM baskets) AS BIGINT)
         AS n_brands_catalog,
       ((SELECT COUNT(*) FROM top1) * 1000000)
         // (SELECT COUNT(DISTINCT o_custkey) FROM owned)
         AS user_coverage_micro,
       ((SELECT COUNT(DISTINCT rec_brand) FROM top1) * 1000000)
         // (SELECT COUNT(DISTINCT p_brand) FROM baskets)
         AS catalog_coverage_micro
""",
)
def q_rec_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommender COVERAGE metrics for the q_collab_filter top-1
    policy: what fraction of users with any history actually receive a
    recommendation (cold-start exposure), and what fraction of the
    catalog ever gets recommended (popularity concentration /
    filter-bubble risk) — the two health metrics that accuracy numbers
    like q_rec_precision structurally cannot see (a recommender that
    only ever suggests the top brand can score fine on precision while
    covering 4% of the catalog).

    Exact: distinct counts and floor-division coverages over the same
    CF chain as q_collab_filter (same thresholds, same tie-breaks).

    Scale shape: identical to q_collab_filter plus four tiny distinct
    aggregates."""
    from catenae_kafka_spark.operators.composites import brand_baskets

    c = catalog(spark, sf_dir)
    baskets = brand_baskets(c)
    a = baskets.select("l_orderkey", F.col("p_brand").alias("u"))
    b = baskets.select("l_orderkey", F.col("p_brand").alias("v"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 80)
        .select("u", "v")
    )
    sym = materialize(
        edges.unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    n1 = sym.select(F.col("u").alias("x"), F.col("v").alias("a"))
    n2 = sym.select(F.col("u").alias("x"), F.col("v").alias("b"))
    cn = (
        n1.join(n2, "x")
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("common"))
    )
    sim = (
        cn.join(F.broadcast(deg.select(F.col("node").alias("a"), F.col("d").alias("da"))), "a")
        .join(F.broadcast(deg.select(F.col("node").alias("b"), F.col("d").alias("db"))), "b")
        .select(
            "a",
            "b",
            F.floor(
                F.col("common")
                * F.lit(1000000.0)
                / (F.col("da") + F.col("db") - F.col("common"))
            )
            .cast("bigint")
            .alias("sim_micro"),
        )
    )
    owned = materialize(
        c.orders.select("o_custkey", "o_orderkey")
        .join(baskets, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_custkey", "p_brand")
        .distinct()
    )
    cand = owned.join(
        F.broadcast(sim.select(F.col("a").alias("p_brand"), "b", "sim_micro")),
        "p_brand",
    )
    not_owned = cand.join(
        owned.select(
            F.col("o_custkey").alias("ck2"), F.col("p_brand").alias("b2")
        ),
        (F.col("o_custkey") == F.col("ck2")) & (F.col("b") == F.col("b2")),
        "left_anti",
    )
    scores = not_owned.groupBy("o_custkey", F.col("b").alias("rec_brand")).agg(
        F.sum("sim_micro").cast("bigint").alias("score_micro")
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("score_micro").desc(), F.col("rec_brand")
    )
    top1 = (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "rec_brand")
    )
    m_users = owned.agg(
        F.countDistinct("o_custkey").cast("bigint").alias("n_users_with_history")
    )
    m_rec = top1.agg(
        F.count("*").cast("bigint").alias("n_users_with_rec"),
        F.countDistinct("rec_brand").cast("bigint").alias("n_brands_recommended"),
    )
    m_cat = baskets.agg(
        F.countDistinct("p_brand").cast("bigint").alias("n_brands_catalog")
    )
    return (
        m_users.crossJoin(F.broadcast(m_rec))
        .crossJoin(F.broadcast(m_cat))
        .select(
            "n_users_with_history",
            "n_users_with_rec",
            "n_brands_recommended",
            "n_brands_catalog",
            # nullif: an empty lake (no users with history / no
            # catalog) leaves coverage undefined — NULL on both
            # engines (empty-fixture fuzz); integer division kept
            F.expr(
                "(n_users_with_rec * 1000000)"
                " div nullif(n_users_with_history, 0)"
            ).alias("user_coverage_micro"),
            F.expr(
                "(n_brands_recommended * 1000000)"
                " div nullif(n_brands_catalog, 0)"
            ).alias("catalog_coverage_micro"),
        )
    )


@REGISTRY.register(
    "q_graph_reciprocity",
    tags=("graph",),
    oracle="""
WITH directed AS MATERIALIZED (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
         CAST(COUNT(*) AS BIGINT) AS w
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer c ON o_custkey = c.c_custkey
  JOIN supplier s ON l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
  GROUP BY src, dst
), paired AS MATERIALIZED (
  SELECT a.src, a.dst, a.w,
         COALESCE(b.w, 0) AS w_rev
  FROM directed a
  LEFT JOIN directed b ON a.src = b.dst AND a.dst = b.src
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(SUM(w) AS BIGINT) AS total_weight,
       CAST(SUM(LEAST(w, w_rev)) AS BIGINT) AS reciprocated_weight,
       (CAST(SUM(LEAST(w, w_rev)) AS BIGINT) * 1000000)
         // CAST(SUM(w) AS BIGINT) AS reciprocity_micro
FROM paired
""",
)
def q_graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reciprocity of the DIRECTED trade graph: what share of
    flow is returned along the reverse edge (sum of min(w_uv, w_vu)
    over outgoing weight) — the trade-balance/mutuality statistic the
    symmetrized views (modularity, assortativity) erase by
    construction.

    Exact: edge weights are BIGINT counts; min/sum/floor-division.

    Scale shape: the directed edge table aggregates once from the fact
    join (broadcast dims); reciprocity is one self-join on the
    <=600-edge nation graph."""
    c0 = catalog(spark, sf_dir)
    cust = c0.customer.select("c_custkey", "c_nationkey")
    supp = c0.supplier.select("s_suppkey", "s_nationkey")
    directed = (
        c0.lineitem.select("l_orderkey", "l_suppkey")
        .join(
            c0.orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count("*").cast("bigint").alias("w"))
    )
    rev = directed.select(
        F.col("dst").alias("rsrc"), F.col("src").alias("rdst"),
        F.col("w").alias("w_rev"),
    )
    paired = directed.join(
        rev,
        (F.col("src") == F.col("rsrc")) & (F.col("dst") == F.col("rdst")),
        "left",
    ).select("w", F.coalesce("w_rev", F.lit(0)).alias("w_rev"))
    return paired.agg(
        F.count("*").cast("bigint").alias("n_edges"),
        F.sum("w").cast("bigint").alias("total_weight"),
        F.sum(F.least("w", "w_rev")).cast("bigint").alias("reciprocated_weight"),
    ).select(
        "n_edges",
        "total_weight",
        "reciprocated_weight",
        F.expr(
            "(reciprocated_weight * 1000000) div total_weight"
        ).alias("reciprocity_micro"),
    )


@REGISTRY.register(
    "q_harmonic_centrality",
    tags=("graph",),
    oracle="""
WITH RECURSIVE baskets AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), weighted AS MATERIALIZED (
  SELECT a.p_brand AS u, b.p_brand AS v, CAST(COUNT(*) AS BIGINT) AS w
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY a.p_brand, b.p_brand
), top_edges AS MATERIALIZED (
  SELECT u, v FROM (
    SELECT u, v, ROW_NUMBER() OVER (ORDER BY w DESC, u, v) AS rn
    FROM weighted
  ) WHERE rn <= 40
), sym AS MATERIALIZED (
  SELECT u, v FROM top_edges UNION ALL SELECT v, u FROM top_edges
), nodes AS MATERIALIZED (
  SELECT DISTINCT u AS node FROM sym
), walk AS (
  SELECT node AS origin, node, 0 AS d FROM nodes
  UNION ALL
  SELECT w.origin, s.v, w.d + 1
  FROM walk w JOIN sym s ON s.u = w.node
  WHERE w.d < 3
), dmin AS MATERIALIZED (
  SELECT origin, node, MIN(d) AS d FROM walk GROUP BY origin, node
)
SELECT origin, CAST(COUNT(*) AS BIGINT) AS n_reach_3hop,
       CAST(SUM(1000000 // d) AS BIGINT) AS harmonic_micro
FROM dmin WHERE d > 0 GROUP BY origin
""",
)
def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-horizon harmonic centrality over the brand co-purchase
    graph: for EVERY node, sum 1/d over nodes within 3 hops — the
    centrality that stays well-defined on disconnected graphs (a node
    out of reach contributes 0, not infinity), computed as an
    all-sources generalization of q_bfs_khop's frontier expansion.

    Exact: distances are integers from the synchronized BFS rounds;
    1/d is floored to micro units (1e6//1, //2, //3), so the score is
    a BIGINT — no float anywhere.

    Scale shape: the multi-source frontier is (origin, node) keyed —
    3 rounds = 3 keyed join+min-fold shuffles over a frontier bounded
    by |nodes| x |nodes| (the graph is sparsified to 40 edges by
    deterministic rank, so this stays constant-sized as the fact
    table grows; at real graph scale the same schedule shards by
    origin). Oracle = the identical walk as a depth-bounded recursive
    CTE."""
    from catenae_kafka_spark.operators.composites import brand_baskets

    c = catalog(spark, sf_dir)
    baskets = brand_baskets(c)
    a = baskets.select("l_orderkey", F.col("p_brand").alias("u"))
    b = baskets.select("l_orderkey", F.col("p_brand").alias("v"))
    # brand-pair bounded; the frontier rounds re-reference sym and the
    # union/min-fold re-references dist — materialize the base once
    # (optimization r13, guide §5: measured 60 lineitem scans / 240
    # Exchanges in this query's plan without it)
    weighted = materialize(
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("w"))
    )
    w_rank = Window.orderBy(F.col("w").desc(), "u", "v")
    top_edges = (
        weighted.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= 40)
        .select("u", "v")
    )
    sym = top_edges.unionByName(
        top_edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).cache()
    nodes = sym.select(F.col("u").alias("node")).distinct()
    dist = nodes.select(
        F.col("node").alias("origin"), "node", F.lit(0).alias("d")
    )
    frontier = dist
    for depth in (1, 2, 3):
        neighbors = (
            F.broadcast(frontier.select("origin", F.col("node").alias("u")))
            .join(sym, "u")
            .select("origin", F.col("v").alias("node"), F.lit(depth).alias("d"))
            .distinct()
        )
        dist = (
            dist.unionByName(neighbors)
            .groupBy("origin", "node")
            .agg(F.min("d").alias("d"))
        )
        frontier = dist.filter(F.col("d") == depth)
    return (
        dist.filter(F.col("d") > 0)
        .groupBy("origin")
        .agg(
            F.count("*").cast("bigint").alias("n_reach_3hop"),
            F.sum(F.expr("1000000 div d")).cast("bigint").alias(
                "harmonic_micro"
            ),
        )
    )


@REGISTRY.register(
    "q_resource_allocation",
    tags=("graph", "link-prediction"),
    oracle="""
WITH baskets AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), edges AS MATERIALIZED (
  SELECT a.p_brand AS u, b.p_brand AS v
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY a.p_brand, b.p_brand
  HAVING COUNT(*) >= 80
), sym AS MATERIALIZED (
  SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
), deg AS MATERIALIZED (
  SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u
)
SELECT n1.v AS a, n2.v AS b,
       CAST(COUNT(*) AS BIGINT) AS common,
       CAST(SUM(1000000 // g.d) AS BIGINT) AS ra_micro
FROM sym n1
JOIN sym n2 ON n1.u = n2.u AND n1.v < n2.v
JOIN deg g ON g.node = n1.u
GROUP BY n1.v, n2.v
""",
)
def q_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link-prediction index on the brand
    co-purchase graph: RA(a,b) = sum over common neighbors z of
    1/deg(z) — the degree-penalized cousin of q_graph_common_neighbors
    (a shared HUB says little; a shared low-degree neighbor is strong
    evidence), and the log-free stand-in for Adamic-Adar (1/log deg is
    not hash-portable across engines; 1/deg is, in floored micro
    units — each term is floor(1e6/deg), summed in BIGINT, so the
    score is exact).

    Scale shape: identical to the common-neighbors kernel — pairs are
    generated by the keyed self-join on the SHARED neighbor (never
    nodes x nodes) with the neighbor's degree joined on the
    generating key before the pair aggregate, so the per-term
    penalty rides the same shuffle; the degree table is
    node-cardinality and broadcast. The hub-cap refinement bounds
    the quadratic term exactly as documented there."""
    from catenae_kafka_spark.operators.composites import brand_baskets

    c = catalog(spark, sf_dir)
    baskets = brand_baskets(c)
    a = baskets.select("l_orderkey", F.col("p_brand").alias("u"))
    b = baskets.select("l_orderkey", F.col("p_brand").alias("v"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 80)
        .select("u", "v")
    )
    sym = materialize(
        edges.unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    n1 = sym.select(F.col("u").alias("x"), F.col("v").alias("a"))
    n2 = sym.select(F.col("u").alias("x"), F.col("v").alias("b"))
    return (
        n1.join(n2, "x")
        .filter(F.col("a") < F.col("b"))
        .join(F.broadcast(deg.withColumnRenamed("node", "x")), "x")
        .groupBy("a", "b")
        .agg(
            F.count("*").cast("bigint").alias("common"),
            F.sum(F.expr("1000000 div d")).cast("bigint").alias("ra_micro"),
        )
    )
