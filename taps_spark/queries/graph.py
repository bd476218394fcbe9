"""Graph-analytics query inventory (§2c breadth): rank propagation
over relationships mined from the relational fixtures."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from taps_spark.io.tables import load_tables, materialize
from taps_spark.queries import query


@query("graph_pagerank_suppliers")  # rows-only: iterative fixpoint, not ANSI-SQL
def graph_pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the supplier→part supply graph (distinct
    (l_suppkey, l_partkey) edges from lineitem): parts sourced by
    many well-connected suppliers rank highest — the corpus-curation
    authority signal (crawl-domain ranking, citation weighting)
    expressed on the fixtures. 10 damped iterations with dangling
    mass redistributed; top-20 nodes by rank.

    Rows-only check (iterative fixpoint); tests/test_operators.py
    replays the exact formulation in NumPy on a small graph and pins
    ranks to 1e-9.
    """
    from taps_spark.operators.graph import pagerank

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    edges = li.select(
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
    )
    pr = pagerank(edges, iters=10, damping=0.85)
    return (
        pr.select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), "node")
        .limit(20)
    )


DEGREE_DIST_ORACLE = """
WITH deg AS (
  SELECT l_suppkey AS suppkey, COUNT(DISTINCT l_partkey) AS degree
  FROM lineitem GROUP BY l_suppkey
)
SELECT degree, COUNT(*) AS n_suppliers
FROM deg GROUP BY degree ORDER BY degree
"""


@query("graph_degree_distribution", oracle=DEGREE_DIST_ORACLE)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the supplier→part graph (distinct parts
    shipped per supplier, bucketed into a histogram) — the first
    diagnostic before any graph algorithm: a heavy-tailed degree
    histogram is what makes naive vertex-partitioned algorithms skew
    (and why graph_pagerank_suppliers pre-aggregates by edge).

    Two grouped aggs, both map-side combinable; the second groups on
    degree (tiny key space).  No joins, no explosion.
    """
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    deg = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.countDistinct("l_partkey").alias("degree")
    )
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
        .orderBy("degree")
    )


#: Shared oracle CTE for the support-thresholded co-purchase graph —
#: the support >= 2 threshold is load-bearing for scale (see
#: graph_triangle_count's docstring); both graph oracles splice this
#: in so a tuning change cannot desynchronize them.
COPURCHASE_EDGES_CTE = """op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
edges AS (
  SELECT a.p AS u, b.p AS v
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
)"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-thresholded co-purchase edges (u < v) — the Spark twin
    of COPURCHASE_EDGES_CTE, shared by triangle counting and link
    prediction."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    op = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")).distinct()
    b = op.select(F.col("o").alias("o2"), F.col("p").alias("p2"))
    return (
        op.join(b, (F.col("o") == F.col("o2")) & (F.col("p") < F.col("p2")))
        .groupBy(F.col("p").alias("u"), F.col("p2").alias("v"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("u", "v")
    )


TRIANGLE_ORACLE = "\nWITH " + COPURCHASE_EDGES_CTE + """,
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
  ) GROUP BY node
),
-- orient every edge from the lower-(degree, id) endpoint to the higher
oriented AS (
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS lo,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS hi
  FROM edges e
  JOIN deg du ON du.node = e.u
  JOIN deg dv ON dv.node = e.v
),
wedges AS (
  SELECT a.lo AS pivot, a.hi AS x, b.hi AS y
  FROM oriented a JOIN oriented b ON a.lo = b.lo AND a.hi < b.hi
),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM wedges w
  JOIN oriented o
    ON (o.lo = LEAST(w.x, w.y) AND o.hi = GREATEST(w.x, w.y))
     OR (o.hi = LEAST(w.x, w.y) AND o.lo = GREATEST(w.x, w.y))
)
SELECT (SELECT COUNT(DISTINCT node) FROM deg) AS n_nodes,
       (SELECT COUNT(*) FROM edges)           AS n_edges,
       n_triangles,
       ROUND(CAST(3.0 * n_triangles AS DOUBLE) /
             (SELECT SUM(d * (d - 1) / 2) FROM deg), 6) AS global_clustering
FROM tri
"""


@query("graph_triangle_count", oracle=TRIANGLE_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the
    co-purchase graph (parts adjacent when they appear together in
    >= 2 distinct orders) — the community-density probe behind
    spam-farm detection and near-duplicate *source* discovery in
    crawl curation.

    The SUPPORT THRESHOLD (co-occurrence >= 2) is load-bearing for
    scale: a raw co-occurrence graph densifies toward complete as
    data grows (the co-supplier variant at sf0.1 is a near-complete
    1000-node graph — 500k edges, ~10^8 wedges), while thresholded
    edges track genuine association and stay sparse (~3.5k edges at
    every SF here). Pair enumeration is per-order C(k,2), bounded by
    basket size, never corpus².

    Algorithm: the MapReduce classic (Suri & Vassilvitskii 2011):
    orient every edge from its lower-(degree, id) endpoint to the
    higher, enumerate wedges only at each edge's LOWER endpoint, and
    close them against the oriented edge set. Orientation bounds
    per-node wedge fan-out by O(sqrt(|E|)) regardless of raw degree
    skew — a celebrity node of degree 10M generates no wedges at all
    unless both neighbors out-rank it.

    Scale: the wedge self-join and the closing join are both
    equi-joins on node ids (AQE-skew-splittable); nothing is ever
    broadcast except the final 1-row totals. Wedge volume is
    Σ out_deg² with out-degrees capped by orientation — the whole
    point of the degree ordering.
    """
    # r13: materialize the support-thresholded edge list — tiny output
    # (~3.5k rows at every SF by construction, see the docstring) with
    # an EXPENSIVE lineage (the per-order co-purchase self-join).
    # Without the barrier every downstream consumer (deg via the
    # two-way union, the two degree joins, the wedge sides, the
    # closure probe) replays that self-join: differential column
    # pruning rewrites each branch's scan so ReusedExchange never
    # unifies them. Same §1.2 shape as graph_kcore's edges0
    # checkpoint; the oracle needs the same MATERIALIZED hint for the
    # same reason. `oriented` (same edge-grain size) is checkpointed
    # too: it feeds three consumers, each of which would replay the
    # degree joins.
    edges = _copurchase_edges(spark, sf_dir).transform(materialize)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
        )
        .transform(materialize)
    )
    a = oriented.select(F.col("lo").alias("pivot"), F.col("hi").alias("x"))
    bb = oriented.select(F.col("lo").alias("pivot"), F.col("hi").alias("y"))
    wedges = a.join(bb, "pivot").filter(F.col("x") < F.col("y")).select(
        F.least("x", "y").alias("cx"), F.greatest("x", "y").alias("cy")
    )
    close = oriented.select(
        F.least("lo", "hi").alias("cx"), F.greatest("lo", "hi").alias("cy")
    )
    tri = wedges.join(close, ["cx", "cy"]).agg(F.count(F.lit(1)).alias("n_triangles"))
    totals = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    nodes = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("wedge_tot"),
    )
    return (
        tri.crossJoin(F.broadcast(nodes))
        .crossJoin(F.broadcast(totals))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            F.round(3.0 * F.col("n_triangles") / F.col("wedge_tot"), 6).alias(
                "global_clustering"
            ),
        )
    )


LINK_PREDICTION_ORACLE = "\nWITH " + COPURCHASE_EDGES_CTE + """,
sym AS (SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges),
nbr AS (SELECT a AS node, list_distinct(list(b)) AS ns FROM sym GROUP BY a),
cand AS (
  -- distance-2 pairs: share a neighbor, not already adjacent
  SELECT DISTINCT LEAST(x.a, y.a) AS u, GREATEST(x.a, y.a) AS v
  FROM sym x JOIN sym y ON x.b = y.b AND x.a < y.a
  WHERE NOT EXISTS (
    SELECT 1 FROM edges e
    WHERE e.u = LEAST(x.a, y.a) AND e.v = GREATEST(x.a, y.a)
  )
),
scored AS (
  SELECT c.u, c.v,
         CAST(LEN(list_intersect(nu.ns, nv.ns)) AS BIGINT) AS n_common,
         ROUND(CAST(LEN(list_intersect(nu.ns, nv.ns)) AS DOUBLE)
               / LEN(list_distinct(list_concat(nu.ns, nv.ns))), 6) AS jaccard
  FROM cand c
  JOIN nbr nu ON nu.node = c.u
  JOIN nbr nv ON nv.node = c.v
)
SELECT u, v, n_common, jaccard, CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY jaccard DESC, n_common DESC, u, v) AS rank
  FROM scored
)
WHERE rank <= 20
ORDER BY rank
"""


@query("graph_link_prediction", oracle=LINK_PREDICTION_ORACLE)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the co-purchase graph: score NON-adjacent
    part pairs at distance 2 by neighbor-set Jaccard, top-20 — the
    'you may also like' / missing-relation primitive, and the other
    half of the triangle story (graph_triangle_count closes wedges;
    this ranks the wedges that DIDN'T close).

    Scale: candidates come from the wedge join (bounded by the same
    support-thresholded sparsity as triangle counting), adjacency is
    removed by a LEFT ANTI join, and neighbor sets travel as sorted
    arrays from one groupBy — set intersection is a codegen'd array
    op, never a per-pair shuffle. The final top-20 is
    TakeOrderedAndProject.
    """
    # r13: edge-list barrier (see graph_triangle_count) — sym feeds
    # the wedge self-join twice plus nbr, and edges additionally backs
    # the adjacency anti-join; un-checkpointed, each reference
    # replayed the co-purchase self-join (§1.2).
    edges = _copurchase_edges(spark, sf_dir).transform(materialize)
    sym = edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    nbr = sym.groupBy(F.col("a").alias("node")).agg(
        F.array_distinct(F.collect_list("b")).alias("ns")
    )
    x = sym.select(F.col("a").alias("xa"), F.col("b").alias("via"))
    y = sym.select(F.col("a").alias("ya"), F.col("b").alias("via"))
    cand = (
        x.join(y, "via")
        .filter(F.col("xa") < F.col("ya"))
        .select(F.col("xa").alias("u"), F.col("ya").alias("v"))
        .distinct()
        .join(edges, ["u", "v"], "left_anti")
    )
    nu = nbr.select(F.col("node").alias("u"), F.col("ns").alias("nu"))
    nv = nbr.select(F.col("node").alias("v"), F.col("ns").alias("nv"))
    inter = F.size(F.array_intersect(F.col("nu"), F.col("nv")))
    union = F.size(F.array_distinct(F.concat(F.col("nu"), F.col("nv"))))
    scored = (
        cand.join(nu, "u")
        .join(nv, "v")
        .select(
            "u",
            "v",
            inter.cast("long").alias("n_common"),
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("jaccard"), F.desc("n_common"), "u", "v")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .orderBy("rank")
    )


@query("graph_kcore", oracle=None)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition summary of the co-purchase graph: for
    k ∈ {2, 3, 4}, the size of the maximal subgraph where every node
    keeps degree ≥ k after iterative peeling — the standard
    dense-community extractor (spam-farm cores, boilerplate template
    rings in crawl graphs) one step up from triangle counting.

    Rows-only by design: peeling is an iterative fixpoint, not
    SQL-expressible; tests/test_operators.py replays the exact peel
    in pure Python on the collected edge list and pins node/edge
    counts, plus the nesting invariant core(4) ⊆ core(3) ⊆ core(2).

    Scale: each round is one degree aggregation + one semi-join edge
    filter — the same two shuffles per iteration as PageRank, with
    materialize() truncating lineage. Rounds are data-bounded
    (each round removes ≥ 1 node or terminates); the loop exits on a
    fixpoint test over a 1-row count, not a collected node list, and
    raises if 50 rounds pass without one (a long chain peels only its
    two ends per round). At 100 TB the edge list is bucketed by u so
    the per-round join is exchange-free; peeling k cores shares the
    thresholded edge base every graph query here uses (support ≥ 2 keeps the graph sparse,
    see graph_triangle_count).
    """
    edges0 = _copurchase_edges(spark, sf_dir).transform(materialize)
    out = None
    edges = edges0
    for k in (2, 3, 4):
        # Warm start (r13): the k-core of G equals the k-core of the
        # (k−1)-core (standard nesting — peeling to degree ≥ k can
        # only remove MORE of what degree ≥ k−1 already removed), so
        # each k peels the previous core instead of restarting from
        # the full edge list: smaller frames AND fewer rounds, with
        # bit-identical cores (the property test pins the nesting).
        n_prev = -1
        for _ in range(50):
            deg = (
                edges.select(F.col("u").alias("node"))
                .unionAll(edges.select(F.col("v").alias("node")))
                .groupBy("node")
                .agg(F.count(F.lit(1)).alias("d"))
            )
            keep = (
                deg.filter(F.col("d") >= k)
                .select("node")
                .transform(materialize)
            )
            n_now = keep.count()
            if n_now == n_prev:
                break
            n_prev = n_now
            edges = (
                edges.join(
                    keep.select(F.col("node").alias("u")), "u", "left_semi"
                )
                .join(keep.select(F.col("node").alias("v")), "v", "left_semi")
                .select("u", "v")
                .transform(materialize)
            )
        else:
            raise RuntimeError(
                f"graph_kcore: {k}-core not converged after 50 peeling rounds "
                "(node set still shrinking)"
            )
        stats = edges.agg(
            F.count(F.lit(1)).alias("n_core_edges"),
        ).crossJoin(
            F.broadcast(
                edges.select(F.col("u").alias("node"))
                .unionAll(edges.select(F.col("v").alias("node")))
                .distinct()
                .agg(F.count(F.lit(1)).alias("n_core_nodes"))
            )
        ).select(
            F.lit(k).alias("k"),
            "n_core_nodes",
            "n_core_edges",
        )
        out = stats if out is None else out.unionAll(stats)
    return out.orderBy("k")


BFS_HOPS_ORACLE = "\nWITH " + COPURCHASE_EDGES_CTE + """,
-- MATERIALIZED: the h1..h4 level CTEs reference sym (and transitively
-- the co-purchase self-join) many times; without the hint DuckDB
-- re-inlines the expensive edge build per reference (~20x slower at
-- sf0.1).
sym AS MATERIALIZED (SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges),
allnodes AS (SELECT DISTINCT a AS node FROM sym),
seeds AS (SELECT node FROM allnodes ORDER BY node LIMIT 5),
h0 AS (SELECT node FROM seeds),
h1 AS (
  SELECT DISTINCT s.b AS node FROM sym s JOIN h0 ON s.a = h0.node
  WHERE s.b NOT IN (SELECT node FROM h0)
),
h2 AS (
  SELECT DISTINCT s.b AS node FROM sym s JOIN h1 ON s.a = h1.node
  WHERE s.b NOT IN (SELECT node FROM h0)
    AND s.b NOT IN (SELECT node FROM h1)
),
h3 AS (
  SELECT DISTINCT s.b AS node FROM sym s JOIN h2 ON s.a = h2.node
  WHERE s.b NOT IN (SELECT node FROM h0)
    AND s.b NOT IN (SELECT node FROM h1)
    AND s.b NOT IN (SELECT node FROM h2)
),
h4 AS (
  SELECT DISTINCT s.b AS node FROM sym s JOIN h3 ON s.a = h3.node
  WHERE s.b NOT IN (SELECT node FROM h0)
    AND s.b NOT IN (SELECT node FROM h1)
    AND s.b NOT IN (SELECT node FROM h2)
    AND s.b NOT IN (SELECT node FROM h3)
),
d AS (
  SELECT 0 AS hop, node FROM h0
  UNION ALL SELECT 1, node FROM h1
  UNION ALL SELECT 2, node FROM h2
  UNION ALL SELECT 3, node FROM h3
  UNION ALL SELECT 4, node FROM h4
)
SELECT CAST(hop AS INT) AS hop, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(node) AS BIGINT) AS min_node, CAST(MAX(node) AS BIGINT) AS max_node
FROM d GROUP BY hop
ORDER BY hop
"""


@query("graph_bfs_hops", oracle=BFS_HOPS_ORACLE)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first reach census from a deterministic seed set (the
    5 smallest node ids) over the co-purchase graph: node count at
    each minimum hop distance 0..4 — the neighborhood-expansion
    primitive behind blast-radius analysis ('how much of the catalog
    is within k association hops of these recalled parts'), crawl
    frontier sizing, and feature propagation depth picks.

    Algorithm: frontier BFS as a DataFrame loop — visited and
    frontier frames, one equi-join (frontier ⋈ edges) + one anti-join
    (drop visited) per hop, materialize() per round so the plan
    stays flat (the operators/graph.py pagerank law). Min-hop
    semantics are order-free: a node joins the level set the FIRST
    round it is reachable, so no tiebreak exists to get wrong.

    Scale: per hop, one shuffle on node id bounded by frontier ×
    mean-degree; the visited anti-join is a hash join on node id.
    Four rounds = fixed plan depth at any graph size; the oracle
    unrolls the same four rounds as CTEs.
    """
    edges = _copurchase_edges(spark, sf_dir)
    # Symmetrize in ONE pass: the former two-branch union replayed the
    # co-purchase self-join once per branch inside the checkpoint job
    # (no subtree reuse across Union branches); exploding both
    # orientations from a single scan emits the identical row set for
    # one self-join execution (r13, §1.2).
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
                F.struct(F.col("v").alias("a"), F.col("u").alias("b")),
            )
        ).alias("e")
    ).select(F.col("e.a").alias("a"), F.col("e.b").alias("b")).transform(materialize)
    seeds = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(5)
        .select("node")
    )
    visited = seeds.select("node", F.lit(0).alias("hop")).transform(materialize)
    frontier = visited.select("node")
    levels = [visited]
    for hop in range(1, 5):
        nxt = (
            sym.join(frontier.withColumnRenamed("node", "a"), "a")
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(hop).alias("hop"))
            .transform(materialize)
        )
        levels.append(nxt)
        # visited stays a LAZY union of the (already checkpointed)
        # level frames: re-checkpointing the union each round was an
        # extra eager job copying the whole visited set per hop —
        # O(V) duplicated materialization for data the level
        # checkpoints already hold (guide §1.2: don't recompute what
        # you already materialized). The anti-join right side is now a
        # ≤5-way union of checkpointed frames, identical rows.
        visited = visited.unionByName(nxt)
        frontier = nxt.select("node")
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return (
        out.groupBy("hop")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
        .select(
            F.col("hop").cast("int").alias("hop"),
            "n_nodes",
            F.col("min_node").cast("long").alias("min_node"),
            F.col("max_node").cast("long").alias("max_node"),
        )
        .orderBy("hop")
    )


LOCAL_CLUSTERING_ORACLE = "\nWITH " + COPURCHASE_EDGES_CTE + """,
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
  ) GROUP BY node
),
-- MATERIALIZED: oriented feeds the wedge self-join twice plus the
-- closure probe; inlining re-runs the degree join per reference.
oriented AS MATERIALIZED (
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS lo,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS hi
  FROM edges e
  JOIN deg du ON du.node = e.u
  JOIN deg dv ON dv.node = e.v
),
tri AS (
  SELECT w.pvt, w.x, w.y
  FROM (SELECT a.lo AS pvt, a.hi AS x, b.hi AS y
        FROM oriented a JOIN oriented b ON a.lo = b.lo AND a.hi < b.hi) w
  JOIN oriented o
    ON (o.lo = LEAST(w.x, w.y) AND o.hi = GREATEST(w.x, w.y))
     OR (o.hi = LEAST(w.x, w.y) AND o.lo = GREATEST(w.x, w.y))
),
pernode AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS t FROM (
    SELECT pvt AS node FROM tri
    UNION ALL SELECT x FROM tri
    UNION ALL SELECT y FROM tri
  ) GROUP BY node
),
scored AS (
  SELECT d.node, CAST(d.d AS BIGINT) AS degree, COALESCE(p.t, 0) AS n_triangles,
         ROUND(CAST(2.0 * COALESCE(p.t, 0) AS DOUBLE) / (d.d * (d.d - 1)), 6)
           AS local_clustering
  FROM deg d LEFT JOIN pernode p ON p.node = d.node
  WHERE d.d >= 2
)
SELECT node, degree, n_triangles, local_clustering, CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    ORDER BY local_clustering DESC, n_triangles DESC, node) AS rank
  FROM scored
)
WHERE rank <= 20
ORDER BY rank
"""


@query("graph_local_clustering", oracle=LOCAL_CLUSTERING_ORACLE)
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient (2·t / d(d−1)) on the
    co-purchase graph, top-20 — the node-grain companion to
    graph_triangle_count's single global number: high-coefficient
    nodes sit inside tight co-occurrence cliques (bundle/spam-farm
    candidates), low-coefficient high-degree nodes are hubs bridging
    communities.

    Algorithm: the SAME oriented wedge→closure join as the global
    count (each triangle materializes exactly once as (pivot,x,y)),
    then the triangle list explodes to its three corners and counts
    per node — one extra groupBy over the global version, nothing
    re-enumerated. Ranking key (coef, triangles, node) ends in the
    unique node id — a total order (tests/test_total_order.py gate).

    Scale: identical wedge volume bound as graph_triangle_count
    (orientation caps fan-out at O(√|E|)); the per-node fold and the
    degree left-join shuffle on node id. Top-20 compiles to
    TakeOrderedAndProject — no global sort materializes.
    """
    # r13: materialize the support-thresholded edge list — tiny output
    # (~3.5k rows at every SF by construction, see the docstring) with
    # an EXPENSIVE lineage (the per-order co-purchase self-join).
    # Without the barrier every downstream consumer (deg via the
    # two-way union, the two degree joins, the wedge sides, the
    # closure probe) replays that self-join: differential column
    # pruning rewrites each branch's scan so ReusedExchange never
    # unifies them. Same §1.2 shape as graph_kcore's edges0
    # checkpoint; the oracle needs the same MATERIALIZED hint for the
    # same reason. `oriented` (same edge-grain size) is checkpointed
    # too: it feeds three consumers, each of which would replay the
    # degree joins.
    edges = _copurchase_edges(spark, sf_dir).transform(materialize)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
        )
        .transform(materialize)
    )
    a = oriented.select(F.col("lo").alias("pivot"), F.col("hi").alias("x"))
    bb = oriented.select(F.col("lo").alias("pivot"), F.col("hi").alias("y"))
    wedges = (
        a.join(bb, "pivot")
        .filter(F.col("x") < F.col("y"))
        .select("pivot", "x", "y", F.least("x", "y").alias("cx"),
                F.greatest("x", "y").alias("cy"))
    )
    close = oriented.select(
        F.least("lo", "hi").alias("cx"), F.greatest("lo", "hi").alias("cy")
    )
    tri = wedges.join(close, ["cx", "cy"]).select("pivot", "x", "y")
    pernode = (
        tri.select(F.col("pivot").alias("node"))
        .unionAll(tri.select(F.col("x").alias("node")))
        .unionAll(tri.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    scored = (
        deg.filter(F.col("d") >= 2)
        .join(pernode, "node", "left")
        .select(
            "node",
            F.col("d").cast("long").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).alias("n_triangles"),
            F.round(
                2.0 * F.coalesce(F.col("t"), F.lit(0))
                / (F.col("d") * (F.col("d") - 1)),
                6,
            ).alias("local_clustering"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("local_clustering"), F.desc("n_triangles"), "node")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .orderBy("rank")
    )


ASSORTATIVITY_ORACLE = "\nWITH " + COPURCHASE_EDGES_CTE + """,
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
  ) GROUP BY node
),
-- each undirected edge contributes BOTH orientations (the standard
-- symmetrized formulation, Newman 2002)
de AS (
  SELECT du.d AS dx, dv.d AS dy
  FROM edges e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
  UNION ALL
  SELECT dv.d, du.d
  FROM edges e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dx) AS BIGINT) AS sx,
         SUM(CAST(dx * dx AS DECIMAL(38,0))) AS qx,
         SUM(CAST(dx * dy AS DECIMAL(38,0))) AS sxy
  FROM de
)
SELECT n AS n_edge_ends,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
       CAST(FLOOR((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                  / (CAST(qx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                  * 1000000 + 0.5) AS BIGINT) AS assortativity_ppm
FROM m
"""


@query("graph_assortativity", oracle=ASSORTATIVITY_ORACLE)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph (Newman 2002):
    the Pearson correlation of endpoint degrees over the symmetrized
    edge list — positive means hubs link to hubs (social-network
    shape), negative means hubs link to leaves (hub-and-spoke /
    technological shape). The one-number structural fingerprint that
    tells a curation pipeline whether association clusters are
    cliquish or star-like before it picks a community algorithm.

    Symmetrization makes the x/y marginals identical, so r needs
    only Σd, Σd², Σdxdy — exact BIGINT/DECIMAL sums over the edge
    ends, one fixed IEEE chain for the ratio.

    Scale: two degree-lookup joins on node id over the
    support-thresholded edge list, then ONE scalar aggregate. No
    window, nothing quadratic.
    """
    # r13: same edge-list barrier as the triangle family — 5 lineage
    # references (deg union x2, the degree-tagged join, nn) otherwise
    # each replay the co-purchase self-join (§1.2).
    edges = _copurchase_edges(spark, sf_dir).transform(materialize)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("dxu"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dyv"))
    # `both` feeds the symmetrized union twice; checkpoint so the two
    # degree joins execute once (edge-grain rows, bounded by the
    # thresholded edge list).
    both = edges.join(du, "u").join(dv, "v").transform(materialize)
    de = both.select(
        F.col("dxu").alias("dx"), F.col("dyv").alias("dy")
    ).unionAll(both.select(F.col("dyv").alias("dx"), F.col("dxu").alias("dy")))
    m = de.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum((F.col("dx") * F.col("dx")).cast("decimal(38,0)")).alias("qx"),
        F.sum((F.col("dx") * F.col("dy")).cast("decimal(38,0)")).alias("sxy"),
    )
    nn = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    nd = F.col("n").cast("double")
    num = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sx") / nd
    den = F.col("qx").cast("double") - F.col("sx").cast("double") * F.col("sx") / nd
    return m.crossJoin(F.broadcast(nn)).select(
        F.col("n").alias("n_edge_ends"),
        "n_nodes",
        F.floor(num / den * 1000000 + F.lit(0.5)).cast("long").alias(
            "assortativity_ppm"
        ),
    )
