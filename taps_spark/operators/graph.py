"""Iterative graph algorithms as DataFrame loops.

Connected components (dedup clustering) lives in operators/dedup.py;
this module holds the rank-propagation family. The reference has no
graph surface at all — this is §2c breadth for corpus analytics
(domain authority for crawl prioritization, citation weighting for
data curation).

Scale notes: each PageRank iteration is one equi-join (ranks ⋈ edges
on src) + one groupBy(dst) sum — two hash shuffles over the edge
list, both on keys Spark can co-partition; pre-partitioning edges by
src (or bucketing the edge table) makes the join exchange-free so an
iteration costs ONE shuffle. `materialize` every iteration
truncates the lineage so the plan doesn't double per round
(the same pattern as dedup's label propagation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from taps_spark.io.tables import materialize


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """PageRank over a directed edge list (distinct edges), with
    dangling-node mass redistributed uniformly — the textbook
    formulation, so a driver-side NumPy replay reproduces the numbers
    (tests/test_operators.py pins them to 1e-9).

    Returns DataFrame[node, rank] over every node appearing as src or
    dst; Σ rank = 1.
    """
    # The distinct edge list is consumed by every iteration (contribs
    # join) AND by out_deg below; without a materialization each
    # iteration would re-run the upstream scan + distinct shuffle.
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .transform(materialize)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .transform(materialize)
    )
    n = nodes.count()
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    # Degree lives WITH the rank row so the per-iteration join does
    # not grow a second lookup; dangling nodes carry deg = 0.
    base = (
        nodes.join(out_deg, nodes.node == out_deg.src, "left")
        .select("node", F.coalesce("deg", F.lit(0)).alias("deg"))
        .transform(materialize)
    )
    ranks = base.withColumn("rank", F.lit(1.0 / n)).transform(materialize)

    # Size-gated broadcast: the rank table has exactly n rows of
    # (node, deg, rank), so when the node set is executor-resident
    # (≤ ~500k nodes ≈ tens of MB) broadcasting it turns the
    # per-iteration rank⋈edge join map-side — the (much larger) edge
    # list never shuffles. Above the gate the hint is withheld and the
    # join shuffles on src, where pre-partitioned/bucketed edges make
    # it exchange-free (module docstring).
    hint_ranks = F.broadcast if n <= 500_000 else (lambda df: df)

    for _ in range(iters):
        # Dangling mass rides along as a broadcast one-row aggregate —
        # no driver-side collect.
        dm = ranks.agg(
            F.coalesce(
                F.sum(F.when(F.col("deg") == 0, F.col("rank"))), F.lit(0.0)
            ).alias("dm")
        )
        contribs = (
            e.join(hint_ranks(ranks), e.src == ranks.node)
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        # contribs has at most n rows ((dst, contrib) for receiving
        # nodes), so the same executor-residency gate that broadcasts
        # the rank table applies: map-side rank update, no exchange on
        # either side of the base join (r13; above the gate both joins
        # shuffle and co-partition as before).
        ranks = (
            base.join(hint_ranks(contribs), base.node == contribs.dst, "left")
            .crossJoin(F.broadcast(dm))
            .select(
                "node",
                "deg",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce("contrib", F.lit(0.0)) + F.col("dm") / F.lit(float(n)))
                ).alias("rank"),
            )
            .transform(materialize)
        )
    return ranks.select("node", "rank")
