"""Greedy graph coloring via Jones-Plassmann rounds.

Parity: the reference's graph_coloring module
(src/mage/python/graph_coloring.py — `color_graph()` YIELD node, color;
its QA metaheuristic is replaced by the standard distributed greedy:
same output contract, proper coloring guaranteed).

Spark re-expression: each `session.supersteps` round, every uncolored node
whose random priority (xxhash64) beats all uncolored neighbours picks the
smallest color absent from its colored neighbourhood — an independent set
per round, so the coloring is proper; expected O(log n) rounds, all joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from memgraph_spark.session import empty_frame, supersteps


def color_graph(graph, etype: str | None = None,
                max_rounds: int = 64) -> DataFrame:
    """Returns (id, color), colors 0..k-1, proper w.r.t. the undirected view."""
    # catalog-persisted shared adjacency: do NOT persist/unpersist it here
    # (unpersisting a sameResult plan drops the shared cache entry)
    und = graph.adjacency(etype, "both")
    nodes = (und.select(F.col("src").alias("id")).dropDuplicates()
             .withColumn("pri", F.xxhash64("id")))
    colored = None  # union of each round's (id, color) checkpoint

    def step(uncolored, trace):
        nonlocal colored
        # max uncolored-neighbour priority per uncolored node; a self-loop
        # is skipped, else its node could never beat itself
        un_nbr = (und.join(uncolored.select(F.col("id").alias("src")), "src")
                  .join(uncolored.select(F.col("id").alias("dst"),
                                         F.col("pri").alias("pri_n")), "dst")
                  .groupBy("src").agg(F.max(F.when(
                      F.col("src") != F.col("dst"), F.col("pri_n"))).alias("mx")))
        winners = (uncolored.join(un_nbr.withColumnRenamed("src", "id"),
                                  "id", "left")
                   .filter(F.col("mx").isNull() | (F.col("pri") > F.col("mx")))
                   .select("id"))
        if colored is not None:
            used = (und.join(winners.withColumnRenamed("id", "src"), "src")
                    .join(colored.select(F.col("id").alias("dst"),
                                         F.col("color").alias("c_n")), "dst")
                    .groupBy("src").agg(F.sort_array(
                        F.collect_set("c_n")).alias("cs")))
        else:
            used = winners.select(F.col("id").alias("src"),
                                  F.array().cast("array<int>").alias("cs")) \
                .limit(0)
        # smallest color not used by any colored neighbour
        pick = (winners.join(used.withColumnRenamed("src", "id"), "id", "left")
                .withColumn("cs", F.coalesce("cs", F.array().cast("array<int>")))
                .withColumn("color", F.element_at(
                    F.array_except(F.sequence(F.lit(0), F.size("cs")),
                                   F.col("cs")), 1).cast("int"))
                .select("id", "color")
                .localCheckpoint(eager=True))
        colored = pick if colored is None else colored.unionByName(pick)
        return uncolored.join(pick.select("id"), "id", "left_anti")

    supersteps(nodes, step, lambda t: t[-1]["n"] == 0, max_rounds,
               n=F.count(F.lit(1)))
    return colored if colored is not None else \
        empty_frame(graph.spark, "id long, color int")


def link_prediction_scores(graph, etype: str | None = None, top_k: int = 50,
                           method: str = "adamic_adar") -> DataFrame:
    """Heuristic link prediction over non-adjacent 2-hop pairs: (node1,
    node2, score). Parity note: the reference's link_prediction module
    (src/mage/python/link_prediction.py) trains a torch GNN — unavailable in
    this environment; the classic neighbourhood heuristics (adamic_adar,
    common_neighbors) fill the same contract."""
    # catalog-persisted shared adjacency: do NOT persist/unpersist it here
    # (unpersisting a sameResult plan drops the shared cache entry)
    und = graph.adjacency(etype, "both")
    deg = und.groupBy("src").agg(F.count("*").alias("deg")) \
        .withColumnRenamed("src", "z")
    # pairs (u, v) with a common neighbour z
    a = und.select(F.col("dst").alias("u"), F.col("src").alias("z"))
    b = und.select(F.col("src").alias("z"), F.col("dst").alias("v"))
    two_hop = (a.join(b, "z").filter(F.col("u") < F.col("v"))
               .join(deg, "z"))
    if method == "common_neighbors":
        contrib = F.lit(1.0)
    else:  # adamic_adar
        contrib = 1.0 / F.log(F.col("deg") + 1e-9)
    scored = (two_hop.groupBy("u", "v")
              .agg(F.round(F.sum(contrib), 4).alias("score")))
    # drop already-adjacent pairs
    existing = und.select(F.least("src", "dst").alias("u"),
                          F.greatest("src", "dst").alias("v")).dropDuplicates()
    out = (scored.join(existing, ["u", "v"], "left_anti")
           .orderBy(F.desc("score"), "u", "v").limit(top_k)
           .select(F.col("u").alias("node1"), F.col("v").alias("node2"),
                   "score"))
    return out
