"""Louvain community detection as synchronous distributed local moving.

Parity: the reference's community_detection / leiden_community_detection
modules (src/mage/cpp/community_detection_module,
leiden_community_detection_module — modularity-maximizing communities,
YIELD node, community_id).

Spark re-expression: the classic two-phase Louvain loop.
- Local moving is synchronous: every node computes its best neighbouring
  community's modularity gain in one join+groupBy round. Synchronous moves
  can oscillate (two symmetric nodes swapping), so only nodes with
  (xxhash(id) + round) % 2 == 0 may move each round — the standard
  parallel-Louvain colouring trick, preserving convergence. The rounds run
  on `session.supersteps`.
- After local moving stabilizes, communities contract to supernodes
  (groupBy on community pairs summing weights) and the loop repeats one
  level up; the node->community mapping composes across levels.
All steps are joins/aggregations on (src, dst, w); no driver-side graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from memgraph_spark.session import (checkpoint_with_metrics, free_checkpoint,
                                    supersteps)


def _local_move_round(und, deg, comm, m2, resolution, parity):
    """One synchronous round; returns the updated (id, comm) mapping."""
    # weight from each node to each neighbouring community
    nbr = (und.join(comm.withColumnRenamed("id", "dst")
                    .withColumnRenamed("comm", "c_to"), "dst")
           .groupBy("src", "c_to").agg(F.sum("w").alias("k_in")))
    # community weight totals
    tot = (comm.join(deg, "id")
           .groupBy("comm").agg(F.sum("k").alias("tot"))
           .withColumnRenamed("comm", "c_to"))
    cur = comm.withColumnRenamed("id", "src").withColumnRenamed("comm", "c_cur")
    cand = (nbr.join(cur, "src")
            .join(deg.withColumnRenamed("id", "src"), "src")
            .join(tot, "c_to"))
    # modularity gain of i joining c_to; own contribution excluded when
    # c_to is the current community
    tot_excl = F.when(F.col("c_to") == F.col("c_cur"),
                      F.col("tot") - F.col("k")).otherwise(F.col("tot"))
    gain = F.col("k_in") - resolution * F.col("k") * tot_excl / m2
    scored = cand.withColumn("g", gain)
    best = (scored.groupBy("src")
            .agg(F.max(F.struct(F.col("g"), (-F.col("c_to")).alias("nc"))).alias("m"),
                 F.any_value("c_cur").alias("c_cur"))
            .select(F.col("src").alias("id"),
                    (-F.col("m.nc")).alias("c_best"),
                    F.col("m.g").alias("g_best"), "c_cur"))
    cur_gain = (scored.filter(F.col("c_to") == F.col("c_cur"))
                .select(F.col("src").alias("id"), F.col("g").alias("g_cur")))
    sizes = comm.groupBy("comm").agg(F.count("*").alias("sz"))
    merged = (best.join(cur_gain, "id", "left")
              .withColumn("g_cur", F.coalesce("g_cur", F.lit(0.0)))
              .join(sizes.withColumnRenamed("comm", "c_cur")
                    .withColumnRenamed("sz", "sz_cur"), "c_cur")
              .join(sizes.withColumnRenamed("comm", "c_best")
                    .withColumnRenamed("sz", "sz_best"), "c_best"))
    movable = (F.xxhash64("id") + parity) % 2 == 0
    # Grappolo swap-breaker: two singletons may only merge toward the
    # smaller community id, else symmetric rounds swap labels forever
    allowed = ~((F.col("sz_cur") == 1) & (F.col("sz_best") == 1)
                & (F.col("c_best") > F.col("c_cur")))
    new = merged.select(
        "id",
        F.when(movable & allowed & (F.col("g_best") > F.col("g_cur") + 1e-12),
               F.col("c_best")).otherwise(F.col("c_cur")).alias("comm"))
    # isolated nodes (no rows in nbr) keep their community
    return (comm.join(new.withColumnRenamed("comm", "nc"), "id", "left")
            .select("id", F.coalesce("nc", F.col("comm")).alias("comm")))


def louvain_communities(
    edges: DataFrame,
    max_levels: int = 3,
    max_rounds: int = 8,
    resolution: float = 1.0,
    weight_col: str | None = None,
) -> DataFrame:
    """Returns (id, community) — community ids are representative node ids."""
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    base = (edges.select(F.least("src", "dst").alias("src"),
                         F.greatest("src", "dst").alias("dst"),
                         w.alias("w"))
            .filter(F.col("src") != F.col("dst"))
            .groupBy("src", "dst").agg(F.sum("w").alias("w")))
    # node -> community across all levels (starts as identity)
    mapping = (base.select(F.col("src").alias("id"))
               .unionAll(base.select(F.col("dst").alias("id")))
               .dropDuplicates().withColumn("comm", F.col("id"))
               .localCheckpoint(eager=True))
    level_edges, _lm0 = checkpoint_with_metrics(base, n=F.count(F.lit(1)))
    n_level = _lm0["n"]
    for _ in range(max_levels):
        und = level_edges.unionByName(
            level_edges.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst"), "w")).persist()
        deg = und.groupBy("src").agg(F.sum("w").alias("k")) \
            .withColumnRenamed("src", "id").persist()
        m2 = und.agg(F.sum("w")).first()[0]  # = 2m
        if not m2:
            und.unpersist()
            deg.unpersist()
            break
        # moved-count rides the checkpoint job (observe); the join with the
        # previous assignment happens once, inside the same job. A single
        # still round can just mean the movable half had no profitable
        # move — require both parities quiet (trace[0] is the identity)
        comm_ck, _ = supersteps(
            deg.select("id", F.col("id").alias("comm"),
                       F.lit(None).cast("long").alias("__old")),
            lambda ck, t: _local_move_round(
                und, deg, ck.select("id", "comm"), m2, resolution, len(t) - 1)
            .join(ck.select("id", F.col("comm").alias("__old")), "id"),
            lambda t: len(t) > 2 and t[-1]["moved"] == t[-2]["moved"] == 0,
            max_rounds,
            moved=F.count(F.when(F.col("comm") != F.col("__old"), 1)))
        comm = comm_ck.select("id", "comm")
        und.unpersist()
        deg.unpersist()
        # compose the level mapping into the global one
        lvl = comm.withColumnRenamed("comm", "c2").withColumnRenamed("id", "c_old")
        new_mapping = (mapping.join(lvl, mapping["comm"] == lvl["c_old"], "left")
                       .select(mapping["id"],
                               F.coalesce(F.col("c2"), mapping["comm"]).alias("comm"))
                       .localCheckpoint(eager=True))
        free_checkpoint(mapping)
        mapping = new_mapping
        # contract: supernode per community; intra-community weight stays as
        # a self-loop (it feeds the supernode degree — dropping it would make
        # dense communities look mergeable at the next level)
        contracted = (level_edges
                      .join(comm.withColumnRenamed("id", "src")
                            .withColumnRenamed("comm", "cs"), "src")
                      .join(comm.withColumnRenamed("id", "dst")
                            .withColumnRenamed("comm", "cd"), "dst")
                      .select(F.least("cs", "cd").alias("src"),
                              F.greatest("cs", "cd").alias("dst"), "w")
                      .groupBy("src", "dst").agg(F.sum("w").alias("w")))
        # edge count rides the checkpoint job (observe)
        new_level, lm = checkpoint_with_metrics(contracted, n=F.count(F.lit(1)))
        free_checkpoint(level_edges)
        level_edges = new_level
        # the level's final community assignment fed both new_mapping and
        # new_level (both materialized above) — free it before the next level
        free_checkpoint(comm_ck)
        if lm["n"] == n_level:
            break  # no further coarsening possible
        n_level = lm["n"]
    free_checkpoint(level_edges)
    return mapping.select("id", F.col("comm").alias("community"))
