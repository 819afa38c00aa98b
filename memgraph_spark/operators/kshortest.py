"""K-shortest paths (Yen) + all-shortest-paths counting (SURVEY §2.3).

Reference: KShortestPaths — Yen's algorithm atop Dijkstra
(operator.cpp:3716, InitializeKShortestPaths :3889, ~540 LoC);
ExpandAllShortestPaths keeps all argmin predecessors (:3309).

Spark re-expression:
- one cheapest path = `expand.weighted_shortest_path` (distributed
  Bellman-Ford relaxation) for the costs, then `expand.bfs` from the source
  over the tight edges (cost[src] + w == cost[dst]) stopped at the target;
  the BFS tree's `par` pointers give the path, walked back on the driver;
- Yen's spur loop is driver-side control flow (as in the reference), but
  every shortest-path computation inside it is fully distributed;
- all-shortest-path *counting* is BFS-layered dynamic programming: the number
  of minimal paths to v at depth d is the sum over in-neighbors at depth d-1
  — one join + groupBy per layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from memgraph_spark.operators.expand import (
    bfs, bfs_layers, bfs_path, weighted_shortest_path)
from memgraph_spark.session import checkpoint_with_metrics, free_checkpoint


def _cheapest_path(graph, e: DataFrame, source_id: int, target_id: int
                   ) -> tuple[list[int], float] | None:
    """One cheapest source->target path over `e` (src, dst, w) as (node ids,
    cost), or None if the target is unreachable. A tight edge (the same
    double sum the relaxation took) lies on a cheapest path, so the BFS
    over tight edges picks, among the cheapest paths, one with the fewest
    hops (smallest predecessor id on ties) — acyclic even through
    zero-weight cycles, which a per-node argmin predecessor is not."""
    if source_id == target_id:
        return [source_id], 0.0
    src = e.sparkSession.createDataFrame([(source_id,)], "id long")
    cost = weighted_shortest_path(graph, src, None, "w", edges_df=e)
    # the target's cost rides the tight frame's checkpoint job (observe)
    tight, m = checkpoint_with_metrics(
        e.join(cost.select(F.col("id").alias("src"), F.col("cost").alias("cs")),
               "src")
        .join(cost.select(F.col("id").alias("dst"), F.col("cost").alias("cd")),
              "dst")
        .filter(F.col("cs") + F.col("w") == F.col("cd"))
        .select("src", "dst", "cd"),
        cost=F.min(F.when(F.col("dst") == target_id, F.col("cd"))))
    path = None
    if m["cost"] is not None:
        reach = bfs(graph, src, max_hops=None, edges_df=tight.select("src", "dst"),
                    target=target_id)
        path = bfs_path(reach, target_id)
        free_checkpoint(reach)
    free_checkpoint(tight)
    return None if path is None else (path, m["cost"])


def shortest_path_with_nodes(graph, source_id: int, target_id: int,
                             etype: str | None = None,
                             weight_col: str | None = None,
                             edges_df: DataFrame | None = None):
    """One weighted shortest path as (node_id list, cost)."""
    return _cheapest_path(graph, _weighted_edges(graph, etype, weight_col, edges_df),
                          source_id, target_id)


def _weighted_edges(graph, etype, weight_col, edges_df) -> DataFrame:
    if edges_df is not None:
        return edges_df.select("src", "dst", F.col(weight_col or "w")
                               .cast("double").alias("w"))
    base = graph.edge(etype) if etype else \
        graph.all_edges(properties=[weight_col] if weight_col else None)
    w = (F.col(weight_col).cast("double") if weight_col else F.lit(1.0))
    return base.select("src", "dst", w.alias("w"))


def k_shortest_paths(graph, source_id: int, target_id: int, k: int = 3,
                     etype: str | None = None, weight_col: str | None = None,
                     edges_df: DataFrame | None = None) -> list[tuple[list[int], float]]:
    """Yen's algorithm (operator.cpp:3716): k loopless shortest paths as
    (node-id list, cost), cheapest first. The spur loop is driver-side (same
    as the reference); each inner shortest-path run is distributed."""
    from memgraph_spark.session import persist_if_needed
    e, release_e = persist_if_needed(
        _weighted_edges(graph, etype, weight_col, edges_df))
    try:
        first = _cheapest_path(graph, e, source_id, target_id)
        if first is None:
            return []
        paths: list[tuple[list[int], float]] = [first]
        candidates: list[tuple[list[int], float]] = []
        while len(paths) < k:
            prev_path = paths[-1][0]
            for i in range(len(prev_path) - 1):
                spur, root = prev_path[i], prev_path[: i + 1]
                # remove edges used by known paths sharing this root prefix
                banned = {(p[i], p[i + 1]) for p, _ in paths
                          if len(p) > i + 1 and p[: i + 1] == root}
                root_nodes = set(root[:-1])
                filt = e.filter(
                    ~F.struct(F.col("src"), F.col("dst")).isin(
                        [F.struct(F.lit(a).cast("long").alias("src"),
                                  F.lit(b).cast("long").alias("dst"))
                         for a, b in banned])
                    if banned else F.lit(True))
                if root_nodes:
                    filt = filt.filter(~F.col("src").isin(list(root_nodes))
                                       & ~F.col("dst").isin(list(root_nodes)))
                spur_hit = _cheapest_path(graph, filt, spur, target_id)
                if spur_hit is None:
                    continue
                spur_path, spur_cost = spur_hit
                root_cost = _path_cost(e, root)
                total = root[:-1] + spur_path
                if all(total != p for p, _ in paths + candidates):
                    candidates.append((total, root_cost + spur_cost))
            if not candidates:
                break
            candidates.sort(key=lambda t: (t[1], t[0]))
            paths.append(candidates.pop(0))
        return paths
    finally:
        release_e()


def _path_cost(e: DataFrame, path: list[int]) -> float:
    if len(path) < 2:
        return 0.0
    pairs = list(zip(path[:-1], path[1:]))
    cond = None
    for a, b in pairs:
        c = (F.col("src") == a) & (F.col("dst") == b)
        cond = c if cond is None else (cond | c)
    rows = e.filter(cond).groupBy("src", "dst").agg(F.min("w").alias("w")) \
        .collect()
    costs = {(r["src"], r["dst"]): r["w"] for r in rows}
    return float(sum(costs[p] for p in pairs))


def bfs_path_counts(graph, sources: DataFrame, etype: str | None = None,
                    direction: str = "out", max_hops: int = 20,
                    source_col: str = "id") -> DataFrame:
    """ExpandAllShortestPaths parity for hop-weighted graphs: (start, id,
    dist, n_paths) where n_paths counts the distinct minimal-hop paths.
    Layered DP on `bfs`'s layers: counts at depth d = sum of counts of
    depth-(d-1) in-neighbors — one join + one groupBy per layer, no path
    materialization."""
    return bfs_layers(graph.adjacency(etype, direction), sources.select(
        F.col(source_col).alias("start"), F.col(source_col).alias("id"),
        F.lit(0).alias("dist"), F.lit(1).cast("long").alias("n_paths"),
    ), F.sum("n_paths"), max_hops)
