"""Max-flow / min-cut as distributed residual-graph BFS.

Parity: the reference's max_flow module (src/mage/python/max_flow.py —
Ford-Fulkerson with capacity scaling, `get_flow` / `get_paths`) and
igraphalg.mincut (src/mage/python/igraphalg.py:67).

Spark re-expression: the residual graph is a (src, dst, cap) DataFrame;
each augmenting path is found with `operators.expand.bfs` over the residual
edges (cap >= delta), stopping at the sink (`target`) and walking its
min-predecessor tree back (`bfs_path`), so the per-iteration work — the
part that grows with graph size — is all joins/aggregations. The
augmentation loop itself is inherently sequential (same as the reference);
capacity scaling bounds it at O(E log maxCap) iterations. Residual updates
touch only the path's edges and are applied with a broadcast anti-join +
union of a driver-side handful of rows, then localCheckpoint to keep plans
flat. min_cut's source side is one more `bfs` over the final residual.
"""

from __future__ import annotations

from math import floor, log2

from pyspark.sql import functions as F

from memgraph_spark.operators.expand import bfs, bfs_path
from memgraph_spark.session import empty_frame, free_checkpoint

_RESIDUAL_SCHEMA = "src long, dst long, cap double"
_EPS = 1e-9


def max_flow(
    graph,
    source: int,
    sink: int,
    capacity: str = "weight",
    etype: str | None = None,
    max_hops: int = 64,
    max_augmentations: int = 10_000,
):
    """Returns (flow_value, paths, residual) — paths is [(node_id_list,
    flow)], residual the final residual-capacity DataFrame (for min_cut).

    `capacity` names an edge property column; parallel edges sum. Matches
    max_flow.get_flow / get_paths semantics (reference max_flow.py:10-67).
    """
    spark = graph.spark
    edges = graph.edge(etype) if etype else graph.all_edges(properties=[capacity])
    if capacity not in edges.columns:
        raise ValueError(f"no edge property '{capacity}' for capacities")
    cap = F.col(capacity).cast("double")
    residual = (edges.select("src", "dst", cap.alias("cap"))
                .filter(F.col("cap") > 0)
                .groupBy("src", "dst").agg(F.sum("cap").alias("cap"))
                .localCheckpoint(eager=True))
    max_cap = residual.agg(F.max("cap")).first()[0]
    if source == sink or max_cap is None:
        return 0.0, [], residual

    src = spark.createDataFrame([(source,)], "id long")
    # scaling phases delta = 2^k .. 1, then one exact phase (delta = 0)
    delta = float(2 ** floor(log2(max_cap))) if max_cap >= 1.0 else 0.0
    total, paths, n_aug = 0.0, [], 0
    while n_aug < max_augmentations:
        adj = residual.filter(F.col("cap") >= delta - _EPS) if delta > 0 \
            else residual.filter(F.col("cap") > _EPS)
        reach = bfs(graph, src, max_hops=max_hops, edges_df=adj, target=sink)
        path = bfs_path(reach, sink)
        free_checkpoint(reach)
        if path is None:
            if delta == 0.0:
                break
            delta = delta / 2.0 if delta >= 2.0 else 0.0
            continue
        n_aug += 1
        path_edges = list(zip(path, path[1:]))
        touched = path_edges + [(v, u) for u, v in path_edges]
        tdf = spark.createDataFrame(touched, "src long, dst long").dropDuplicates()
        cur = {(r.src, r.dst): r.cap
               for r in residual.join(F.broadcast(tdf), ["src", "dst"]).collect()}
        flow = min(cur[e] for e in path_edges)
        total += flow
        paths.append((path, flow))
        for u, v in path_edges:
            cur[(u, v)] = cur[(u, v)] - flow
            cur[(v, u)] = cur.get((v, u), 0.0) + flow
        new_rows = [(s, d, c) for (s, d), c in cur.items() if c > _EPS]
        patch = spark.createDataFrame(new_rows, _RESIDUAL_SCHEMA) if new_rows \
            else empty_frame(spark, _RESIDUAL_SCHEMA)
        residual = (residual.join(F.broadcast(tdf), ["src", "dst"], "left_anti")
                    .unionByName(patch)
                    .localCheckpoint(eager=True))
    return total, paths, residual


def min_cut(graph, source: int, sink: int, capacity: str = "weight",
            etype: str | None = None, max_hops: int = 64):
    """igraphalg.mincut parity: (node, partition_id) — partition 0 is the
    source side of the min s-t cut (residual-reachable after max flow)."""
    _, _, residual = max_flow(graph, source, sink, capacity, etype, max_hops)
    src = graph.spark.createDataFrame([(source,)], "id long")
    reach = bfs(graph, src, max_hops=max_hops,
                edges_df=residual.filter(F.col("cap") > _EPS)).select("id")
    edges = graph.edge(etype) if etype else graph.all_edges()
    verts = (edges.select(F.col("src").alias("id"))
             .unionAll(edges.select(F.col("dst").alias("id"))).dropDuplicates())
    return (verts.join(reach.withColumn("p", F.lit(0)), "id", "left")
            .select("id", F.coalesce("p", F.lit(1)).alias("partition_id")))
