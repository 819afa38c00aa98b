"""DAG utilities: topological sort, cycle detection, spanning tree.

Parity: igraphalg.topological_sort / contains_cycle
(src/mage/python/igraphalg.py:86-230) and igraphalg.spanning_tree (:144).

Spark re-expression: topological sort is iterative zero-in-degree peeling —
each layer is one groupBy(dst) + anti-join, O(#layers) rounds on
`session.supersteps`, every round fully distributed. A cycle exists iff
peeling stalls with nodes left.
Spanning tree is Boruvka: each round every component picks its minimum
outgoing edge (min_by over a groupBy on component), components merge via
hash-min label propagation — O(log n) rounds, all joins/aggs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from memgraph_spark.session import empty_frame, free_checkpoint, supersteps


def topological_layers(graph, etype: str | None = None, mode: str = "out"):
    """Returns (id, layer) DataFrame, or None if the graph has a cycle.
    mode="out": edges point dependency -> dependent (igraph semantics);
    mode="in" reverses."""
    adj = graph.adjacency(etype, "out" if mode == "out" else "in")
    # Kahn's algorithm with distributed in-degree decrements: each edge is
    # aggregated exactly ONCE across the whole peel (when its source leaves),
    # so total shuffle volume is O(E) rather than O(E x layers). Per layer,
    # the (small) zero set is checkpointed for the result and the previous
    # in-degree frame's blocks are freed — total cached storage is O(V)
    # regardless of layer count (a chain-like DAG would otherwise pin
    # O(V^2) rows). Row/zero counts ride the checkpoint jobs via observe.
    from memgraph_spark.operators.expand import _maybe_broadcast
    nodes = graph.adjacency_vertices(etype, "out" if mode == "out" else "in")
    indeg0 = (nodes.join(
        adj.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("indeg")),
        "id", "left")
        .select("id", F.coalesce("indeg", F.lit(0)).alias("indeg")))
    # the layer label lives INSIDE the in-degree frame: one checkpoint
    # job per layer (the round's zero set is a lazy filter over the
    # already-cached checkpoint, not a second materialization), and the
    # final frame IS the result — no per-layer zero checkpoints to
    # union/free. Round r assigns layer r; its zero count is the growth
    # of the assigned count over round r-1.
    def zeros(t):
        return t[-1]["assigned"] - (t[-2]["assigned"] if len(t) > 1 else 0)

    def step(x, trace):
        layer = len(trace) - 1
        cur_zero = (x.filter(F.col("layer") == layer)
                    .select(F.col("id").alias("src")))
        dec = (adj.join(_maybe_broadcast(cur_zero, zeros(trace)), "src")
               .groupBy(F.col("dst").alias("id"))
               .agg(F.count("*").alias("c")))
        unassigned = F.col("layer").isNull()
        new_indeg = F.when(
            unassigned, F.col("indeg") - F.coalesce("c", F.lit(0))
        ).otherwise(F.col("indeg"))
        return (x.join(dec, "id", "left")
                .select("id", new_indeg.alias("indeg"),
                        F.when(~unassigned, F.col("layer"))
                        .when(new_indeg == 0, F.lit(layer + 1)).cast("int")
                        .alias("layer")))

    x, trace = supersteps(
        indeg0.withColumn(
            "layer", F.when(F.col("indeg") == 0, F.lit(0)).cast("int")),
        step, lambda t: t[-1]["unassigned"] == 0 or zeros(t) == 0, None,
        unassigned=F.count(F.when(F.col("layer").isNull(), 1)),
        assigned=F.count(F.col("layer")))
    if trace[-1]["unassigned"] > 0:
        free_checkpoint(x)
        return None  # no zero-in-degree node left -> cycle
    # x is already ONE checkpoint holding every (id, layer); the caller
    # owns it
    return x.select("id", "layer")


def contains_cycle(graph, etype: str | None = None) -> bool:
    """igraphalg.contains_cycle parity (igraphalg.py:203-230)."""
    return topological_layers(graph, etype) is None


def spanning_tree(graph, weights: str | None = None,
                  etype: str | None = None) -> DataFrame:
    """Minimum spanning forest via Boruvka; returns (src, dst) tree edges.
    Unweighted (weights=None) treats every edge as weight 1 (igraph default:
    an arbitrary spanning tree)."""
    if weights:
        edges = (graph.edge(etype) if etype
                 else graph.all_edges(properties=[weights]))
        e = edges.select("src", "dst",
                         F.col(weights).cast("double").alias("w"))
    else:
        e = (graph.edge(etype) if etype else graph.all_edges()) \
            .select("src", "dst", F.lit(1.0).alias("w"))
    # undirected: keep both orientations so either endpoint can claim the edge
    und = e.unionByName(e.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst"), "w")) \
        .groupBy("src", "dst").agg(F.min("w").alias("w")).persist()
    comp = (und.select(F.col("src").alias("id"))
            .dropDuplicates()
            .withColumn("comp", F.col("id"))
            .localCheckpoint(eager=True))
    picked = []
    for _ in range(64):  # ~log2(n) rounds suffice; hard bound for safety
        lbl = und \
            .join(comp.withColumnRenamed("id", "src")
                      .withColumnRenamed("comp", "c_src"), "src") \
            .join(comp.withColumnRenamed("id", "dst")
                      .withColumnRenamed("comp", "c_dst"), "dst") \
            .filter(F.col("c_src") != F.col("c_dst"))
        if lbl.isEmpty():
            break
        # each component claims its minimum outgoing edge; the tie-break key
        # (w, lo, hi) is a total order symmetric in orientation, so
        # equal-weight picks can never close a cycle between components
        choice = (lbl.groupBy("c_src")
                  .agg(F.min(F.struct(F.col("w"),
                                      F.least("src", "dst").alias("lo"),
                                      F.greatest("src", "dst").alias("hi"))).alias("m")))
        picked.append(choice.select(F.col("m.lo").alias("src"),
                                    F.col("m.hi").alias("dst"))
                      .dropDuplicates().localCheckpoint(eager=True))
        # merge: recompute components over the tree edges picked so far
        # (hash-min WCC, the same machinery as algos/components.py)
        from memgraph_spark.algos.components import weakly_connected_components
        tree = picked[0]
        for df in picked[1:]:
            tree = tree.unionByName(df)
        wcc = weakly_connected_components(tree.dropDuplicates())
        new_comp = (comp.select("id")
                    .join(wcc.withColumnRenamed("component", "c"), "id", "left")
                    .select("id", F.coalesce("c", F.col("id")).alias("comp"))
                    .localCheckpoint(eager=True))
        free_checkpoint(comp)
        comp = new_comp
    und.unpersist()
    free_checkpoint(comp)
    if not picked:
        return empty_frame(graph.spark, "src long, dst long")
    out = picked[0]
    for df in picked[1:]:
        out = out.unionByName(df)
    out = out.dropDuplicates().localCheckpoint(eager=True)
    for p in picked:
        free_checkpoint(p)
    return out
