"""Bridges, fundamental cycles, bipartite matching, union-find connectivity.

Parity: the reference's bridges module (src/mage/cpp/bridges_module —
YIELD node_from, node_to), cycles module (src/mage/cpp/cycles_module —
YIELD cycle_id, node), bipartite_matching module
(src/mage/cpp/bipartite_matching_module — YIELD
maximum_bipartite_matching) and union_find (src/mage/python/union_find.py
`connected`).

Spark re-expressions:
- Bridges: the reference runs sequential DFS chain decomposition. Here we
  use the randomized XOR-tagging algorithm over a Boruvka spanning forest:
  every non-tree edge gets a random 64-bit tag XORed onto both endpoints;
  subtree-XOR sweeps bottom-up over the forest's BFS layers (one
  multi-root `operators.expand.bfs`); a tree edge is a bridge iff its
  child-subtree XOR is 0 (non-tree edges are never bridges). Fully
  distributed (joins + bit_xor aggs per tree layer); failure probability
  ~= #edges / 2^64 per edge.
- Cycles: fundamental cycle basis — one cycle per non-tree edge, closed
  through the forest path (enumeration output is driver-materialized, like
  the reference's in-memory DFS).
- Bipartite matching: 2-colour by BFS parity, then unit-capacity max-flow.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from memgraph_spark.algos.components import weakly_connected_components
from memgraph_spark.operators.expand import bfs
from memgraph_spark.session import empty_frame


def _forest_parents(graph, forest):
    """Root every tree of the spanning forest at its component's min node
    and BFS over it: returns (id, par, depth); par is null at roots. The
    trees are disjoint, so one multi-source `bfs` keyed by (start, id)
    visits each node exactly once."""
    both = forest.unionByName(forest.select(F.col("dst").alias("src"),
                                            F.col("src").alias("dst")))
    wcc = weakly_connected_components(forest)
    roots = wcc.groupBy("component").agg(F.min("id").alias("id")).select("id")
    return (bfs(graph, roots, max_hops=None, edges_df=both)
            .select("id", "par", F.col("dist").alias("depth")))


def _canonical_edges(graph, etype):
    e = (graph.edge(etype) if etype else graph.all_edges()).select("src", "dst")
    return (e.select(F.least("src", "dst").alias("src"),
                     F.greatest("src", "dst").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .dropDuplicates())


def bridges(graph, etype: str | None = None):
    """Returns (node_from, node_to) bridge edges (undirected view)."""
    from memgraph_spark.algos.dag import spanning_tree
    und = _canonical_edges(graph, etype).persist()
    forest = spanning_tree(graph, etype=etype) \
        .select(F.least("src", "dst").alias("src"),
                F.greatest("src", "dst").alias("dst")).persist()
    non_tree = und.join(forest, ["src", "dst"], "left_anti")
    tags = non_tree.withColumn("val", F.xxhash64("src", "dst"))
    marks = (tags.select(F.col("src").alias("id"), "val")
             .unionByName(tags.select(F.col("dst").alias("id"), "val"))
             .groupBy("id").agg(F.bit_xor("val").alias("mark")))
    tree = _forest_parents(graph, forest)
    node = (tree.join(marks, "id", "left")
            .select("id", "par", "depth",
                    F.coalesce("mark", F.lit(0)).alias("sub"))
            .persist())
    max_d = node.agg(F.max("depth")).first()[0] or 0
    # bottom-up: fold each layer's subtree XOR into its parents
    sub = node.filter(F.col("depth") == max_d) \
        .select("id", "par", "depth", "sub").localCheckpoint(eager=True)
    out = [sub]
    for d in range(max_d - 1, -1, -1):
        child_xor = (sub.groupBy(F.col("par").alias("id"))
                     .agg(F.bit_xor("sub").alias("cx")))
        sub = (node.filter(F.col("depth") == d)
               .join(child_xor, "id", "left")
               .select("id", "par", "depth",
                       F.expr("sub ^ coalesce(cx, 0L)").alias("sub"))
               .localCheckpoint(eager=True))
        out.append(sub)
    allsub = out[0]
    for df in out[1:]:
        allsub = allsub.unionByName(df)
    res = (allsub.filter(F.col("par").isNotNull() & (F.col("sub") == 0))
           .select(F.col("par").alias("node_from"), F.col("id").alias("node_to")))
    und.unpersist()
    return res


def fundamental_cycles(graph, etype: str | None = None,
                       max_cycles: int = 1000):
    """cycles.get parity: (cycle_id, node) rows, one cycle per non-tree edge
    closed through the spanning forest."""
    from memgraph_spark.algos.dag import spanning_tree
    und = _canonical_edges(graph, etype)
    forest = spanning_tree(graph, etype=etype) \
        .select(F.least("src", "dst").alias("src"),
                F.greatest("src", "dst").alias("dst")).persist()
    non_tree = und.join(forest, ["src", "dst"], "left_anti") \
        .limit(max_cycles).collect()
    if not non_tree:
        return empty_frame(graph.spark, "cycle_id long, node long")
    tree = _forest_parents(graph, forest)
    par = {r.id: (r.par, r.depth) for r in tree.collect()}
    rows = []
    for cid, e in enumerate(non_tree):
        u_path, v_path = [e.src], [e.dst]
        while par[u_path[-1]][1] > par[v_path[-1]][1]:
            u_path.append(par[u_path[-1]][0])
        while par[v_path[-1]][1] > par[u_path[-1]][1]:
            v_path.append(par[v_path[-1]][0])
        while u_path[-1] != v_path[-1]:
            u_path.append(par[u_path[-1]][0])
            v_path.append(par[v_path[-1]][0])
        cycle = u_path + v_path[-2::-1]  # u..lca + reversed(v..lca w/o lca)
        rows += [(cid, int(n)) for n in cycle]
    return graph.spark.createDataFrame(rows, "cycle_id long, node long")


def bipartite_matching(graph, etype: str | None = None) -> int:
    """bipartite_matching.max parity: the maximum matching size, or 0 when
    the graph is not bipartite (reference checks bipartiteness first)."""
    from memgraph_spark.algos.maxflow import max_flow
    und = _canonical_edges(graph, etype).persist()
    if und.isEmpty():
        return 0
    wcc = weakly_connected_components(und)
    roots = wcc.groupBy("component").agg(F.min("id").alias("id")).select("id")
    dist = bfs(graph, roots, etype, direction="both", max_hops=None)
    color = dist.select("id", (F.col("dist") % 2).alias("c")).dropDuplicates(["id"])
    bad = (und.join(color.withColumnRenamed("c", "c_src")
                    .withColumnRenamed("id", "src"), "src")
           .join(color.withColumnRenamed("c", "c_dst")
                 .withColumnRenamed("id", "dst"), "dst")
           .filter(F.col("c_src") == F.col("c_dst")))
    if not bad.isEmpty():
        return 0
    hi = und.agg(F.greatest(F.max("src"), F.max("dst"))).first()[0]
    s_id, t_id = hi + 1, hi + 2
    left = color.filter(F.col("c") == 0).select("id")
    right = color.filter(F.col("c") == 1).select("id")
    # orient matching edges left->right; unit capacities throughout
    mid = (und.join(left.withColumnRenamed("id", "src"), "src", "left_semi")
           .unionByName(und.join(right.withColumnRenamed("id", "src"), "src",
                                 "left_semi")
                        .select(F.col("dst").alias("src"),
                                F.col("src").alias("dst"))))
    net = (left.select(F.lit(s_id).alias("src"), F.col("id").alias("dst"))
           .unionByName(mid.select("src", "dst"))
           .unionByName(right.select(F.col("id").alias("src"),
                                     F.lit(t_id).alias("dst")))
           .withColumn("weight", F.lit(1.0)))

    class _Net:
        spark = graph.spark

        def all_edges(self, properties=None):
            return net

        def edge(self, _):
            return net

    total, _, _ = max_flow(_Net(), s_id, t_id, "weight",
                           max_augmentations=100_000)
    und.unpersist()
    return int(round(total))


def union_find_connected(graph, nodes1, nodes2, mode: str = "pairwise",
                         etype: str | None = None):
    """union_find.connected parity: (node1, node2, connected) rows."""
    spark = graph.spark
    e = (graph.edge(etype) if etype else graph.all_edges()).select("src", "dst")
    wcc = weakly_connected_components(e)
    n1 = [int(x) for x in (nodes1 if isinstance(nodes1, (list, tuple)) else [nodes1])]
    n2 = [int(x) for x in (nodes2 if isinstance(nodes2, (list, tuple)) else [nodes2])]
    if mode == "cartesian":
        pairs = [(a, b) for a in n1 for b in n2]
    else:
        pairs = list(zip(n1, n2))
    pdf = spark.createDataFrame(pairs, "node1 long, node2 long")
    c1 = wcc.select(F.col("id").alias("node1"), F.col("component").alias("c1"))
    c2 = wcc.select(F.col("id").alias("node2"), F.col("component").alias("c2"))
    return (pdf.join(c1, "node1", "left").join(c2, "node2", "left")
            .select("node1", "node2",
                    (F.col("c1").isNotNull() & (F.col("c1") == F.col("c2")))
                    .alias("connected")))
